"""End-to-end ER pipeline (SURVEY.md §7 M1 slice).

    docs -> agg_text -> tokens -> blocking -> purging -> (filtering) ->
    comparison propagation -> set-sim scoring -> threshold ->
    connected components -> clusters

This is the reference's Parameter-Free Workflow
(``blockingWorkflows/.../schemaAgnostic/ParameterFreeWorkflow.java:52-61``:
StandardBlocking + ComparisonsBasedBlockPurging + ComparisonPropagation)
extended with the north rule's scoring + transitive clustering.

Stage materialization for resumability lives in plans/stages.py; this module
is the pure logical composition.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datamodel import agg_text
from ..functions import tokenize as tk
from ..functions.similarity import set_similarity
from ..operators import blocking as B
from ..operators.cluster import clusters_with_singletons
from . import blockplan


@dataclass
class ERConfig:
    blocking: B.BlockingConfig = field(default_factory=B.BlockingConfig)
    sim: str = "jaccard"
    threshold: float = 0.5
    # salted-key skew splitting for pair emission (north rule): keys with
    # more than this many postings split into salted sub-blocks; None = AQE
    # + purging only (see operators.blocking.pairs_from_blocks)
    salt_threshold: int | None = None


def docs_with_tokens(docs: DataFrame, side_from_prefix: bool = True) -> DataFrame:
    """docs(doc_id, spans) -> (doc_id, side, text, tokens).

    ``side`` is derived from the doc_id prefix ('A:'/'B:') for Clean-Clean
    corpora; Dirty corpora get a constant side.
    """
    side = (
        F.when(F.col("doc_id").startswith("A:"), F.lit("A")).otherwise(F.lit("B"))
        if side_from_prefix
        else F.lit("A")
    )
    return docs.select(
        "doc_id",
        side.alias("side"),
        agg_text("spans").alias("text"),
    ).withColumn("tokens", tk.word_token_set("text"))


def _np_set_similarity(c, a, b, kind: str):
    """Numpy float64 mirror of ``functions.similarity.set_similarity`` — the
    same IEEE-double expression over exact integer operands, so scores are
    bit-identical to the SQL path (int->double is exact below 2^53; +,*,/ and
    sqrt are correctly rounded in both runtimes)."""
    import numpy as np

    if kind == "cosine":
        return c / np.sqrt(a * b)
    if kind == "dice":
        return 2.0 * c / (a + b)
    if kind == "jaccard":
        return c / (a + b - c)
    raise ValueError(f"unknown similarity {kind!r}")


# bitset-kernel caps (see _score_pairs_arrow): max 64-bit words per doc
# (vocabulary <= 4096) and max bitset-buffer bytes; tests override these
# to force each kernel
_BITSET_MAX_WORDS = 64
_BITSET_MAX_BYTES = 256 * 1024 * 1024
# default broadcast cap in docs: the token dictionary of at most this many
# docs may be collected to the driver and broadcast (score_pairs'
# broadcast_rows; materialized_er_pipeline's bucket-store gate)
_BROADCAST_ROWS = 1_000_000
# broadcast-dictionary budget in BYTES (8 B per hashed token + per-doc id
# overhead) — the row-counted cap alone would admit 1M docs x 100 tokens
# ~ 800+ MB on the driver
_DICT_MAX_BYTES = 256 * 1024 * 1024
_DICT_DOC_OVERHEAD = 48  # id string + offset slot per doc, estimated

# token-table probe results keyed by (applicationId, semanticHash(hashed),
# cap): repeated score_pairs constructions over the same token table (bench
# iterations, pipeline stages sharing one tokenizer) pay the probe job ONCE.
# FIFO-bounded (a long session scoring many distinct tables must not grow
# it without bound). Staleness note: the key is the PLAN, not the data — if
# files under an identical plan grow between calls the stats undershoot;
# the collect in _score_pairs_arrow is therefore independently bounded by
# max_rows, so a stale 'under cap' can never trigger an unbounded collect.
_probe_cache: dict[tuple, dict] = {}
_PROBE_CACHE_MAX = 64

# sentinel: _score_pairs_arrow found the COLLECTED dictionary over its
# row/byte caps (vs None = only the bitset caps failed). Distinguishes
# "table proven too big to broadcast" from "dictionary fine, kernel not".
_OVER_CAP = object()


def _token_stats(hashed: DataFrame, cap: int) -> dict:
    """ONE bounded Spark job over at most ``cap + 1`` docs of the hashed
    token table: doc count (bounded), total token count, approximate
    vocabulary. Cached per (session, plan, input-file set) so
    re-constructions are free: the file-set component means the common
    growth mode — new files appended under the same path, identical plan —
    re-probes instead of serving stale (undershooting) stats. In-place file
    rewrites still alias to the old entry; the arrow path re-checks its
    caps on the actual collect regardless (``_OVER_CAP``)."""
    try:
        files_sig = hash(tuple(sorted(hashed.inputFiles())))
    except Exception:
        files_sig = 0
    key = (
        hashed.sparkSession.sparkContext.applicationId,
        hashed.semanticHash(),
        files_sig,
        cap,
    )
    hit = _probe_cache.get(key)
    if hit is not None:
        return hit
    row = (
        hashed.limit(cap + 1)
        .select(F.posexplode_outer("_h").alias("_pos", "_t"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.coalesce(F.col("_pos"), F.lit(0)) == 0, 1)), F.lit(0)
            ).alias("n_docs"),
            F.count("_t").alias("n_tokens"),
            F.approx_count_distinct("_t").alias("v_est"),
        )
        .collect()[0]
    )
    stats = {
        "n_docs": int(row["n_docs"]),
        "n_tokens": int(row["n_tokens"]),
        "v_est": int(row["v_est"]),
    }
    stats["dict_bytes"] = stats["n_tokens"] * 8 + stats["n_docs"] * _DICT_DOC_OVERHEAD
    _probe_cache[key] = stats
    while len(_probe_cache) > _PROBE_CACHE_MAX:
        _probe_cache.pop(next(iter(_probe_cache)))
    return stats


def _hash_tokens(tokened: DataFrame) -> DataFrame:
    """(doc_id, _h): the token sets as hashed 64-bit ids, the encoding every
    score engine reads."""
    return tokened.select("doc_id", tk.hash_token_set(F.col("tokens")).alias("_h"))


def _under_broadcast_cap(hashed: DataFrame, broadcast_rows: int = _BROADCAST_ROWS) -> bool:
    """The broadcast-cap policy: the hashed token table fits the arrow
    engine's driver dictionary (at most ``broadcast_rows`` docs and
    ``_DICT_MAX_BYTES``). Decided on the cached ``_token_stats`` probe, so
    asking again about the same table costs no job."""
    stats = _token_stats(hashed, broadcast_rows)
    return stats["n_docs"] <= broadcast_rows and stats["dict_bytes"] <= _DICT_MAX_BYTES


def _score_pairs_arrow(
    pairs: DataFrame,
    hashed: DataFrame,
    sim: str,
    min_score: float | None,
    allow_sort: bool = True,
    max_rows: int | None = None,
    strict: bool = False,
) -> DataFrame | None:
    """Arrow-batched pair scorer over a broadcast token dictionary.

    The token table is collected once (caller gates on the row/byte caps)
    into three flat numpy arrays (ids, concatenated token ids, offsets) and
    broadcast to the python workers; only (left_id, right_id) crosses Arrow.
    Per batch the intersection counts are computed fully vectorized: gather
    both sides' hashed-token runs, lexsort by (pair, token), count adjacent
    duplicates (each side is a set, so a duplicate == one common token).
    No per-row python — the batch cost is two numpy sort passes over the
    batch's tokens (north rule: "vectorized pandas/Arrow UDFs computing
    batched Jaccard ... scores", no per-row Python).

    Pairs referencing a doc_id absent from the token table are DROPPED —
    the same semantics as the jvm engine's inner join (engine choice can
    never change the result).

    ``allow_sort=False``: if the exact vocabulary busts the bitset caps,
    return None instead of falling back to the sort kernel — the caller
    (auto routing) then builds the jvm plan, which beats the sort kernel
    on large vocabularies.

    ``max_rows``: when set, the dictionary collect is itself bounded to
    ``max_rows + 1`` rows and the byte cap is re-checked on the ACTUAL
    collected sizes — the probe stats that routed here are cached per plan
    and can undershoot if the underlying files grew, so the caps are
    enforced again on ground truth. On a bust: return ``_OVER_CAP`` when
    ``strict=False`` (auto falls back to the jvm join AND must clear any
    broadcast hint — the table is proven over the cap), raise when
    ``strict=True`` (the caller explicitly demanded arrow under a cap).
    A plain ``None`` return means only the bitset caps failed — the
    dictionary itself fit, so the table is still safely broadcastable.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = pairs.sparkSession
    if max_rows is None:
        rows = hashed.collect()
    else:
        rows = hashed.limit(max_rows + 1).collect()
        actual_bytes = (
            sum(len(r[1] or ()) for r in rows) * 8 + len(rows) * _DICT_DOC_OVERHEAD
        )
        if len(rows) > max_rows or actual_bytes > _DICT_MAX_BYTES:
            if strict:
                raise ValueError(
                    f"engine='arrow' token dictionary busts its caps on the "
                    f"collected data ({len(rows)} rows / ~{actual_bytes} bytes; "
                    f"caps {max_rows} rows / {_DICT_MAX_BYTES} bytes) — the "
                    "table grew past the probed stats; use engine='jvm' or "
                    "broadcast_rows=None to accept an unbounded collect"
                )
            return _OVER_CAP
    n_docs = len(rows)
    ids = [r[0] for r in rows]
    arrs = [np.asarray(r[1] or (), dtype=np.int64) for r in rows]
    lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=n_docs)
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)

    # rank-encode against the global vocabulary (known at dictionary-build
    # time): ranks are dense [0, V), which unlocks the two batch kernels
    vocab = np.unique(flat)
    V = max(int(vocab.size), 1)
    ranks = np.searchsorted(vocab, flat).astype(np.int64)
    W = (V + 63) // 64
    # mode choice: the bitset kernel is O(pairs x W) with no sort — it wins
    # while W stays small; past the caps the single-key sort kernel takes
    # over (this host: 65k-pair batch = ~4ms at W=1 vs ~2s sorted)
    use_bitset = W <= _BITSET_MAX_WORDS and n_docs * W * 8 <= _BITSET_MAX_BYTES
    if not use_bitset and not allow_sort:
        return None
    if use_bitset:
        bits = np.zeros(n_docs * W, dtype=np.uint64)
        word = np.repeat(np.arange(n_docs, dtype=np.int64) * W, lens) + (ranks >> 6)
        bitval = (np.uint64(1) << (ranks & 63).astype(np.uint64))
        order = np.argsort(word, kind="stable")
        ws, vs = word[order], bitval[order]
        starts = np.flatnonzero(np.r_[True, ws[1:] != ws[:-1]])
        if ws.size:
            bits[ws[starts]] = np.bitwise_or.reduceat(vs, starts)
        bits = bits.reshape(n_docs, W)
        payload = ("bitset", ids, bits, lens)
    else:
        payload = ("sort", ids, ranks, offsets, V)
    bc = spark.sparkContext.broadcast(payload)

    out_schema = StructType(
        [
            StructField("left_id", pairs.schema["left_id"].dataType),
            StructField("right_id", pairs.schema["right_id"].dataType),
            StructField("score", DoubleType()),
        ]
    )

    def batches(it):
        import numpy as np
        import pandas as pd

        mode, ids_, *rest = bc.value
        index = pd.Index(ids_)
        if mode == "bitset":
            bits_, doc_lens = rest
            popcnt = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
        else:
            ranks_, offsets_, v_ = rest
            doc_lens = np.diff(offsets_)
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            lv, rv = pdf["left_id"].values, pdf["right_id"].values
            li = index.get_indexer(lv)
            ri = index.get_indexer(rv)
            # pairs whose doc_id is absent from the token table are dropped —
            # identical to the jvm engine's inner join semantics
            present = (li >= 0) & (ri >= 0)
            if not present.all():
                lv, rv, li, ri = lv[present], rv[present], li[present], ri[present]
                n = len(lv)
                if n == 0:
                    continue
            lsz, rsz = doc_lens[li], doc_lens[ri]
            if min_score is not None:
                # exact upper bound: score is maximal at c = min(|A|,|B|) —
                # prune pairs that cannot pass before any intersection work
                m = np.minimum(lsz, rsz).astype(np.float64)
                keep = _np_set_similarity(m, lsz.astype(np.float64), rsz.astype(np.float64), sim) >= min_score
                if not keep.all():
                    lv, rv = lv[keep], rv[keep]
                    li, ri, lsz, rsz = li[keep], ri[keep], lsz[keep], rsz[keep]
                    n = len(lv)
                    if n == 0:
                        continue
            if mode == "bitset":
                common = popcnt[(bits_[li] & bits_[ri]).view(np.uint8)].sum(
                    axis=1, dtype=np.int64
                )
            else:
                # single-key sort: key = pair * V + token_rank; each side is a
                # set, so an adjacent duplicate == one common token
                idx2 = np.concatenate([li, ri])
                seg_len = np.concatenate([lsz, rsz])
                pid = np.repeat(np.concatenate([np.arange(n), np.arange(n)]), seg_len)
                cl = np.cumsum(seg_len)
                within = np.arange(cl[-1], dtype=np.int64) - np.repeat(cl - seg_len, seg_len)
                toks = ranks_[np.repeat(offsets_[idx2], seg_len) + within]
                key = pid * v_ + toks
                if n * v_ < 2**31:
                    key = key.astype(np.int32)  # 3x faster sort on this host
                key.sort()
                dup = key[1:] == key[:-1]
                common = np.bincount(
                    (key[1:][dup] // v_).astype(np.int64), minlength=n
                )
            score = _np_set_similarity(
                common.astype(np.float64), lsz.astype(np.float64), rsz.astype(np.float64), sim
            )
            if min_score is not None:
                keep = score >= min_score
                lv, rv, score = lv[keep], rv[keep], score[keep]
            yield pd.DataFrame({"left_id": lv, "right_id": rv, "score": score})

    return pairs.select("left_id", "right_id").mapInPandas(batches, out_schema)


def score_pairs(
    pairs: DataFrame,
    tokened: DataFrame,
    sim: str = "jaccard",
    broadcast_rows: int | None = _BROADCAST_ROWS,
    engine: str = "auto",
    min_score: float | None = None,
    bucket_path: str | None = None,
) -> DataFrame:
    """Score candidate (left_id, right_id) pairs with exact set similarity.

    Tokens ride as hashed 64-bit ids (``tk.hash_token_set``) — primitive
    long arrays instead of string arrays everywhere downstream.

    ``engine``:

    * ``"arrow"`` — broadcast-token-dictionary scorer (``_score_pairs_arrow``):
      only pair ids cross Arrow, intersection counts are batched numpy
      (lexsort + adjacent-duplicate count). Measured ~2x the jvm path at
      12.5M pairs / local[32] even before the min_score prefilter; requires
      the token table under ``broadcast_rows``.
    * ``"jvm"`` — join the token arrays onto the pairs and
      ``size(array_intersect(...))``. The generic pure-DataFrame path:
      beyond the broadcast cap it is two shuffle joins whose intermediate
      carries one token-array copy PER PAIR — measured 83 GB shuffle at 1M
      entities (BENCH/NOTES.md), which is why the over-cap default is the
      bucketed engine, not this.
    * ``"bucketed"`` — the scale path past the broadcast cap
      (``plans.bucketed.score_pairs_bucketed``): pairs shuffle by bucket-
      grid cell as bare id rows and each cell task reads its two token
      buckets side-band from the ``write_token_buckets`` store — no token
      bytes in any shuffle, no driver collect, no size caps. Requires
      ``bucket_path``.
    * ``"auto"`` — arrow under the cap (``_under_broadcast_cap``, the
      one cap policy, shared with ``plans.stages.materialized_er_pipeline``);
      beyond it, bucketed when ``bucket_path`` is given, else jvm. The
      stage-store pipeline commits its bucket table, and passes
      ``bucket_path``, only when that same test finds the table over the
      cap, so under the cap no bucket store is written.

    ``min_score``: when set, only pairs with score >= min_score are
    returned, and an exact size-bound prefilter (score at c = min(|A|,|B|)
    is the achievable maximum) prunes un-passable pairs BEFORE any
    intersection work — pure codegen in the jvm path, vectorized numpy in
    the arrow path.

    Probe budget (what runs at CONSTRUCTION time, before any action on the
    returned plan):

    * ``engine='jvm'`` — ZERO jobs; broadcast-vs-shuffle is left to AQE's
      runtime statistics (the session enables adaptive execution).
    * ``engine='auto'`` with a cap — ONE job, bounded to
      ``broadcast_rows + 1`` docs, computing (doc count, token count,
      approx vocabulary) in a single pass; cached per (session, token-table
      plan), so repeated constructions over the same table probe once.
      Auto additionally collects the dictionary when it picks arrow (that
      collect is the point of the arrow engine).
    * ``engine='arrow'`` with a cap — ZERO probe jobs: the dictionary
      collect is itself bounded to ``broadcast_rows + 1`` rows and raises
      on the ground-truth row/byte caps (strict mode) — a separate probe
      would be a duplicated scan answering the same question.
    * ``engine='arrow'`` with ``broadcast_rows=None`` — caller accepts an
      unbounded driver collect (no probe, no caps).

    Both caps are enforced in BYTES, not rows: the broadcast dictionary
    must fit ``_DICT_MAX_BYTES`` and the bitset buffer ``_BITSET_MAX_BYTES``.
    Under auto, if the exact vocabulary (known only after the collect)
    busts the bitset caps, the jvm plan is used — never the sort kernel,
    which loses to the jvm join at exactly those sizes.
    """
    if engine not in ("auto", "jvm", "arrow", "bucketed"):
        raise ValueError(
            f"unknown engine {engine!r} (one of auto/jvm/arrow/bucketed)"
        )
    if engine == "bucketed":
        if bucket_path is None:
            raise ValueError("engine='bucketed' requires bucket_path")
        from .bucketed import score_pairs_bucketed

        return score_pairs_bucketed(pairs, bucket_path, sim, min_score=min_score)
    hashed = _hash_tokens(tokened)

    hint_broadcast = False
    # explicit engine='arrow' with a cap needs NO separate probe job: the
    # dictionary collect below is itself bounded to max_rows + 1 and
    # strict=True raises on the ground-truth row/byte caps — a probe here
    # would be a duplicated scan answering the same question
    if engine == "auto":
        engine = "jvm"
        if broadcast_rows is not None:
            hint_broadcast = _under_broadcast_cap(hashed, broadcast_rows)
            stats = _token_stats(hashed, broadcast_rows)  # the cap test's cached probe
            w_est = (int(stats["v_est"] * 1.2) + 63) // 64
            if (
                hint_broadcast
                and w_est <= _BITSET_MAX_WORDS
                and stats["n_docs"] * w_est * 8 <= _BITSET_MAX_BYTES
            ):
                out = _score_pairs_arrow(
                    pairs, hashed, sim, min_score, allow_sort=False,
                    max_rows=broadcast_rows,
                )
                if out is _OVER_CAP:
                    # the probe's cached stats undershot: the actually
                    # collected dictionary busted the caps, so the table is
                    # proven over-cap — do NOT force-broadcast it below
                    hint_broadcast = False
                elif out is not None:
                    return out
        if not hint_broadcast and bucket_path is not None:
            # over the broadcast cap (or cap disabled) with a bucket store
            # available: the bucketed engine is the scale default — the jvm
            # two-shuffle join would move a token array per pair. Guarded on
            # string ids so auto can never silently change output types
            # (the bucketed engine emits string ids by contract).
            from pyspark.sql.types import StringType

            if isinstance(pairs.schema["left_id"].dataType, StringType):
                from .bucketed import score_pairs_bucketed

                return score_pairs_bucketed(
                    pairs, bucket_path, sim, min_score=min_score
                )
    if engine == "arrow":
        return _score_pairs_arrow(
            pairs, hashed, sim, min_score, allow_sort=True,
            max_rows=broadcast_rows, strict=True,
        )

    lt = hashed.select(
        F.col("doc_id").alias("left_id"),
        F.col("_h").alias("_ltok"),
        F.size("_h").alias("_lsz"),
    )
    rt = hashed.select(
        F.col("doc_id").alias("right_id"),
        F.col("_h").alias("_rtok"),
        F.size("_h").alias("_rsz"),
    )
    if hint_broadcast:
        lt, rt = F.broadcast(lt), F.broadcast(rt)
    scored = pairs.join(lt, "left_id").join(rt, "right_id")
    if min_score is not None:
        max_achievable = set_similarity(
            F.least("_lsz", "_rsz"), F.col("_lsz"), F.col("_rsz"), sim
        )
        scored = scored.where(max_achievable >= F.lit(min_score))
    scored = scored.withColumn(
        "_common", F.size(F.array_intersect("_ltok", "_rtok"))
    ).withColumn(
        "score", set_similarity(F.col("_common"), F.col("_lsz"), F.col("_rsz"), sim)
    )
    if min_score is not None:
        scored = scored.where(F.col("score") >= F.lit(min_score))
    return scored.select("left_id", "right_id", "score")


def er_pipeline(
    docs: DataFrame, cfg: ERConfig | None = None, clean_clean: bool = True
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every stage for materialization/tests.

    Keys: tokened, blocks, candidate_pairs, matches, clusters.

    Blocks and candidate pairs come from ``plans.blockplan``: under 1M
    postings and 1M emitted pairs they are computed on the driver, and past
    that the block stats are collected once for purging and filtering, so
    building the plan runs those bounded collects eagerly.
    """
    cfg = cfg or ERConfig()
    cfg.blocking.clean_clean = clean_clean
    tokened = docs_with_tokens(docs, side_from_prefix=clean_clean)
    blocks = blockplan.build_blocks(tokened, cfg.blocking)
    pairs = blockplan.pairs_from_blocks(blocks, clean_clean, salt_threshold=cfg.salt_threshold)
    # min_score pushes the threshold into the scorer (exact size-bound
    # prefilter before any intersection work)
    matches = score_pairs(pairs, tokened, cfg.sim, min_score=cfg.threshold)
    # matches are distinct by construction (B8 comparison propagation ends in
    # a pair distinct; scoring is 1-row-in-1-row-out)
    clusters = clusters_with_singletons(
        docs, matches.select("left_id", "right_id"), input_distinct=True
    )
    return {
        "tokened": tokened,
        "blocks": blocks,
        "candidate_pairs": pairs,
        "matches": matches,
        "clusters": clusters,
    }
