"""Bucket-grid co-located pair scoring — the over-broadcast-cap scale path.

The generic ``score_pairs`` engines stop scaling at ~1M docs: the arrow
engine needs the whole token dictionary on the driver (row/byte caps), and
the jvm fallback shuffles the join intermediate that carries ONE COPY OF A
TOKEN ARRAY PER CANDIDATE PAIR — measured 83 GB of shuffle scratch at 1M
entities, ~150 GB projected at 2M (BENCH/NOTES.md round-4). Bucketing the
token *scans* would not fix that: the dominant term is the per-pair array
payload of the second join's left input, not the dictionary sides.

This module removes token arrays from the shuffle entirely:

* **Write time** (``write_token_buckets``): the hashed token table is laid
  out on storage partitioned by ``bucket = pmod(xxhash64(doc_id), n)`` —
  one directory per bucket, one file per directory. This is the write-time
  ``bucketBy(doc_id)`` layout of the production design expressed as plain
  partitioned parquet, so it needs no metastore and re-registers for free
  on resume (the bucket function is the engine's own, recomputable on any
  id).
* **Score time** (``score_pairs_bucketed``): every candidate pair belongs
  to exactly one grid cell ``(bucket(left_id), bucket(right_id))`` of the
  n x n bucket grid. Pairs are shuffled BY CELL — two ids and a long per
  row, no arrays — and each cell task reads the two bucket files it needs
  straight from storage (local disk here; an object store on a real
  cluster) and scores its pairs with the same vectorized numpy kernel as
  the arrow engine. A per-worker LRU keeps hot buckets parsed across
  tasks.

Shuffle volume is therefore ``O(|pairs|)`` id rows — at the 2M-entity
anchor that is ~25 GB of pair ids instead of ~150 GB of array payloads —
and storage reads are ``O(n)`` per bucket file (each of the n grid cells
in a row/column re-reads it), i.e. ``n * corpus_tokens`` bytes total,
columnar-compressed. Choosing ``n ~ sqrt(pairs / target_pairs_per_cell)``
bounds both the per-cell pandas group and the read amplification; at
10^12 docs the same layout holds with n in the tens of thousands — cell
reads stay at ``2 * corpus / n`` and nothing ever broadcasts or collects.

Score parity: intersection counts are exact integers and the final score
is the one IEEE division of ``_np_set_similarity`` — bit-identical to the
jvm (``array_intersect``) and arrow engines, which the equivalence tests
assert (tests/test_bucketed.py).

Reference context: this is the engine's answer to the reference's largest
scalability points (Dirty-ER 10K..2M entities,
``joins/src/scalabilityAnalysis/SchemaAgnosticEJoin.java:48-49``), which
the single-node reference runs in hours at 2M.
"""

from __future__ import annotations

import json
import os
import uuid
from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tokenize as tk
from .pipeline import _np_set_similarity

_META_NAME = "_bucket_meta.json"

# pairs scored per numpy kernel invocation inside a cell task: bounds the
# gathered-token working set (~rows x avg_tokens x 8 B) no matter how many
# pairs a cell holds, so the n_buckets choice is a throughput knob, not a
# correctness/memory cliff
_KERNEL_CHUNK = 65536

# per-worker parsed-bucket LRU: python workers are reused across tasks, so
# a row of grid cells sharing a left bucket pays the read+parse once.
# 16 entries x (corpus/n) docs stays tens of MB for any sane n. Keyed by
# (path, generation, bucket): every write of a store draws a fresh
# generation, so a store overwritten at the same path never hits the
# previous content's entries.
_BUCKET_CACHE_MAX = 16
_bucket_cache: "OrderedDict[tuple, tuple]" = OrderedDict()


def _bucket_of(col, n_buckets: int):
    """The engine's own bucket function — recomputable on any id column,
    always over the STRING form of the id so token-store and pair sides
    can never disagree on type."""
    return F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(n_buckets))


def write_token_buckets(
    tokened: DataFrame, path: str, n_buckets: int = 32
) -> dict:
    """Materialize (doc_id, tokens) as the bucketed hashed-token store.

    Layout: ``path/bucket=<b>/part-*.parquet`` with columns
    (doc_id string, _h array<long>) — ``_h`` is ``tk.hash_token_set``, the
    same encoding every score engine uses. ``repartition(n, bucket)``
    before the write puts each bucket's rows in one task, so each bucket
    directory holds one file and a cell task's read is one contiguous
    columnar scan. Returns the meta dict it also persists next to the
    data (consumed by ``score_pairs_bucketed`` at plan-build time); its
    ``generation`` is a fresh uuid per write, the store's cache identity."""
    hashed = tokened.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tk.hash_token_set(F.col("tokens")).alias("_h"),
    ).withColumn("bucket", _bucket_of("doc_id", n_buckets).cast("int"))
    (
        hashed.repartition(n_buckets, "bucket")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )
    meta = {"n_buckets": int(n_buckets), "version": 1, "generation": uuid.uuid4().hex}
    with open(os.path.join(path, _META_NAME), "w") as f:
        json.dump(meta, f)
    return meta


def read_meta(path: str) -> dict:
    with open(os.path.join(path, _META_NAME)) as f:
        return json.load(f)


def _load_bucket(
    path: str, generation: str | None, bucket: int, cache_max: int = _BUCKET_CACHE_MAX
):
    """(pd.Index ids, int64 offsets, int64 flat tokens) of one bucket of the
    store written as ``generation``, LRU-cached per worker process. A
    bucket no doc hashed into has no directory — that is the empty
    dictionary, not an error."""
    import numpy as np
    import pandas as pd

    key = (path, generation, bucket)
    hit = _bucket_cache.get(key)
    if hit is not None:
        _bucket_cache.move_to_end(key)
        return hit
    dirp = os.path.join(path, f"bucket={bucket}")
    if not os.path.isdir(dirp):
        entry = (
            pd.Index([], dtype=object),
            np.zeros(1, dtype=np.int64),
            np.empty(0, dtype=np.int64),
        )
    else:
        import pyarrow.parquet as pq

        t = pq.read_table(dirp, columns=["doc_id", "_h"])
        ids = pd.Index(t.column("doc_id").to_pandas())
        col = t.column("_h").combine_chunks()
        if col.null_count == 0:
            flat = col.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            offsets = col.offsets.to_numpy().astype(np.int64, copy=False)
        else:  # defensive: null token arrays behave as empty sets
            arrs = [
                np.asarray(a if a is not None else (), dtype=np.int64)
                for a in col.to_pylist()
            ]
            lens = np.fromiter((a.size for a in arrs), dtype=np.int64, count=len(arrs))
            offsets = np.zeros(len(arrs) + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            flat = (
                np.concatenate(arrs) if arrs else np.empty(0, dtype=np.int64)
            )
        entry = (ids, offsets, flat)
    _bucket_cache[key] = entry
    while len(_bucket_cache) > cache_max:
        _bucket_cache.popitem(last=False)
    return entry


def _score_chunk(lv, rv, lbuc, rbuc, sim, min_score):
    """Score one chunk of a cell's pairs against the two parsed buckets.
    Same math as the arrow engine's sort kernel: vectorized gather of both
    sides' sorted hashed-token runs, per-batch dense token ranks, one
    single-key sort, adjacent-duplicate count = intersection size."""
    import numpy as np

    lids, loff, lflat = lbuc
    rids, roff, rflat = rbuc
    li = lids.get_indexer(lv)
    ri = rids.get_indexer(rv)
    # pairs whose doc_id is absent from the token store are dropped —
    # identical to the jvm engine's inner-join semantics
    present = (li >= 0) & (ri >= 0)
    if not present.all():
        lv, rv, li, ri = lv[present], rv[present], li[present], ri[present]
    n = len(lv)
    if n == 0:
        return None
    llen, rlen = np.diff(loff), np.diff(roff)
    lsz, rsz = llen[li], rlen[ri]
    if min_score is not None:
        # exact upper bound: score is maximal at c = min(|A|,|B|)
        m = np.minimum(lsz, rsz).astype(np.float64)
        keep = (
            _np_set_similarity(
                m, lsz.astype(np.float64), rsz.astype(np.float64), sim
            )
            >= min_score
        )
        if not keep.all():
            lv, rv, li, ri = lv[keep], rv[keep], li[keep], ri[keep]
            lsz, rsz = lsz[keep], rsz[keep]
            n = len(lv)
            if n == 0:
                return None

    def gather(idx, sizes, off, flat):
        cl = np.cumsum(sizes)
        total = int(cl[-1]) if n else 0
        within = np.arange(total, dtype=np.int64) - np.repeat(cl - sizes, sizes)
        return flat[np.repeat(off[idx], sizes) + within]

    toks = np.concatenate([gather(li, lsz, loff, lflat), gather(ri, rsz, roff, rflat)])
    pid = np.concatenate([np.repeat(np.arange(n), lsz), np.repeat(np.arange(n), rsz)])
    _, ranks = np.unique(toks, return_inverse=True)
    v = int(ranks.max()) + 1 if ranks.size else 1
    key = pid * v + ranks
    if n * v < 2**31:
        key = key.astype(np.int32)
    key.sort()
    dup = key[1:] == key[:-1]
    common = np.bincount((key[1:][dup] // v).astype(np.int64), minlength=n)
    score = _np_set_similarity(
        common.astype(np.float64), lsz.astype(np.float64), rsz.astype(np.float64), sim
    )
    if min_score is not None:
        keep = score >= min_score
        lv, rv, score = lv[keep], rv[keep], score[keep]
    return lv, rv, score


def score_pairs_bucketed(
    pairs: DataFrame,
    bucket_path: str,
    sim: str = "jaccard",
    min_score: float | None = None,
    kernel_chunk: int | None = None,
    cache_max: int | None = None,
) -> DataFrame:
    """Score candidate (left_id, right_id) pairs against a
    ``write_token_buckets`` store with NO token bytes in any shuffle.

    Plan contract (asserted by tests/test_bucketed.py): the physical plan
    contains exactly one Exchange — the hash partitioning of
    (left_id, right_id, _cell) rows by cell — and the token store never
    appears in the plan at all; cell tasks read their two bucket files
    side-band, the bucket-wise analogue of a broadcast that needs no
    driver collect and no size cap. Output schema and score bits are
    identical to ``score_pairs``'s engines on the same input.
    """
    meta = read_meta(bucket_path)
    n = int(meta["n_buckets"])
    generation = meta.get("generation")  # None: a store written without one
    out_schema = "left_id string, right_id string, score double"
    path = bucket_path
    # resolved at PLAN-BUILD time so the values ride into the closure by
    # value (module globals would re-resolve on the worker's own import)
    chunk = int(kernel_chunk or _KERNEL_CHUNK)
    cmax = int(cache_max or _BUCKET_CACHE_MAX)

    def score_cell(key, pdf):
        import numpy as np
        import pandas as pd

        cell = int(key[0])
        lb, rb = divmod(cell, n)
        lbuc = _load_bucket(path, generation, lb, cmax)
        rbuc = lbuc if rb == lb else _load_bucket(path, generation, rb, cmax)
        outs = []
        lvals = pdf["left_id"].values
        rvals = pdf["right_id"].values
        for lo in range(0, len(pdf), chunk):
            res = _score_chunk(
                lvals[lo : lo + chunk],
                rvals[lo : lo + chunk],
                lbuc,
                rbuc,
                sim,
                min_score,
            )
            if res is not None:
                outs.append(
                    pd.DataFrame(
                        {"left_id": res[0], "right_id": res[1], "score": res[2]}
                    )
                )
        if not outs:
            return pd.DataFrame(
                {
                    "left_id": np.empty(0, dtype=object),
                    "right_id": np.empty(0, dtype=object),
                    "score": np.empty(0, dtype=np.float64),
                }
            )
        return pd.concat(outs, ignore_index=True)

    cells = pairs.select(
        F.col("left_id").cast("string").alias("left_id"),
        F.col("right_id").cast("string").alias("right_id"),
    ).withColumn(
        "_cell",
        (_bucket_of("left_id", n) * n + _bucket_of("right_id", n)).cast("long"),
    )
    return cells.groupBy("_cell").applyInPandas(score_cell, out_schema)
