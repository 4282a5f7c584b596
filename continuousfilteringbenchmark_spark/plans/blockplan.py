"""Block cleaning and pair emission on the driver whenever the rows fit.

``er_pipeline`` and ``materialized_er_pipeline`` build their blocks and
candidate pairs here instead of calling ``operators.blocking``'s
``build_blocks``/``pairs_from_blocks`` directly. Every collect is bounded by
one constant, ``_LOCAL_MAX_ROWS`` (1M), and each size is known exactly, or
bounded from above, before the rows move. Three regimes:

* **driver rows** — ``standard`` builder, at most 1M postings. One narrow
  aggregate bounds the exploded postings from above (the sum of the token
  set sizes), then ``(doc_id, side, tokens)`` is collected once as Arrow.
  numpy computes the distinct ``(block_key, side, doc_id)`` rows, the
  per-key stats, the purge cutoff (``blocking.purging_threshold`` on the
  same histogram) and ``block_filtering``'s ranks by ``(comparisons,
  block_key)`` with Spark's HALF_UP ``round``. The blocks come back as an
  Arrow-backed DataFrame. Pair emission likewise ``count()``s its input and
  collects it at most 1M rows, applies the salt-cap drop (logging the same
  ``pairs_from_blocks__salt_cap_dropped`` row) and, when the pre-dedupe
  emission (Σ C(n, 2) or Σ n_A·n_B over the kept keys, known from the group
  sizes) is within the cap too, emits the distinct pairs with vectorized
  numpy. No distinct, window or self-join shuffle runs.
* **driver stats** — more postings or emitted pairs than that, at most 1M
  distinct keys. One collect of the per-key stats
  (``_block_stats(...).limit(cap + 1)``) serves both purging and filtering:
  the cutoff is ``purging_threshold`` on a histogram grouped on the driver,
  and the kept ``(block_key, comparisons)`` rows go back as a local
  DataFrame into one broadcast join that feeds the filtering window. Pair
  emission collects only the keys over the salt cap; with none, no guard
  join runs.
* **Spark** — over 1M keys, ``block_purging``/``block_filtering`` and the
  guarded ``pairs_from_blocks`` run unchanged, after one wasted probe pass.

All three give the same blocks and the same pairs. On the driver, strings
are compared through integer codes whose order is Spark's binary string
order (Arrow sorts strings by their UTF-8 bytes). The ``standard`` builder
reads the ``tokens`` column (``docs_with_tokens``' own
``word_token_set("text")``) instead of tokenizing the text again. Other
builders and non-string or null ids take the stats regime. The cap bounds
the driver: SCALE.md ("Blocking") gives the wall time and driver memory
measured at it, and it is the same number as the other driver caps.

The code lives beside the pipelines rather than in ``operators/blocking.py``
because that module backs most of the registry's queries: changing it would
put more queries under re-certification than the certified prefix holds.
Once a certification round resets the base, this fast path belongs in
``blocking.build_blocks``/``blocking.pairs_from_blocks`` and this module
goes away.
"""

from __future__ import annotations

from dataclasses import replace

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..operators import blocking as B

# row cap of every driver collect here: the postings, the pre-dedupe pair
# emission and the per-key stats (see the module docstring); tests patch it
# to force the other regimes
_LOCAL_MAX_ROWS = 1_000_000
# postings above which pair emission drops a key: blocking.pairs_from_blocks'
# salt_cap default
_SALT_CAP = 10_000


def _codes(arr: pa.ChunkedArray) -> tuple[pa.Array, np.ndarray]:
    """(values, codes): the distinct strings of ``arr`` in Spark's binary
    order, and each element's position among them, so comparing codes
    compares the strings as Spark does."""
    values = pc.unique(arr)
    values = values.take(pc.sort_indices(values))
    return values, pc.index_in(arr, value_set=values).to_numpy().astype(np.int64)


def _half_up(x: np.ndarray) -> np.ndarray:
    """Spark's ``round(x)`` (HALF_UP) for x >= 0; ``x - floor(x)`` is exact."""
    f = np.floor(x)
    return f + (x - f >= 0.5)


def _blocks_on_driver(tokened: DataFrame, cfg: B.BlockingConfig, schema) -> DataFrame | None:
    """The standard builder's purged and filtered blocks from one collect of
    ``(doc_id, side, tokens)``, or None when the postings may exceed
    ``_LOCAL_MAX_ROWS`` or an id is not a non-null string."""
    types = tokened.schema
    tokens_t = types["tokens"].dataType
    if (
        types["doc_id"].dataType != StringType()
        or types["side"].dataType != StringType()
        or not isinstance(tokens_t, ArrayType)
        or tokens_t.elementType != StringType()
    ):
        return None
    # never below the exploded row count; size() of a null array is <= 0
    bound = tokened.select(F.sum(F.greatest(F.size("tokens"), F.lit(0)))).first()[0] or 0
    if bound > _LOCAL_MAX_ROWS:
        return None
    tbl = tokened.where(F.size("tokens") > 0).select("doc_id", "side", "tokens").toArrow()
    if tbl.column("doc_id").null_count or tbl.column("side").null_count:
        return None

    tokens = tbl.column("tokens").combine_chunks()
    flat = pc.list_flatten(tokens)
    valid = pc.fill_null(pc.not_equal(flat, ""), False)
    row = pc.list_parent_indices(tokens).to_numpy()[valid.to_numpy(zero_copy_only=False)]
    key_values, key = _codes(flat.filter(valid))
    side_values, side = _codes(tbl.column("side"))
    doc_values, doc = _codes(tbl.column("doc_id"))
    # entity = distinct (side, doc_id); distinct block rows sorted by key
    n_doc = max(len(doc_values), 1)
    ents, ent = np.unique(side * n_doc + doc, return_inverse=True)
    n_ent = max(len(ents), 1)
    rkey, rent = np.divmod(np.unique(key * n_ent + ent[row]), n_ent)

    # blocking._block_stats
    n_keys = len(key_values)
    size = np.bincount(rkey, minlength=n_keys)
    if cfg.clean_clean:
        row_side = side_values.take(ents[rent] // n_doc)
        n_a, n_b = (
            np.bincount(rkey[pc.equal(row_side, s).to_numpy(zero_copy_only=False)], minlength=n_keys)
            for s in "AB"
        )
        comparisons = n_a * n_b
    else:
        comparisons = size * (size - 1) // 2
    if cfg.purge:
        hist = (
            pd.DataFrame({"comparisons": comparisons, "block_size": size})
            .groupby("comparisons", as_index=False)
            .agg(n_blocks=("block_size", "size"), assignments=("block_size", "sum"))
        )
        kept = (comparisons <= B.purging_threshold(hist, cfg.purge_smoothing))[rkey]
        rkey, rent = rkey[kept], rent[kept]
    if cfg.filter_ratio is not None:
        # block_filtering: per entity, blocks ranked by (comparisons,
        # block_key) ascending, the first round(n * ratio) kept
        order = np.lexsort((rkey, comparisons[rkey], rent))
        rkey, rent = rkey[order], rent[order]
        start = np.flatnonzero(np.r_[True, rent[1:] != rent[:-1]])
        n = np.diff(np.r_[start, len(rent)])
        rank = np.arange(1, len(rent) + 1) - np.repeat(start, n)
        kept = rank <= np.repeat(_half_up(n * cfg.filter_ratio), n)
        rkey, rent = rkey[kept], rent[kept]
    out = pa.table(
        {
            "block_key": key_values.take(rkey),
            "side": side_values.take(ents[rent] // n_doc),
            "doc_id": doc_values.take(ents[rent] % n_doc),
        }
    )
    return tokened.sparkSession.createDataFrame(out, schema)


def build_blocks(tokened: DataFrame, cfg: B.BlockingConfig) -> DataFrame:
    """``blocking.build_blocks`` over ``docs_with_tokens`` output, cleaned in
    the first regime of the module docstring that fits."""
    if cfg.builder == "standard":
        blocks = B.block_table(tokened, F.col("tokens"))
    else:
        blocks = B.build_blocks(tokened, replace(cfg, purge=False, filter_ratio=None))
    if not cfg.purge and cfg.filter_ratio is None:
        return blocks
    if cfg.builder == "standard":
        local = _blocks_on_driver(tokened, cfg, blocks.schema)
        if local is not None:
            return local
    stats = B._block_stats(blocks, cfg.clean_clean).limit(_LOCAL_MAX_ROWS + 1).toPandas()
    if len(stats) > _LOCAL_MAX_ROWS:
        if cfg.purge:
            blocks = B.block_purging(blocks, cfg.clean_clean, cfg.purge_smoothing)
        if cfg.filter_ratio is not None:
            blocks = B.block_filtering(blocks, cfg.filter_ratio, cfg.clean_clean)
        return blocks
    if cfg.purge:
        hist = stats.groupby("comparisons", as_index=False).agg(
            n_blocks=("block_key", "size"), assignments=("block_size", "sum")
        )
        stats = stats[stats["comparisons"] <= B.purging_threshold(hist, cfg.purge_smoothing)]
    keep = tokened.sparkSession.createDataFrame(
        stats[["block_key", "comparisons"]], "block_key string, comparisons long"
    )
    if cfg.filter_ratio is None:
        return blocks.join(F.broadcast(keep.select("block_key")), "block_key", "left_semi")
    # block_filtering's ranking, over the stats already in hand
    ranked = blocks.join(F.broadcast(keep), "block_key")
    w = Window.partitionBy("side", "doc_id").orderBy(F.col("comparisons").asc(), F.col("block_key").asc())
    per_doc = Window.partitionBy("side", "doc_id")
    return (
        ranked.withColumn("_rank", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(per_doc))
        .where(F.col("_rank") <= F.round(F.col("_n") * cfg.filter_ratio).cast("int"))
        .select("block_key", "side", "doc_id")
    )


def _key_pairs(lkey, ldoc, rkey, rdoc, n_keys):
    """Every (left doc, right doc) pair sharing a key; ``rkey`` is sorted."""
    rcount = np.bincount(rkey, minlength=n_keys)
    c = rcount[lkey]
    left = np.repeat(np.arange(len(lkey)), c)
    offset = np.arange(len(left)) - np.repeat(np.cumsum(c) - c, c)
    right = (np.cumsum(rcount) - rcount)[lkey[left]] + offset
    return ldoc[left], rdoc[right]


def _pairs_on_driver(blocks: DataFrame, clean_clean: bool, store) -> DataFrame | None:
    """``blocking.pairs_from_blocks`` with the default salt cap, from one
    collect of the block table, or None when the block rows or the
    pre-dedupe emission exceed ``_LOCAL_MAX_ROWS`` or a column is not a
    non-null string."""
    cols = ("block_key", "side", "doc_id")
    if any(blocks.schema[c].dataType != StringType() for c in cols):
        return None
    if blocks.count() > _LOCAL_MAX_ROWS:
        return None
    tbl = blocks.select(*cols).toArrow()
    if any(tbl.column(c).null_count for c in cols):
        return None

    key_values, key = _codes(tbl.column("block_key"))
    doc_values, doc = _codes(tbl.column("doc_id"))
    n_keys, n_doc = len(key_values), max(len(doc_values), 1)
    postings = np.bincount(key, minlength=n_keys)
    over = postings > _SALT_CAP
    kept = ~over[key]

    def members(mask):
        # distinct (key, doc) rows sorted by key, then by doc in binary order
        return np.divmod(np.unique(key[mask] * n_doc + doc[mask]), n_doc)

    if clean_clean:
        side = tbl.column("side")
        lkey, ldoc = members(kept & pc.equal(side, "A").to_numpy(zero_copy_only=False))
        rkey, rdoc = members(kept & pc.equal(side, "B").to_numpy(zero_copy_only=False))
        emitted = int(np.bincount(lkey, minlength=n_keys) @ np.bincount(rkey, minlength=n_keys))
    else:
        lkey, ldoc = rkey, rdoc = members(kept)
        m = np.bincount(lkey, minlength=n_keys)
        emitted = int((m * (m - 1) // 2).sum())
    if emitted > _LOCAL_MAX_ROWS:
        return None
    if over.any() and store is not None:
        store.append_metric("pairs_from_blocks__salt_cap_dropped", rows=int(postings[over].sum()))
    left, right = _key_pairs(lkey, ldoc, rkey, rdoc, n_keys)
    if not clean_clean:
        lower = left < right
        left, right = left[lower], right[lower]
    pairs = np.unique(left * n_doc + right)
    out = pa.table(
        {"left_id": doc_values.take(pairs // n_doc), "right_id": doc_values.take(pairs % n_doc)}
    )
    nullable = blocks.schema["doc_id"].nullable
    schema = StructType([StructField(c, StringType(), nullable) for c in out.column_names])
    return blocks.sparkSession.createDataFrame(out, schema)


def pairs_from_blocks(
    blocks: DataFrame,
    clean_clean: bool,
    store=None,
    salt_threshold: int | None = None,
) -> DataFrame:
    """``blocking.pairs_from_blocks`` with its default ``salt_cap``, in the
    first regime of the module docstring that fits. Dropped keys are logged
    to ``store`` as ``pairs_from_blocks__salt_cap_dropped``, as the guarded
    call does; ``salt_threshold`` shapes only the Spark join."""
    local = _pairs_on_driver(blocks, clean_clean, store)
    if local is not None:
        return local
    over = (
        blocks.groupBy("block_key")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > _SALT_CAP)
        .limit(_LOCAL_MAX_ROWS + 1)
        .toPandas()
    )
    if len(over) > _LOCAL_MAX_ROWS:
        return B.pairs_from_blocks(
            blocks,
            clean_clean,
            salt_cap=_SALT_CAP,
            store=store,
            salt_threshold=salt_threshold,
        )
    if len(over):
        if store is not None:
            store.append_metric(
                "pairs_from_blocks__salt_cap_dropped", rows=int(over["_n"].sum())
            )
        dropped = blocks.sparkSession.createDataFrame(over[["block_key"]], "block_key string")
        blocks = blocks.join(F.broadcast(dropped), "block_key", "left_anti")
    return B.pairs_from_blocks(
        blocks, clean_clean, salt_cap=None, salt_threshold=salt_threshold
    )
