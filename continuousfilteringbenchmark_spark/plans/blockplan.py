"""Block cleaning and pair emission with the block statistics computed once.

``er_pipeline`` and ``materialized_er_pipeline`` build their blocks and
candidate pairs here instead of calling ``operators.blocking``'s
``build_blocks``/``pairs_from_blocks`` directly. Two regimes, split on the
number of distinct block keys:

* **at most ``_LOCAL_MAX_KEYS`` keys (1M)** — one bounded collect of the
  per-key stats (``_block_stats(...).limit(cap + 1)``, the probe pattern of
  ``score_pairs`` and ``connected_components``). The purge cutoff is
  ``blocking.purging_threshold`` on a histogram grouped from those rows on
  the driver: the same function on the same histogram, so the same cutoff.
  Purging removes whole blocks, so the kept rows are still the exact stats
  ``block_filtering`` ranks by; they go back as a local DataFrame into one
  broadcast join, and filtering is left with only its window shuffle. The
  salt-cap guard of pair emission is one bounded collect of the keys over
  the cap; when there are none (the usual case) no guard join runs and no
  metric row is written, since nothing is dropped.
* **over the cap** — ``block_purging``/``block_filtering`` and the guarded
  ``pairs_from_blocks`` run unchanged. The probe costs them one extra pass.

Both regimes give the same blocks and the same pairs, and the standard
builder reads the ``tokens`` column (``docs_with_tokens``' own
``word_token_set("text")``) instead of tokenizing the text again. The cap
bounds the driver: ~1M stat rows of short keys measured ~80 MB of pandas
and +110 MB of driver RSS (SCALE.md, "Blocking"), and it is the same number
as the other driver caps.

The code lives beside the pipelines rather than in ``operators/blocking.py``
because that module backs most of the registry's queries: changing it would
put more queries under re-certification than the certified prefix holds.
Once a certification round resets the base, this fast path belongs in
``blocking.build_blocks``/``blocking.pairs_from_blocks`` and this module
goes away.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import blocking as B

# distinct-key cap of the driver-side stats (see the module docstring);
# tests patch it to force the Spark path
_LOCAL_MAX_KEYS = 1_000_000
# postings above which pair emission drops a key: blocking.pairs_from_blocks'
# salt_cap default
_SALT_CAP = 10_000


def build_blocks(tokened: DataFrame, cfg: B.BlockingConfig) -> DataFrame:
    """``blocking.build_blocks`` over ``docs_with_tokens`` output, with the
    block stats collected once under ``_LOCAL_MAX_KEYS`` keys."""
    if cfg.builder == "standard":
        blocks = B.block_table(tokened, F.col("tokens"))
    else:
        blocks = B.build_blocks(tokened, replace(cfg, purge=False, filter_ratio=None))
    if not cfg.purge and cfg.filter_ratio is None:
        return blocks
    stats = B._block_stats(blocks, cfg.clean_clean).limit(_LOCAL_MAX_KEYS + 1).toPandas()
    if len(stats) > _LOCAL_MAX_KEYS:
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


def pairs_from_blocks(
    blocks: DataFrame,
    clean_clean: bool,
    store=None,
    salt_threshold: int | None = None,
) -> DataFrame:
    """``blocking.pairs_from_blocks`` with its default ``salt_cap``, the
    guard decided by one bounded collect of the keys over the cap. Dropped
    keys are logged to ``store`` as ``pairs_from_blocks__salt_cap_dropped``,
    as the guarded call does."""
    over = (
        blocks.groupBy("block_key")
        .agg(F.count("*").alias("_n"))
        .where(F.col("_n") > _SALT_CAP)
        .limit(_LOCAL_MAX_KEYS + 1)
        .toPandas()
    )
    if len(over) > _LOCAL_MAX_KEYS:
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
