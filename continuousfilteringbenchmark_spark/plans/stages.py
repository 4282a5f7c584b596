"""Materialized, resumable pipeline stages with per-partition lineage +
metric rows (north rule).

Every stage of the ER pipeline commits to the stage store (Iceberg when the
runtime is present — sources/iceberg.py — else parquet under a run
directory) together with a ``metrics`` append::

    metrics(run_id, stage, partition_id, rows, wall_ms, committed_at_ms)

A commit costs only the stage's own write. The metric rows come from the
committed files' parquet footers, read on the driver with zero Spark jobs:
``partition_id`` is the write task (the ``NNNNN`` of Spark's
``part-NNNNN-…`` file names, summed over the files that task wrote, also
under ``partitionBy`` subdirectories) and the rows are appended as one small
parquet file written by pyarrow. ``run_stage`` reads the committed table
back with the Spark schema stored in those footers, so the read back runs
no schema-inference job either.

The ``token_buckets`` store (``plans.bucketed``) is committed only when the
token table is over the broadcast cap (``pipeline._under_broadcast_cap``),
i.e. only when ``score_pairs`` will read it; under the cap the arrow engine
scores from a broadcast dictionary and the store would be dead weight.

Resume: ``StageStore.run_stage`` short-circuits to the committed table when a
``_SUCCESS``-marked output for (run_id, stage) exists — re-running a failed
pipeline re-executes only the stages after the last committed snapshot.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections import Counter
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the metrics table, as written by the driver-side pyarrow writer
METRICS_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("wall_ms", pa.int64()),
        ("committed_at_ms", pa.int64()),
    ]
)
# Spark's data file names: part-<task partition id>-<job uuid>-c<file>...
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")
# footer key under which Spark's parquet writer stores the table's schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _scan_footers(path: str) -> tuple[dict[int, int], StructType | None]:
    """Row count per write task of a committed table, summed from its
    parquet footers, and the Spark schema stored in them — read on the
    driver, no Spark job. Walks ``partitionBy`` subdirectories and, like
    Spark's own listing, skips ``_``/``.``-prefixed entries."""
    counts: Counter = Counter()
    schema = None
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            m = _PART_FILE.match(name)
            if not m:
                continue
            md = pq.read_metadata(os.path.join(dirpath, name))
            counts[int(m.group(1))] += md.num_rows
            if schema is None and _SPARK_SCHEMA_KEY in (md.metadata or {}):
                schema = StructType.fromJson(json.loads(md.metadata[_SPARK_SCHEMA_KEY]))
    return dict(sorted(counts.items())), schema


@dataclass
class StageStore:
    spark: SparkSession
    root: str
    run_id: str

    def _path(self, stage: str) -> str:
        return os.path.join(self.root, self.run_id, stage)

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self._path(stage))

    def _write_metric_rows(self, stage: str, rows: dict[int, int], wall_ms: int) -> None:
        """Append ``{partition_id: rows}`` as one parquet file under
        ``_metrics``, written from the driver by pyarrow (no Spark job). The
        file appears under its final name only once complete: a hidden temp
        name is what Spark's reader skips."""
        metrics_dir = os.path.join(self.root, self.run_id, "_metrics")
        os.makedirs(metrics_dir, exist_ok=True)
        n = len(rows)
        table = pa.table(
            {
                "run_id": [self.run_id] * n,
                "stage": [stage] * n,
                "partition_id": list(rows),
                "rows": list(rows.values()),
                "wall_ms": [int(wall_ms)] * n,
                "committed_at_ms": [int(time.time() * 1000)] * n,
            },
            schema=METRICS_SCHEMA,
        )
        name = f"{stage}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(metrics_dir, "." + name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(metrics_dir, name))

    def _commit_metrics(self, stage: str, path: str, t0: float) -> StructType | None:
        """Append one metrics row per write task of the stage committed at
        ``path``; return its Spark schema from the footers (None if absent)."""
        wall_ms = int((time.time() - t0) * 1000)
        rows, schema = _scan_footers(path)
        self._write_metric_rows(stage, rows, wall_ms)
        return schema

    def append_metric(self, stage: str, rows: int, wall_ms: int = 0) -> None:
        """Append one scalar metrics row (partition_id = -1) — used for
        operator-level observability such as salt-cap drops, where silence
        would hide an answer-changing event."""
        self._write_metric_rows(stage, {-1: int(rows)}, wall_ms)

    def run_stage(
        self, stage: str, build: Callable[[], DataFrame], partition_by: list[str] | None = None
    ) -> DataFrame:
        """Execute-or-resume one stage. ``build`` is only called on a cache
        miss; the committed parquet is the stage's source of truth either way
        (downstream stages read the materialized table, cutting lineage)."""
        path = self._path(stage)
        if self.is_committed(stage):
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = build()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        schema = self._commit_metrics(stage, path, t0)
        # the footers' schema spares the read back its schema-inference job
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    def run_token_bucket_stage(
        self, tokened: DataFrame, n_buckets: int = 32, stage: str = "token_buckets"
    ) -> str:
        """Commit the write-time bucketed hashed-token layout
        (``plans.bucketed.write_token_buckets``) as a resumable stage and
        return its path. This is the production co-location contract past
        the broadcast cap: the scoring stage reads token payloads straight
        from these buckets, so no shuffle ever carries a token array
        regardless of corpus size. ``materialized_er_pipeline`` commits it
        only over the cap, where the bucketed engine reads it."""
        path = self._path(stage)
        if not self.is_committed(stage):
            from .bucketed import write_token_buckets

            t0 = time.time()
            write_token_buckets(tokened, path, n_buckets)
            self._commit_metrics(stage, path, t0)
        return path

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, self.run_id, "_metrics"))


def materialized_er_pipeline(
    docs: DataFrame,
    store: StageStore,
    cfg=None,
    clean_clean: bool = True,
    reference_config=None,
    n_buckets: int = 32,
) -> dict[str, DataFrame]:
    """The M1 pipeline with every stage committed + resumable.

    Stage graph: tokened -> blocks -> candidate_pairs -> matches -> clusters.

    The blocks and candidate_pairs stages build through ``plans.blockplan``:
    under 1M postings and 1M emitted pairs both are computed on the driver
    from one bounded collect each, and past that the block stats are
    collected once for purging and filtering. Pair emission logs a
    ``pairs_from_blocks__salt_cap_dropped`` metric row only when a key is
    dropped.

    ``reference_config``: a ``configs.ReferenceBlockingConfig`` (one of the
    reference's published tuned operating points, e.g.
    ``configs.from_reference('token_blocking', 'L2', 'D9')``). When given,
    the blocks stage runs the decoded builder/purging/filtering chain and
    the candidate stage the decoded weighting + comparison-cleaning pruner,
    instead of ``cfg.blocking`` + plain comparison propagation.
    """
    from ..plans.pipeline import (
        ERConfig,
        _hash_tokens,
        _under_broadcast_cap,
        docs_with_tokens,
        score_pairs,
    )
    from ..operators.cluster import clusters_with_singletons
    from . import blockplan

    cfg = cfg or ERConfig()
    cfg.blocking.clean_clean = clean_clean

    tokened = store.run_stage(
        "tokened", lambda: docs_with_tokens(docs, side_from_prefix=clean_clean)
    )
    if reference_config is not None:
        from .. import configs as C

        blocks = store.run_stage(
            "blocks",
            lambda: C.build_blocks_from_reference(tokened, reference_config, clean_clean),
        )
        pairs = store.run_stage(
            "candidate_pairs",
            lambda: C.candidate_pairs_from_reference(
                blocks, reference_config, clean_clean
            ).select("left_id", "right_id"),
        )
    else:
        blocks = store.run_stage(
            "blocks", lambda: blockplan.build_blocks(tokened, cfg.blocking)
        )
        pairs = store.run_stage(
            "candidate_pairs",
            lambda: blockplan.pairs_from_blocks(
                blocks,
                clean_clean,
                store=store,
                salt_threshold=getattr(cfg, "salt_threshold", None),
            ),
        )

    def build_matches() -> DataFrame:
        # the write-time doc_id bucket store is read only by the bucketed
        # engine, which score_pairs' auto routing picks only over the
        # broadcast cap; the cap test reuses score_pairs' own cached probe
        # job, so under the cap nothing is written and no job is added
        bucket_path = None
        if not _under_broadcast_cap(_hash_tokens(tokened)):
            bucket_path = store.run_token_bucket_stage(tokened, n_buckets=n_buckets)
        return score_pairs(
            pairs, tokened, cfg.sim, min_score=cfg.threshold, bucket_path=bucket_path
        )

    matches = store.run_stage("matches", build_matches)
    # comparison propagation ends in a pair distinct and scoring emits at
    # most one row per pair; the reference pruners' output is not known to
    # be distinct
    clusters = store.run_stage(
        "clusters",
        lambda: clusters_with_singletons(
            docs,
            matches.select("left_id", "right_id"),
            input_distinct=reference_config is None,
        ),
    )
    return {
        "tokened": tokened,
        "blocks": blocks,
        "candidate_pairs": pairs,
        "matches": matches,
        "clusters": clusters,
    }
