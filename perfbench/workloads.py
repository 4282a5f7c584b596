"""Seeded corpora, the engine chains each workload drives, and the
correctness gate. Every chain is composed from the engine's public
functions; nothing here changes engine code.

Both workloads read a Dirty-ER corpus from
``fixtures.distributed_dirty_docs``: each entity is emitted 1-4 times with
ids ``D:<eid>:<copy>``, so the gold pairs are the same-``eid`` pairs.

* ``dirty_batch`` runs ``plans.stages.materialized_er_pipeline``, the
  production path: every stage commits to the stage store, so writes happen
  beside reads, and ``score_pairs`` routes to the arrow engine. A Zipf-like
  vocabulary (``rare_token_rate=0.8``) keeps blocks small.
* ``skewed_bucketed`` runs the chain of ``scripts/scale_job.py`` from public
  functions with ``score_pairs(engine="bucketed")``, over a head-heavy
  vocabulary (``rare_token_rate=0.3``): big blocks give ~20x the candidate
  pairs per doc. The bucketed engine stands in for the over-broadcast-cap
  regime that ``auto`` only selects past ~1M docs. It bypasses the stage
  store and the arrow engine.

At these sizes a pass is dominated by per-job Spark overhead: clustering
(~40 jobs) and blocking take about two thirds of it on a 4-core host.

The streaming layer has no workload of its own (one micro-batch costs ~6 s
of fixed Spark overhead, so a run of 21 epochs does not fit a run's time
limit). The traced run of ``dirty_batch`` drives it instead:
``run_stream`` feeds ``streaming.continuous.run_continuous_er`` a small
corpus of the same vocabulary, staged one file per epoch by a hash of
``doc_id`` so duplicates arrive in different epochs, and ``stream_gate``
checks its final assignment against the batch chain on that corpus.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from continuousfilteringbenchmark_spark import fixtures
from continuousfilteringbenchmark_spark.eval import evaluate_clusters, evaluate_pairs
from continuousfilteringbenchmark_spark.operators import blocking as B
from continuousfilteringbenchmark_spark.operators.cluster import clusters_with_singletons
from continuousfilteringbenchmark_spark.plans.bucketed import write_token_buckets
from continuousfilteringbenchmark_spark.plans.pipeline import ERConfig, docs_with_tokens, score_pairs
from continuousfilteringbenchmark_spark.plans.stages import StageStore, materialized_er_pipeline
from continuousfilteringbenchmark_spark.streaming import continuous
from continuousfilteringbenchmark_spark.streaming.staging import stage_microbatch

# corpus recipe per workload: entity count and the share of title tokens
# drawn from the rare (long-tail) vocabulary
RECIPES = {
    "dirty_batch": {"entities": 4000, "rare_token_rate": 0.8},
    "skewed_bucketed": {"entities": 3000, "rare_token_rate": 0.3},
}
# bucket count of the token store; scale_job.py's sizing rule
# (~30k docs per bucket, at least 8) gives 8 at these corpus sizes
N_BUCKETS = 8
MIN_PAIR_F1 = 0.99
# the streaming layer's corpus (run in dirty_batch's traced run) and the
# number of micro-batches it arrives in
STREAM_RECIPE = {"entities": 150, "rare_token_rate": 0.8}
STREAM_EPOCHS = 6
ENGINE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "continuousfilteringbenchmark_spark")

# run_stage name -> benchmark layer name
STAGE_LAYERS = {
    "tokened": "tokenize",
    "blocks": "blocking",
    "candidate_pairs": "pairs",
    "matches": "score",
    "clusters": "cluster",
}


def recipe_key(workload: str, seed: int, recipe: dict) -> str:
    """Cache key of one corpus: the workload, seed and sizes plus the source
    of the generator, so a changed recipe never maps to an old entry."""
    src = "".join(
        inspect.getsource(f)
        for f in (fixtures.distributed_dirty_docs, fixtures._make_entity, fixtures._spans_for)
    )
    blob = json.dumps([workload, seed, recipe, src], sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:24]


def engine_key() -> str:
    """Hash of the engine's sources: output counts are only comparable
    between runs of the same engine code."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(ENGINE_DIR)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                h.update(os.path.relpath(path, ENGINE_DIR).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:24]


def write_corpus(spark: SparkSession, path: str, seed: int, recipe: dict, partitions: int) -> None:
    fixtures.distributed_dirty_docs(
        spark,
        recipe["entities"],
        seed=seed,
        partitions=partitions,
        rare_token_rate=recipe["rare_token_rate"],
    ).write.mode("overwrite").parquet(path)


def corpus_digest(docs: DataFrame) -> str:
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "spans")).alias("h"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


def gold_pairs(docs: DataFrame) -> DataFrame:
    """Same-entity pairs, from the fixture's ``D:<eid>:<copy>`` ids."""
    ids = docs.select("doc_id", F.split("doc_id", ":")[1].alias("eid"))
    left = ids.select(F.col("doc_id").alias("left_id"), "eid")
    right = ids.select(F.col("doc_id").alias("right_id"), "eid")
    return (
        left.join(right, "eid")
        .where(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
    )


@dataclass
class Output:
    blocks: DataFrame
    candidates: DataFrame
    matches: DataFrame
    clusters: DataFrame  # materialized (doc_id, cluster_id)


@dataclass
class TracedStageStore(StageStore):
    """A ``StageStore`` whose stage commits run inside tracer spans, so each
    ``run_stage`` call is the span of its layer."""

    tracer: object = None

    def run_stage(self, stage, build, partition_by=None):
        with self.tracer.span(STAGE_LAYERS[stage]):
            return super().run_stage(stage, build, partition_by)

    def run_token_bucket_stage(self, tokened, n_buckets=32, stage="token_buckets"):
        with self.tracer.span("bucketize"):
            return super().run_token_bucket_stage(tokened, n_buckets, stage)


def run_dirty_batch(spark: SparkSession, docs: DataFrame, tracer, work: str) -> Output:
    # a fresh store root and run_id: a reused one resumes from the
    # committed tables and times nothing
    store = TracedStageStore(spark, os.path.join(work, "stages"), uuid.uuid4().hex, tracer)
    out = materialized_er_pipeline(docs, store, ERConfig(), clean_clean=False)
    return Output(out["blocks"], out["candidate_pairs"], out["matches"], out["clusters"])


def run_skewed_bucketed(spark: SparkSession, docs: DataFrame, tracer, work: str) -> Output:
    cfg = ERConfig()
    with tracer.span("tokenize"):
        tokened = docs_with_tokens(docs, side_from_prefix=False).persist()
        tokened.count()
    with tracer.span("blocking"):
        blocks = B.build_blocks(tokened, B.BlockingConfig(clean_clean=False)).persist()
        blocks.count()
    with tracer.span("pairs"):
        pairs = B.pairs_from_blocks(blocks, clean_clean=False).persist()
        pairs.count()
    # a fresh bucket-store path per pass: a reused one lets the
    # workers' parsed-bucket LRU serve the previous pass's buckets
    bucket_path = os.path.join(work, "buckets")
    with tracer.span("bucketize"):
        write_token_buckets(tokened, bucket_path, N_BUCKETS)
    with tracer.span("bucketed"):
        matches = (
            score_pairs(
                pairs, tokened, cfg.sim, min_score=cfg.threshold,
                engine="bucketed", bucket_path=bucket_path,
            )
            .select("left_id", "right_id")
            .persist()
        )
        matches.count()
    clusters_path = os.path.join(work, "clusters")
    with tracer.span("cluster"):
        clusters_with_singletons(
            tokened.select("doc_id"), matches, input_distinct=True
        ).write.parquet(clusters_path)
    return Output(blocks, pairs, matches, spark.read.parquet(clusters_path))


CHAINS = {"dirty_batch": run_dirty_batch, "skewed_bucketed": run_skewed_bucketed}


def output_counts(out: Output) -> dict[str, int]:
    return {
        "block_rows": out.blocks.count(),
        "candidates": out.candidates.count(),
        "matches": out.matches.count(),
        "clusters": out.clusters.select("cluster_id").distinct().count(),
    }


def gate(out: Output, gold: DataFrame, expected: dict | None) -> tuple[dict, float, list[str]]:
    """Correctness gate of one pass: pairwise F1 of the final clusters
    against gold, and the candidate/match/cluster counts against the counts
    an earlier pass of the same seed produced. Returns (counts, f1,
    problems); the pass fails when ``problems`` is non-empty."""
    counts = output_counts(out)
    f1 = evaluate_clusters(out.clusters, gold).f1
    problems = []
    if f1 < MIN_PAIR_F1:
        problems.append(f"pair_f1 {f1:.4f} < {MIN_PAIR_F1}")
    if expected is not None and counts != expected:
        problems.append(f"counts {counts} != {expected} of an earlier pass")
    return counts, f1, problems


def candidate_quality(out: Output, gold: DataFrame) -> tuple[float, float]:
    """(PC, PQ) of the candidate pairs against gold."""
    m = evaluate_pairs(out.candidates, gold)
    return m.pc, m.pq


def write_stream_input(spark: SparkSession, path: str, seed: int, partitions: int) -> DataFrame:
    """Stage the streaming corpus under ``path/in`` as ``STREAM_EPOCHS``
    arrival-ordered files, split by a hash of ``doc_id``; returns the whole
    corpus."""
    write_corpus(spark, os.path.join(path, "corpus"), seed, STREAM_RECIPE, partitions)
    docs = spark.read.parquet(os.path.join(path, "corpus"))
    epoch = F.pmod(F.xxhash64("doc_id"), F.lit(STREAM_EPOCHS))
    in_dir = os.path.join(path, "in")
    os.makedirs(in_dir)
    for e in range(STREAM_EPOCHS):
        stage_microbatch(docs.where(epoch == e), in_dir, e + 1)
    return docs


def batch_chain_clusters(docs: DataFrame) -> DataFrame:
    """The batch equivalent of ``run_continuous_er``: standard blocking
    without purging or filtering, Jaccard >= 0.5, connected components
    with singletons."""
    tokened = docs_with_tokens(docs, side_from_prefix=False)
    blocks = B.build_blocks(
        tokened, B.BlockingConfig(purge=False, filter_ratio=None, clean_clean=False)
    )
    pairs = B.pairs_from_blocks(blocks, clean_clean=False)
    matches = score_pairs(pairs, tokened, "jaccard", min_score=0.5).select("left_id", "right_id")
    return clusters_with_singletons(tokened.select("doc_id"), matches, input_distinct=True)


def run_stream(spark: SparkSession, input_dir: str, work: str, tracer) -> DataFrame:
    """``run_continuous_er`` over the staged files, one file per epoch,
    with every ``incremental_cc_merge`` call inside a ``cc_merge`` span."""
    merge = continuous.incremental_cc_merge

    def traced_merge(assignment, new_edges):
        with tracer.span("cc_merge"):
            return merge(assignment, new_edges)

    continuous.incremental_cc_merge = traced_merge
    try:
        return continuous.run_continuous_er(spark, input_dir, work, numeric_ids=False)
    finally:
        continuous.incremental_cc_merge = merge


def stream_gate(assignment: DataFrame, want: set, gold: DataFrame) -> tuple[float, list[str]]:
    """The streaming layer's gate: its final assignment equals ``want``,
    the batch chain's (doc_id, cluster_id) rows, and its pairwise F1
    against gold is >= ``MIN_PAIR_F1``. Returns (f1, problems)."""
    got = {(r.doc_id, r.cluster_id) for r in assignment.collect()}
    f1 = evaluate_clusters(assignment, gold).f1
    problems = []
    if got != want:
        problems.append(f"stream assignment differs from the batch chain on "
                        f"{len(got ^ want)} (doc_id, cluster_id) rows")
    if f1 < MIN_PAIR_F1:
        problems.append(f"stream pair_f1 {f1:.4f} < {MIN_PAIR_F1}")
    return f1, problems
