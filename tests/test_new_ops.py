"""Round-1 widening: EJS weights, cross-polytope LSH, extended suffix
blocking, streaming==batch equivalence, and stage-store resumability."""

import math
import os

import pytest
from pyspark.sql import functions as F

from continuousfilteringbenchmark_spark.operators import blocking as B
from continuousfilteringbenchmark_spark.operators import metablocking as MB


@pytest.fixture(scope="module")
def toy(spark):
    rows = [
        ("b1", "A", "A1"), ("b1", "B", "B1"), ("b1", "B", "B2"),
        ("b2", "A", "A1"), ("b2", "B", "B1"),
        ("b3", "A", "A2"), ("b3", "B", "B2"),
        ("b4", "A", "A1"), ("b4", "A", "A2"), ("b4", "B", "B1"), ("b4", "B", "B2"),
    ]
    df = spark.createDataFrame(rows, "block_key string, side string, doc_id string")
    df.cache().count()
    return df


def test_ejs_hand_computed(spark, toy):
    w = {(r.left_id, r.right_id): r.weight for r in MB.weighted_pairs(toy, "EJS").collect()}
    # pair graph: (A1,B1) (A1,B2) (A2,B2) (A2,B1) -> V=4; every deg = 2
    # JS(A1,B1) = 3/(3+3-3) = 1.0 -> EJS = 1.0 * log10(4/2)^2
    want = 1.0 * math.log10(2.0) ** 2
    assert abs(w[("A1", "B1")] - want) < 1e-12


def test_blast_prune_matches_blast(spark, toy):
    direct = {(r.left_id, r.right_id) for r in MB.blast(toy, 0.35).collect()}
    via = {
        (r.left_id, r.right_id)
        for r in MB.blast_prune(MB.weighted_pairs(toy, "X2"), 0.35).collect()
    }
    assert direct == via and direct


def test_extended_suffix_blocking_keys_and_cap(spark):
    docs = spark.createDataFrame(
        [("1", "A", "abcdefg"), ("2", "A", "abcdefg"), ("3", "A", "zzzzzz")],
        "doc_id string, side string, text string",
    )
    bt = B.extended_suffix_arrays_blocking(docs, min_len=6, max_frequency=10)
    keys_1 = {r.block_key for r in bt.where(F.col("doc_id") == "1").collect()}
    # substrings of 'abcdefg' with len >= 6: abcdef, bcdefg, abcdefg
    assert keys_1 == {"abcdef", "bcdefg", "abcdefg"}
    # frequency cap: with max_frequency=1 the shared keys of docs 1/2 vanish
    capped = B.extended_suffix_arrays_blocking(docs, min_len=6, max_frequency=1)
    assert {r.block_key for r in capped.collect()} == {"zzzzzz"}


def test_crosspolytope_identical_vectors_cobucket(spark):
    from continuousfilteringbenchmark_spark.operators.lsh import (
        crosspolytope_bands,
        lsh_candidates,
    )

    rows = [
        ("a", [1.0, 0.0, 0.0, 0.0]),
        ("b", [2.0, 0.0, 0.0, 0.0]),  # same direction as a (cosine 1.0)
        ("c", [0.0, 0.0, 0.0, -3.0]),
    ]
    vecs = spark.createDataFrame(rows, "doc_id string, vec array<double>")
    bands = crosspolytope_bands(vecs, n_tables=4, n_rotations=2, proj_dim=4, dim=4)
    pairs = {(r.left_id, r.right_id) for r in lsh_candidates(bands).collect()}
    assert ("a", "b") in pairs
    # determinism across partitioning (seeded rotations, no wall-clock)
    bands2 = crosspolytope_bands(vecs.repartition(3), n_tables=4, n_rotations=2, proj_dim=4, dim=4)
    got1 = {(r.doc_id, r.band, r.bucket) for r in bands.collect()}
    got2 = {(r.doc_id, r.band, r.bucket) for r in bands2.collect()}
    assert got1 == got2


def test_streaming_incremental_equals_batch(spark, tmp_path, dirty):
    from continuousfilteringbenchmark_spark.datamodel import agg_text
    from continuousfilteringbenchmark_spark.streaming.incremental import (
        run_incremental_blocking,
    )

    input_dir = str(tmp_path / "docs")
    # two writes -> at least two files, exercising the stream-static index join
    half = dirty.docs.where(F.crc32(F.col("doc_id")) % 2 == 0)
    other = dirty.docs.where(F.crc32(F.col("doc_id")) % 2 != 0)
    half.coalesce(1).write.mode("append").parquet(input_dir)
    other.coalesce(1).write.mode("append").parquet(input_dir)

    n, pairs_dir = run_incremental_blocking(spark, input_dir, str(tmp_path / "run"))
    got = {
        (r.left_id, r.right_id)
        for r in spark.read.parquet(pairs_dir).distinct().collect()
    }
    blocks = B.standard_blocking(
        dirty.docs.select("doc_id", agg_text("spans").alias("text")).withColumn(
            "side", F.lit("A")
        )
    )
    want = {
        (r.left_id, r.right_id)
        for r in B.pairs_from_blocks(blocks, clean_clean=False, salt_cap=None).collect()
    }
    assert got == want


_STAGES = {"tokened", "blocks", "candidate_pairs", "matches", "clusters"}


def _assert_metric_rows_match_tables(store, stages):
    """One metrics row per write task: per stage the rows sum to the
    committed table's count, and the partition ids are distinct and >= 0."""
    m = store.metrics()
    assert {r.stage for r in m.select("stage").distinct().collect()} == stages
    for stage in stages:
        rows = m.where(F.col("stage") == stage).collect()
        ids = [r.partition_id for r in rows]
        assert len(ids) == len(set(ids)) and min(ids) >= 0, (stage, ids)
        assert sum(r.rows for r in rows) == store.read(stage).count(), stage


@pytest.fixture(scope="module")
def under_cap_run(spark, dirty, tmp_path_factory):
    from continuousfilteringbenchmark_spark.plans.stages import (
        StageStore,
        materialized_er_pipeline,
    )

    store = StageStore(spark, str(tmp_path_factory.mktemp("stages")), "run1")
    return store, materialized_er_pipeline(dirty.docs, store, clean_clean=False)


def test_stage_store_resume_and_metrics(spark, dirty, under_cap_run):
    from continuousfilteringbenchmark_spark.plans.stages import materialized_er_pipeline

    store, res = under_cap_run
    n_clusters = res["clusters"].count()
    assert store.is_committed("clusters")

    # under the broadcast cap scoring takes the arrow engine, so the bucket
    # store it would never read is not written
    _assert_metric_rows_match_tables(store, _STAGES)
    assert not os.path.exists(store._path("token_buckets"))
    assert store.metrics().where(F.col("wall_ms") < 0).count() == 0

    # resume: drop the final stage marker, re-run -> earlier stages are read
    # back (not recomputed), final stage rebuilt, same result
    os.remove(os.path.join(store._path("clusters"), "_SUCCESS"))
    res2 = materialized_er_pipeline(dirty.docs, store, clean_clean=False)
    assert res2["clusters"].count() == n_clusters


def test_stage_store_over_cap_commits_buckets(spark, dirty, tmp_path, monkeypatch, under_cap_run):
    """Over the broadcast cap the token_buckets stage is committed, with its
    metrics rows, and scoring routes to the bucketed engine; the matches
    equal the under-cap (arrow) run's."""
    from continuousfilteringbenchmark_spark.plans import bucketed as BK
    from continuousfilteringbenchmark_spark.plans import pipeline as P
    from continuousfilteringbenchmark_spark.plans.stages import (
        StageStore,
        materialized_er_pipeline,
    )

    monkeypatch.setattr(P, "_DICT_MAX_BYTES", 0)
    scored_from = []
    real = BK.score_pairs_bucketed

    def spy(pairs, bucket_path, *args, **kwargs):
        scored_from.append(bucket_path)
        return real(pairs, bucket_path, *args, **kwargs)

    monkeypatch.setattr(BK, "score_pairs_bucketed", spy)
    store = StageStore(spark, str(tmp_path / "stages"), "over")
    materialized_er_pipeline(dirty.docs, store, clean_clean=False)

    assert store.is_committed("token_buckets")
    assert scored_from == [store._path("token_buckets")]
    _assert_metric_rows_match_tables(store, _STAGES | {"token_buckets"})

    def rows(df):
        return sorted((r.left_id, r.right_id, r.score) for r in df.collect())

    assert rows(store.read("matches")) == rows(under_cap_run[0].read("matches"))

    # resume with matches committed: the bucket store is neither checked
    # nor built
    def unexpected(*args, **kwargs):
        raise AssertionError("token_buckets touched on resume")

    monkeypatch.setattr(store, "run_token_bucket_stage", unexpected)
    os.remove(os.path.join(store._path("clusters"), "_SUCCESS"))
    materialized_er_pipeline(dirty.docs, store, clean_clean=False)
    assert store.is_committed("clusters")


def test_run_stage_job_budget(spark, tmp_path):
    """A stage commit costs exactly the Spark jobs of its own write: the
    metrics rows and the read back of the committed table add none."""
    import uuid

    from continuousfilteringbenchmark_spark.plans.stages import StageStore

    df = spark.range(5000).withColumn("k", F.col("id") % 7).repartition(4, "k")
    sc = spark.sparkContext

    def jobs(fn):
        group = f"stage-job-budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "run_stage job budget")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    direct = jobs(lambda: df.write.parquet(str(tmp_path / "direct")))
    store = StageStore(spark, str(tmp_path / "stages"), "budget")
    staged = jobs(lambda: store.run_stage("s", lambda: df))
    assert direct > 0 and staged == direct
    _assert_metric_rows_match_tables(store, {"s"})
