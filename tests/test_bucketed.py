"""Bucket-grid scorer (plans/bucketed.py): bit-parity with the other
score_pairs engines, jvm-identical drop semantics, and the no-token-bytes-
in-shuffle plan contract that makes it the over-broadcast-cap scale path."""

import os

import pytest
from pyspark.sql import functions as F

from continuousfilteringbenchmark_spark.operators import blocking as B
from continuousfilteringbenchmark_spark.plans import bucketed as BK
from continuousfilteringbenchmark_spark.plans.pipeline import (
    docs_with_tokens,
    score_pairs,
)


@pytest.fixture(scope="module")
def store(spark, dirty, tmp_path_factory):
    """Bucketed token store + candidate pairs over the dirty corpus."""
    root = str(tmp_path_factory.mktemp("bkstore"))
    tokened = docs_with_tokens(dirty.docs, side_from_prefix=False)
    path = os.path.join(root, "tokens")
    BK.write_token_buckets(tokened, path, n_buckets=8)
    blocks = B.standard_blocking(
        tokened.withColumn("side", F.lit("A")), "text"
    )
    pairs = B.pairs_from_blocks(
        B.block_filtering(B.block_purging(blocks, False), 0.5, False), False
    )
    pairs_path = os.path.join(root, "pairs")
    pairs.write.parquet(pairs_path)
    return tokened, path, pairs_path


def _rows(df):
    return sorted((r.left_id, r.right_id, r.score) for r in df.collect())


@pytest.mark.parametrize("min_score", [None, 0.5])
def test_matches_jvm_engine_bitwise(spark, store, min_score):
    tokened, path, pairs_path = store
    pairs = spark.read.parquet(pairs_path)
    jvm = score_pairs(pairs, tokened, "jaccard", engine="jvm", min_score=min_score)
    got = BK.score_pairs_bucketed(pairs, path, "jaccard", min_score=min_score)
    assert _rows(got) == _rows(jvm)  # exact, including score bits


def test_matches_arrow_engine_cosine(spark, store):
    tokened, path, pairs_path = store
    pairs = spark.read.parquet(pairs_path)
    arrow = score_pairs(pairs, tokened, "cosine", engine="arrow")
    got = BK.score_pairs_bucketed(pairs, path, "cosine")
    assert _rows(got) == _rows(arrow)


def test_unknown_ids_dropped_like_inner_join(spark, store):
    _, path, _ = store
    pairs = spark.createDataFrame(
        [("nope-1", "nope-2"), ("nope-1", "d0000-0")],
        "left_id string, right_id string",
    )
    assert BK.score_pairs_bucketed(pairs, path).count() == 0


def test_diagonal_cell_and_cache_eviction(spark, store):
    """Same-bucket (diagonal) cells reuse one parsed dictionary; a tiny LRU
    cap must only cost re-reads, never change results."""
    tokened, path, pairs_path = store
    pairs = spark.read.parquet(pairs_path)
    jvm = score_pairs(pairs, tokened, "dice", engine="jvm", min_score=0.6)
    got = BK.score_pairs_bucketed(pairs, path, "dice", min_score=0.6, cache_max=1)
    assert _rows(got) == _rows(jvm)


def test_plan_has_single_id_only_exchange(spark, store):
    """The scale contract: ONE Exchange (pair ids by cell), token arrays
    absent from the plan entirely — they ride side-band via bucket reads."""
    _, path, pairs_path = store
    pairs = spark.read.parquet(pairs_path)
    scored = BK.score_pairs_bucketed(pairs, path, min_score=0.5)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "_h" not in plan  # no token column anywhere in the plan


def test_kernel_chunking(spark, store):
    """Forcing many sub-batches per cell must not change a single bit."""
    tokened, path, pairs_path = store
    pairs = spark.read.parquet(pairs_path)
    base = _rows(BK.score_pairs_bucketed(pairs, path, min_score=0.5))
    tiny = BK.score_pairs_bucketed(pairs, path, min_score=0.5, kernel_chunk=7)
    assert _rows(tiny) == base


def test_score_pairs_dispatch_and_guard(spark, store):
    """The public score_pairs entry dispatches engine='bucketed' to the
    grid scorer (same rows as calling it directly) and refuses the engine
    without a bucket_path."""
    tokened, path, pairs_path = store
    pairs = spark.read.parquet(pairs_path)
    via_api = score_pairs(
        pairs, tokened, "jaccard", engine="bucketed",
        bucket_path=path, min_score=0.5,
    )
    direct = BK.score_pairs_bucketed(pairs, path, "jaccard", min_score=0.5)
    assert _rows(via_api) == _rows(direct)
    with pytest.raises(ValueError, match="bucket_path"):
        score_pairs(pairs, tokened, engine="bucketed")


def test_overwritten_store_is_not_served_stale(spark, tmp_path):
    """Python workers keep parsed buckets across tasks. A store rewritten at
    the same path in the same session must be scored from its new tokens:
    each round overwrites one path with a different token set, and the
    bucketed scores must equal the jvm engine's. With one bucket every
    round's single cell task reads bucket 0, so once the rounds outnumber
    the session's python workers (local[8]) some worker is reused."""
    path = str(tmp_path / "tokens")
    pairs = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "left_id string, right_id string"
    )
    for i in range(10):
        tokened = spark.createDataFrame(
            [
                ("a", [f"t{j}" for j in range(i + 1)]),
                ("b", ["t0"]),
                ("c", ["t0", "t1", f"u{i}"]),
            ],
            "doc_id string, tokens array<string>",
        )
        BK.write_token_buckets(tokened, path, n_buckets=1)
        got = BK.score_pairs_bucketed(pairs, path, "jaccard")
        jvm = score_pairs(pairs, tokened, "jaccard", engine="jvm")
        assert _rows(got) == _rows(jvm), f"round {i}"
