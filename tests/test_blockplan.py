"""``plans.blockplan``: the pipelines' block cleaning and pair emission with
the block stats collected once. Its driver path must equal
``operators.blocking``'s Spark path everywhere, and each path must be taken
exactly where the caps say."""

import inspect
import os
import uuid
from dataclasses import dataclass

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from continuousfilteringbenchmark_spark.functions import tokenize as tk
from continuousfilteringbenchmark_spark.operators import blocking as B
from continuousfilteringbenchmark_spark.plans import blockplan
from continuousfilteringbenchmark_spark.plans.stages import StageStore

# weighted vocabulary: "the" lands in most docs, so purging has a mega-block
# to cut; the rare words make one- and two-member blocks that tie in
# cardinality at the cutoff and in the filtering ranks
_VOCAB = ["the"] * 8 + ["and"] * 3 + [f"r{i}" for i in range(10)]
_DOCS = st.lists(
    st.tuples(st.sampled_from("AB"), st.lists(st.sampled_from(_VOCAB), max_size=6)),
    max_size=14,
)
# 12 docs share "the" (66 comparisons), the rest are pairs and singletons
# (median cardinality 0): the cutoff lands on a level several blocks tie at,
# and the mega-block is purged
_PURGE_CUT = [("A", ["the", f"r{i % 6}", f"x{i}"]) for i in range(12)]


def _tokened(spark, docs, clean_clean):
    rows = [
        (f"d{i}", side if clean_clean else "A", " ".join(words))
        for i, (side, words) in enumerate(docs)
    ]
    return spark.createDataFrame(rows, "doc_id string, side string, text string").withColumn(
        "tokens", tk.word_token_set("text")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=_DOCS,
    clean_clean=st.booleans(),
    purge=st.booleans(),
    filter_ratio=st.sampled_from([None, 0.5, 0.3]),
    builder=st.sampled_from(["standard", "standard", "qgrams"]),
)
@example(docs=[], clean_clean=False, purge=True, filter_ratio=0.5, builder="standard")
@example(docs=[], clean_clean=True, purge=True, filter_ratio=None, builder="standard")
@example(docs=_PURGE_CUT, clean_clean=False, purge=True, filter_ratio=None, builder="standard")
@example(docs=_PURGE_CUT, clean_clean=False, purge=True, filter_ratio=0.5, builder="standard")
@example(docs=_PURGE_CUT, clean_clean=True, purge=False, filter_ratio=0.5, builder="standard")
def test_blockplan_equals_blocking(spark, docs, clean_clean, purge, filter_ratio, builder):
    """Blocks and candidate pairs equal ``blocking.build_blocks`` and
    ``blocking.pairs_from_blocks``: Dirty and Clean-Clean, purge-only,
    filter-only, both and neither, one-sided blocks, empty input."""
    tokened = _tokened(spark, docs, clean_clean)
    cfg = B.BlockingConfig(
        builder=builder, q=2, purge=purge, filter_ratio=filter_ratio, clean_clean=clean_clean
    )
    fast = blockplan.build_blocks(tokened, cfg)
    ref = B.build_blocks(tokened, cfg)
    assert _rows(fast) == _rows(ref)
    assert _rows(blockplan.pairs_from_blocks(fast, clean_clean)) == _rows(
        B.pairs_from_blocks(ref, clean_clean)
    )


def test_purge_cut_example_cuts_and_ties(spark):
    """The ``_PURGE_CUT`` example above exercises what it claims: the
    mega-block is purged and several blocks sit at the cutoff."""
    blocks = B.build_blocks(
        _tokened(spark, _PURGE_CUT, False),
        B.BlockingConfig(purge=False, filter_ratio=None, clean_clean=False),
    )
    stats = B._block_stats(blocks, False).toPandas()
    hist = stats.groupby("comparisons", as_index=False).agg(
        n_blocks=("block_key", "size"), assignments=("block_size", "sum")
    )
    cutoff = B.purging_threshold(hist)
    assert stats.loc[stats.block_key == "the", "comparisons"].item() > cutoff
    assert (stats.comparisons == cutoff).sum() > 1


def _spy(monkeypatch, name):
    calls = []
    real = getattr(B, name)

    def spy(*args, **kwargs):
        calls.append(kwargs)
        return real(*args, **kwargs)

    monkeypatch.setattr(B, name, spy)
    return calls


def test_stats_cap_boundary_picks_the_path(spark, monkeypatch):
    """Exactly ``_LOCAL_MAX_KEYS`` distinct keys take the driver path; one
    more takes ``block_purging``/``block_filtering``. Same blocks either way."""
    tokened = _tokened(spark, _PURGE_CUT, False)
    cfg = B.BlockingConfig(clean_clean=False)
    n_keys = B.build_blocks(
        tokened, B.BlockingConfig(purge=False, filter_ratio=None, clean_clean=False)
    ).select("block_key").distinct().count()
    want = _rows(B.build_blocks(tokened, cfg))
    purging = _spy(monkeypatch, "block_purging")
    filtering = _spy(monkeypatch, "block_filtering")

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_KEYS", n_keys)
    assert _rows(blockplan.build_blocks(tokened, cfg)) == want
    assert not purging and not filtering

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_KEYS", n_keys - 1)
    assert _rows(blockplan.build_blocks(tokened, cfg)) == want
    assert len(purging) == 1 and len(filtering) == 1


def test_salt_cap_boundary_picks_the_path(spark, monkeypatch):
    """With the salt cap patched to 2: two oversized keys and a key cap of 2
    take the driver guard (``salt_cap=None`` below it); a key cap of 1 takes
    the guarded call. Same pairs as the guarded call either way."""
    rows = [("big1", "A", str(i)) for i in range(4)] + [("big2", "A", str(i)) for i in range(3, 6)]
    rows += [("ok", "A", "1"), ("ok", "A", "9")]
    blocks = spark.createDataFrame(rows, "block_key string, side string, doc_id string")
    want = _rows(B.pairs_from_blocks(blocks, False, salt_cap=2))
    assert want == [("1", "9")]
    monkeypatch.setattr(blockplan, "_SALT_CAP", 2)
    calls = _spy(monkeypatch, "pairs_from_blocks")

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_KEYS", 2)
    assert _rows(blockplan.pairs_from_blocks(blocks, False)) == want
    assert [c["salt_cap"] for c in calls] == [None]

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_KEYS", 1)
    assert _rows(blockplan.pairs_from_blocks(blocks, False)) == want
    assert [c["salt_cap"] for c in calls] == [None, 2]


def _salt_rows(store):
    if not os.path.isdir(os.path.join(store.root, store.run_id, "_metrics")):
        return []
    return store.metrics().where(F.col("stage").contains("salt_cap_dropped")).collect()


@pytest.mark.parametrize("clean_clean", [False, True])
def test_salt_cap_drop_is_logged_once(spark, tmp_path, clean_clean):
    """One key over the real 10,000-posting cap: the same pairs as the
    guarded ``blocking.pairs_from_blocks``, and exactly one
    ``salt_cap_dropped`` row carrying its postings; none when nothing is
    dropped."""
    cap = blockplan._SALT_CAP
    big = [("big", "AB"[i % 2], f"x{i}") for i in range(cap + 1)]
    small = [("k1", "A", "a1"), ("k1", "B", "b1"), ("k1", "A", "x3"), ("k2", "B", "x3"), ("k2", "A", "a2")]
    schema = "block_key string, side string, doc_id string"
    blocks = spark.createDataFrame(big + small, schema)

    store = StageStore(spark, str(tmp_path / "fast"), "run")
    ref_store = StageStore(spark, str(tmp_path / "ref"), "run")
    got = _rows(blockplan.pairs_from_blocks(blocks, clean_clean, store=store))
    assert got and got == _rows(B.pairs_from_blocks(blocks, clean_clean, store=ref_store))
    m = _salt_rows(store)
    assert [(r.stage, r.rows) for r in m] == [("pairs_from_blocks__salt_cap_dropped", cap + 1)]
    assert [(r.stage, r.rows) for r in m] == [(r.stage, r.rows) for r in _salt_rows(ref_store)]

    quiet = StageStore(spark, str(tmp_path / "quiet"), "run")
    small_blocks = spark.createDataFrame(small, schema)
    assert _rows(blockplan.pairs_from_blocks(small_blocks, clean_clean, store=quiet)) == _rows(
        B.pairs_from_blocks(small_blocks, clean_clean)
    )
    assert _salt_rows(quiet) == []


def test_salt_cap_is_pairs_from_blocks_default():
    default = inspect.signature(B.pairs_from_blocks).parameters["salt_cap"].default
    assert blockplan._SALT_CAP == default


def test_pipeline_blocking_job_budget(spark, dirty, tmp_path):
    """A ``materialized_er_pipeline`` pass commits its blocks stage in at
    most 7 Spark jobs and its candidate pairs in at most 5 (the stats
    computed three times and the salt-cap guard took 12 and 8)."""
    from continuousfilteringbenchmark_spark.plans.pipeline import ERConfig
    from continuousfilteringbenchmark_spark.plans.stages import materialized_er_pipeline

    sc = spark.sparkContext
    jobs: dict[str, int] = {}

    @dataclass
    class CountingStore(StageStore):
        def run_stage(self, stage, build, partition_by=None):
            group = f"{stage}-job-budget-{uuid.uuid4().hex}"
            sc.setJobGroup(group, "blockplan job budget")
            try:
                return super().run_stage(stage, build, partition_by)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                jobs[stage] = len(sc.statusTracker().getJobIdsForGroup(group))

    store = CountingStore(spark, str(tmp_path), "budget")
    out = materialized_er_pipeline(dirty.docs, store, ERConfig(), clean_clean=False)
    assert out["candidate_pairs"].count() > 0
    assert 0 < jobs["blocks"] <= 7, jobs
    assert 0 < jobs["candidate_pairs"] <= 5, jobs
