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
# cardinality at the cutoff and in the filtering ranks. The non-ASCII words
# sort differently by UTF-8 bytes (Spark) and by UTF-16 units (Java's
# String): "ｚ" (U+FF5A) < "😀" (U+1F600) only in the first
_PLAIN = ["the"] * 8 + ["and"] * 3 + [f"r{i}" for i in range(10)]
_VOCAB = _PLAIN + ["é", "ｚ", "😀", "Z"]
# a small id pool, so doc_ids repeat; non-ASCII ids order the Dirty pairs
_IDS = [f"d{i}" for i in range(8)] + ["dé", "dｚ", "d😀"]
_DOCS = st.lists(
    st.tuples(
        st.sampled_from(_IDS),
        st.sampled_from("AB"),
        st.lists(st.sampled_from(_VOCAB), max_size=6),
    ),
    max_size=14,
)
# 12 docs share "the" (66 comparisons), the rest are pairs and singletons
# (median cardinality 0): the cutoff lands on a level several blocks tie at,
# and the mega-block is purged
_PURGE_CUT = [(f"d{i}", "A", ["the", f"r{i % 6}", f"x{i}"]) for i in range(12)]
# every doc in two blocks of one comparison each: filtering keeps only the
# block whose key is first in UTF-8 byte order, "ｚ", not "😀"
_BYTE_ORDER = [(i, "A", ["😀", "ｚ"]) for i in ("dｚ", "d😀", "d0")]
# one doc in five equal blocks: 0.5 * 5 = 2.5 rounds HALF_UP to 3, where
# Python's round() gives 2
_HALF_UP = [("d0", "A", [f"r{i}" for i in range(5)])] + [
    (f"d{i}", "A", [f"r{i - 1}"]) for i in range(1, 6)
]


def _tokened(spark, docs, clean_clean):
    """``docs_with_tokens``' shape; ``tokens`` is each doc's distinct words
    in order, which ``word_token_set(text)`` also gives for ``_PLAIN``
    words."""
    rows = [
        (doc_id, side if clean_clean else "A", " ".join(words), list(dict.fromkeys(words)))
        for doc_id, side, words in docs
    ]
    return spark.createDataFrame(
        rows, "doc_id string, side string, text string, tokens array<string>"
    )


def _reference_blocks(tokened, cfg, plain):
    """``blocking.build_blocks``; for non-ASCII words, which the text
    tokenizer splits apart, its standard chain over the ``tokens`` column."""
    if plain or cfg.builder != "standard":
        return B.build_blocks(tokened, cfg)
    blocks = B.block_table(tokened, F.col("tokens"))
    if cfg.purge:
        blocks = B.block_purging(blocks, cfg.clean_clean, cfg.purge_smoothing)
    if cfg.filter_ratio is not None:
        blocks = B.block_filtering(blocks, cfg.filter_ratio, cfg.clean_clean)
    return blocks


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@settings(max_examples=16, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    docs=_DOCS,
    clean_clean=st.booleans(),
    purge=st.booleans(),
    filter_ratio=st.sampled_from([None, 0.5, 0.3, 0.25]),
    builder=st.sampled_from(["standard", "standard", "qgrams"]),
)
@example(docs=[], clean_clean=False, purge=True, filter_ratio=0.5, builder="standard")
@example(docs=[], clean_clean=True, purge=True, filter_ratio=None, builder="standard")
@example(docs=_PURGE_CUT, clean_clean=False, purge=True, filter_ratio=None, builder="standard")
@example(docs=_PURGE_CUT, clean_clean=False, purge=True, filter_ratio=0.5, builder="standard")
@example(docs=_PURGE_CUT, clean_clean=True, purge=False, filter_ratio=0.5, builder="standard")
@example(docs=_BYTE_ORDER, clean_clean=False, purge=False, filter_ratio=0.5, builder="standard")
@example(docs=_HALF_UP, clean_clean=False, purge=False, filter_ratio=0.5, builder="standard")
@example(docs=_HALF_UP, clean_clean=True, purge=True, filter_ratio=0.3, builder="standard")
def test_blockplan_equals_blocking(spark, docs, clean_clean, purge, filter_ratio, builder):
    """Blocks and candidate pairs equal ``blocking.build_blocks`` and
    ``blocking.pairs_from_blocks``: Dirty and Clean-Clean, purge-only,
    filter-only, both and neither, one-sided blocks, empty input, repeated
    doc_ids, non-ASCII keys and ids, and ratios where n * ratio is x.5."""
    tokened = _tokened(spark, docs, clean_clean)
    cfg = B.BlockingConfig(
        builder=builder, q=2, purge=purge, filter_ratio=filter_ratio, clean_clean=clean_clean
    )
    plain = all(w in _PLAIN for _, _, words in docs for w in words)
    fast = blockplan.build_blocks(tokened, cfg)
    ref = _reference_blocks(tokened, cfg, plain)
    assert _rows(fast) == _rows(ref)
    assert _rows(blockplan.pairs_from_blocks(fast, clean_clean)) == _rows(
        B.pairs_from_blocks(ref, clean_clean)
    )


def test_byte_order_and_half_up_examples_bite(spark):
    """The ``_BYTE_ORDER`` and ``_HALF_UP`` examples exercise what they
    claim: filtering keeps "ｚ", which UTF-16 order puts after "😀", and 3
    of d0's 5 blocks, where half-even rounding would keep 2."""
    assert "ｚ".encode("utf-16-be") > "😀".encode("utf-16-be")
    cfg = B.BlockingConfig(purge=False, filter_ratio=0.5, clean_clean=False)
    kept = _rows(_reference_blocks(_tokened(spark, _BYTE_ORDER, False), cfg, plain=False))
    assert kept == sorted(("ｚ", "A", doc_id) for doc_id, _, _ in _BYTE_ORDER)
    kept = _rows(B.build_blocks(_tokened(spark, _HALF_UP, False), cfg))
    assert sum(doc_id == "d0" for _, _, doc_id in kept) == 3


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


@pytest.fixture
def regimes(monkeypatch):
    """One entry per driver-rows attempt of ``build_blocks`` and
    ``pairs_from_blocks``: "rows" when it answered, "over" when a cap (or
    the input's types) sent the call on to the stats regime."""
    taken = []
    for name in ("_blocks_on_driver", "_pairs_on_driver"):
        real = getattr(blockplan, name)

        def spy(*args, _real=real, **kwargs):
            out = _real(*args, **kwargs)
            taken.append("over" if out is None else "rows")
            return out

        monkeypatch.setattr(blockplan, name, spy)
    return taken


@pytest.fixture
def purge_cut(spark):
    """``_PURGE_CUT`` as a token table with its distinct key count. Its 36
    postings are over a row cap at the key count and its 19 keys within
    it, so such a cap skips the driver-rows regime and reaches the stats."""
    tokened = _tokened(spark, _PURGE_CUT, False)
    n_keys = tokened.select(F.explode("tokens")).distinct().count()
    assert sum(len(words) for _, _, words in _PURGE_CUT) > n_keys
    return tokened, n_keys


def test_postings_cap_boundary_picks_the_regime(purge_cut, monkeypatch, regimes):
    """Exactly ``_LOCAL_MAX_ROWS`` postings take the driver-rows regime; one
    more takes the stats regime. Same blocks either way."""
    tokened, _ = purge_cut
    n_postings = sum(len(words) for _, _, words in _PURGE_CUT)
    cfg = B.BlockingConfig(clean_clean=False)
    want = _rows(B.build_blocks(tokened, cfg))
    stats = _spy(monkeypatch, "_block_stats")

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", n_postings)
    assert _rows(blockplan.build_blocks(tokened, cfg)) == want
    assert regimes == ["rows"] and not stats

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", n_postings - 1)
    assert _rows(blockplan.build_blocks(tokened, cfg)) == want
    assert regimes == ["rows", "over"] and len(stats) == 1


# Dirty: "k" emits C(5, 2) = 10 pairs and "j" one more, which "k" already
# has. Clean-Clean: "k" emits 3 * 3 = 9 and "j" one more. The cap counts
# the emission before the dedupe, and both are over the 7 or 8 block rows
_EMISSION = {
    False: ([("k", "A", f"d{i}") for i in range(5)] + [("j", "A", "d0"), ("j", "A", "d1")], 11),
    True: (
        [("k", s, f"{s}{i}") for s in "AB" for i in range(3)] + [("j", "A", "A0"), ("j", "B", "B0")],
        10,
    ),
}


@pytest.mark.parametrize("clean_clean", [False, True])
def test_emission_cap_boundary_picks_the_regime(spark, monkeypatch, regimes, clean_clean):
    """Exactly ``_LOCAL_MAX_ROWS`` pre-dedupe pairs emit on the driver; one
    more takes the stats regime. Same pairs either way."""
    rows, emitted = _EMISSION[clean_clean]
    blocks = spark.createDataFrame(rows, "block_key string, side string, doc_id string")
    want = _rows(B.pairs_from_blocks(blocks, clean_clean))
    assert len(want) == emitted - 1
    calls = _spy(monkeypatch, "pairs_from_blocks")

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", emitted)
    assert _rows(blockplan.pairs_from_blocks(blocks, clean_clean)) == want
    assert regimes == ["rows"]

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", emitted - 1)
    assert _rows(blockplan.pairs_from_blocks(blocks, clean_clean)) == want
    assert regimes == ["rows", "over"]
    assert [c["salt_cap"] for c in calls] == [None]


def test_stats_cap_boundary_picks_the_path(purge_cut, monkeypatch, regimes):
    """With the postings over the row cap: exactly ``_LOCAL_MAX_ROWS``
    distinct keys take the driver stats; one more takes
    ``block_purging``/``block_filtering``. Same blocks either way."""
    tokened, n_keys = purge_cut
    cfg = B.BlockingConfig(clean_clean=False)
    want = _rows(B.build_blocks(tokened, cfg))
    purging = _spy(monkeypatch, "block_purging")
    filtering = _spy(monkeypatch, "block_filtering")

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", n_keys)
    assert _rows(blockplan.build_blocks(tokened, cfg)) == want
    assert not purging and not filtering

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", n_keys - 1)
    assert _rows(blockplan.build_blocks(tokened, cfg)) == want
    assert len(purging) == 1 and len(filtering) == 1
    assert regimes == ["over", "over"]


def test_salt_cap_boundary_picks_the_path(spark, monkeypatch, regimes):
    """With the salt cap patched to 2 and the 9 block rows over the row
    cap: two oversized keys and a row cap of 2 take the driver guard
    (``salt_cap=None`` below it); a row cap of 1 takes the guarded call.
    Same pairs as the guarded call either way."""
    rows = [("big1", "A", str(i)) for i in range(4)] + [("big2", "A", str(i)) for i in range(3, 6)]
    rows += [("ok", "A", "1"), ("ok", "A", "9")]
    blocks = spark.createDataFrame(rows, "block_key string, side string, doc_id string")
    want = _rows(B.pairs_from_blocks(blocks, False, salt_cap=2))
    assert want == [("1", "9")]
    monkeypatch.setattr(blockplan, "_SALT_CAP", 2)
    calls = _spy(monkeypatch, "pairs_from_blocks")

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", 2)
    assert _rows(blockplan.pairs_from_blocks(blocks, False)) == want
    assert [c["salt_cap"] for c in calls] == [None]

    monkeypatch.setattr(blockplan, "_LOCAL_MAX_ROWS", 1)
    assert _rows(blockplan.pairs_from_blocks(blocks, False)) == want
    assert [c["salt_cap"] for c in calls] == [None, 2]
    assert regimes == ["over", "over"]


def _salt_rows(store):
    if not os.path.isdir(os.path.join(store.root, store.run_id, "_metrics")):
        return []
    return store.metrics().where(F.col("stage").contains("salt_cap_dropped")).collect()


@pytest.mark.parametrize("clean_clean", [False, True])
def test_salt_cap_drop_is_logged_once(spark, tmp_path, regimes, clean_clean):
    """One key over the real 10,000-posting cap, dropped on the driver: the
    same pairs as the guarded ``blocking.pairs_from_blocks``, and exactly
    one ``salt_cap_dropped`` row carrying its postings; none when nothing
    is dropped."""
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
    assert regimes == ["rows", "rows"]


def test_salt_cap_is_pairs_from_blocks_default():
    default = inspect.signature(B.pairs_from_blocks).parameters["salt_cap"].default
    assert blockplan._SALT_CAP == default


def test_pipeline_blocking_job_budget(spark, dirty, tmp_path):
    """A ``materialized_er_pipeline`` pass commits its blocks, candidate
    pairs and clusters stages in at most 4 Spark jobs each (block cleaning
    in Spark took 12, 8 and 5; the driver stats 7 and 5)."""
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
    assert 0 < jobs["blocks"] <= 4, jobs
    assert 0 < jobs["candidate_pairs"] <= 4, jobs
    assert 0 < jobs["clusters"] <= 4, jobs
