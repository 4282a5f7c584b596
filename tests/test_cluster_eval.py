"""Connected components + evaluators on chain/star/pathological fixtures."""

import random
import uuid

import pandas as pd
import pytest

from continuousfilteringbenchmark_spark.eval import (
    canonical_pairs,
    cluster_pairs,
    evaluate_clusters,
    evaluate_pairs,
)
from continuousfilteringbenchmark_spark.operators import cluster
from continuousfilteringbenchmark_spark.operators.cluster import (
    clusters_with_singletons,
    connected_components,
)


@pytest.fixture
def star_loop(monkeypatch):
    """Pin the Spark star loop: with the driver-side cap at 0, every
    non-empty graph is over it."""
    monkeypatch.setattr(cluster, "_LOCAL_MAX_EDGES", 0)


@pytest.fixture
def star_calls(monkeypatch):
    """One entry per large-star round run; stays empty on the driver path."""
    calls = []
    star = cluster._large_star
    monkeypatch.setattr(cluster, "_large_star", lambda e: calls.append(1) or star(e))
    return calls


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "left_id string, right_id string")


def _cc_map(spark, pairs):
    df = connected_components(_pairs(spark, pairs))
    return {r.doc_id: r.cluster_id for r in df.collect()}


def test_cc_chain(spark):
    m = _cc_map(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert m == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_cc_star(spark):
    m = _cc_map(spark, [("hub", "s1"), ("hub", "s2"), ("hub", "s3")])
    assert set(m.values()) == {"hub"}
    assert len(m) == 4


def test_cc_two_components_and_reversed_edges(spark):
    m = _cc_map(spark, [("b", "a"), ("c", "b"), ("x", "y")])
    assert m["a"] == "a" and m["b"] == "a" and m["c"] == "a"
    assert m["x"] == "x" and m["y"] == "x"


@pytest.mark.usefixtures("star_loop")
def test_cc_long_chain_converges(spark):
    n = 40
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    m = _cc_map(spark, edges)
    assert set(m.values()) == {"n000"}
    assert len(m) == n + 1


def test_cc_cap_boundary_picks_the_path(spark, monkeypatch, star_calls):
    """Exactly ``_LOCAL_MAX_EDGES`` cleaned edges run on the driver and one
    more runs the star loop; a self-loop and an exact duplicate are dropped
    before the count."""
    monkeypatch.setattr(cluster, "_LOCAL_MAX_EDGES", 3)
    at_cap = [("a", "b"), ("b", "c"), ("x", "y"), ("a", "a"), ("a", "b")]
    assert _cc_map(spark, at_cap) == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert not star_calls
    over_cap = at_cap + [("c", "d")]
    assert _cc_map(spark, over_cap) == {
        "a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x",
    }
    assert star_calls


def test_cc_ids_ordered_unlike_python_take_the_star_loop(spark, star_calls):
    """Only string and integral ids run on the driver: Python's min agrees
    with Spark's there, not on NaN or -0.0 doubles or collated strings."""
    df = spark.createDataFrame([(2.5, 1.5)], "left_id double, right_id double")
    assert {r.doc_id: r.cluster_id for r in connected_components(df).collect()} == {
        1.5: 1.5, 2.5: 1.5,
    }
    assert star_calls


def test_clusters_with_singletons_job_budget(spark):
    """A ~5k-edge graph clusters in at most 5 Spark jobs, the result collect
    included; the star loop takes dozens, so a silent fallback to it on
    small graphs fails here."""
    rng = random.Random(7)
    edges = [(f"d{rng.randrange(7000)}", f"d{rng.randrange(7000)}") for _ in range(5000)]
    docs = spark.createDataFrame([(f"d{i}",) for i in range(7000)], "doc_id string")
    pairs = _pairs(spark, edges)
    sc = spark.sparkContext
    group = f"cc-job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "clusters_with_singletons job budget")
    try:
        rows = clusters_with_singletons(docs, pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(rows) == 7000
    assert len(jobs) <= 5, f"{len(jobs)} Spark jobs"


def test_clusters_with_singletons(spark):
    docs = spark.createDataFrame([("a",), ("b",), ("c",), ("lone",)], "doc_id string")
    cl = clusters_with_singletons(docs, _pairs(spark, [("a", "b")]))
    m = {r.doc_id: r.cluster_id for r in cl.collect()}
    assert m == {"a": "a", "b": "a", "c": "c", "lone": "lone"}


def test_canonical_pairs(spark):
    got = canonical_pairs(_pairs(spark, [("b", "a"), ("a", "b"), ("a", "a")])).collect()
    assert [(r.left_id, r.right_id) for r in got] == [("a", "b")]


def test_evaluate_pairs_pc_pq_f1(spark):
    cand = _pairs(spark, [("a", "b"), ("a", "c"), ("x", "y")])
    gold = _pairs(spark, [("a", "b"), ("x", "y"), ("p", "q")])
    m = evaluate_pairs(cand, gold)
    assert m.true_positives == 2 and m.candidates == 3 and m.gold == 3
    assert abs(m.pc - 2 / 3) < 1e-12 and abs(m.pq - 2 / 3) < 1e-12
    assert abs(m.f1 - 2 / 3) < 1e-12


def test_cluster_pairs_and_f1_gate(spark):
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("x", "x")],
        "doc_id string, cluster_id string",
    )
    cp = cluster_pairs(clusters).toPandas()
    assert set(map(tuple, cp.values)) == {("a", "b"), ("a", "c"), ("b", "c")}
    gold = _pairs(spark, [("a", "b"), ("a", "c"), ("b", "c")])
    m = evaluate_clusters(clusters, gold)
    assert m.f1 == 1.0


@pytest.mark.usefixtures("star_loop")
def test_cc_partition_invariance(spark):
    # same result regardless of input partitioning (determinism requirement)
    edges = [(f"e{i}", f"e{(i * 7) % 23}") for i in range(23)]
    df1 = _pairs(spark, edges).repartition(1)
    df8 = _pairs(spark, edges).repartition(8)
    m1 = {r.doc_id: r.cluster_id for r in connected_components(df1).collect()}
    m8 = {r.doc_id: r.cluster_id for r in connected_components(df8).collect()}
    assert m1 == m8


@pytest.mark.usefixtures("star_loop")
def test_cc_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir switches lineage cuts to reliable checkpoints: same
    assignments as local mode, and checkpoint files actually land under the
    directory (the production fault-tolerance path)."""
    import os

    pairs = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")]
    local = {r.doc_id: r.cluster_id
             for r in connected_components(_pairs(spark, pairs)).collect()}
    ckdir = str(tmp_path / "cc_ck")
    reliable = connected_components(_pairs(spark, pairs), checkpoint_dir=ckdir)
    got = {r.doc_id: r.cluster_id for r in reliable.collect()}
    assert got == local == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
        "p": "p", "q": "p", "r": "p", "s": "p",
    }
    written = [
        os.path.join(dp, f) for dp, _, fs in os.walk(ckdir) for f in fs
    ]
    assert any("rdd-" in p for p in written), written


@pytest.mark.usefixtures("star_loop")
def test_cc_restores_session_checkpoint_dir(spark, tmp_path):
    """connected_components(checkpoint_dir=...) must not clobber the
    session's configured checkpoint directory — a caller's later
    checkpoints would silently land in the CC scratch path otherwise."""
    sc = spark.sparkContext
    caller_dir = str(tmp_path / "caller_ck")
    sc.setCheckpointDir(caller_dir)
    connected_components(
        _pairs(spark, [("a", "b"), ("b", "c")]),
        checkpoint_dir=str(tmp_path / "cc_scratch"),
    ).collect()
    opt = sc._jsc.sc().getCheckpointDir()
    assert opt.isDefined()
    # spark normalizes to a URI and creates a random child dir; the caller's
    # path must still be the prefix
    assert caller_dir in opt.get()


@pytest.mark.usefixtures("star_loop")
def test_cc_restores_unset_checkpoint_dir(spark, tmp_path):
    """When the caller had NO checkpoint dir configured, the CC scratch dir
    must not stay behind as the session's directory — the docstring tells
    callers to delete the scratch path after consuming the result, and a
    leaked setting would point their later checkpoints at a deleted dir."""
    sc = spark.sparkContext
    opt0 = sc._jsc.sc().getCheckpointDir()
    saved = opt0.get() if opt0.isDefined() else None
    sc._jsc.sc().setCheckpointDir(None)  # the unset state under test
    try:
        connected_components(
            _pairs(spark, [("a", "b"), ("b", "c")]),
            checkpoint_dir=str(tmp_path / "cc_scratch2"),
        ).collect()
        assert not sc._jsc.sc().getCheckpointDir().isDefined()
    finally:
        if saved is not None:
            sc._jsc.sc().setCheckpointDir(saved)


def test_cluster_diagnostics(spark):
    from continuousfilteringbenchmark_spark.operators.cluster import (
        cluster_diagnostics,
    )

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (99, 99)],
        "doc_id int, cluster_id int",
    )
    # cluster 1: chain 1-2-3-4 (3 edges of 6 possible); cluster 10: clique
    matches = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "left_id int, right_id int"
    )
    docs = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "a"), (10, "c"), (11, "c"), (99, "z")],
        "doc_id int, source string",
    )
    got = {
        r["cluster_id"]: r
        for r in cluster_diagnostics(clusters, matches, docs=docs).collect()
    }
    assert set(got) == {1, 10}  # singleton 99 excluded
    c1 = got[1]
    assert (c1["n_members"], c1["n_edges"], c1["n_possible"]) == (4, 3, 6)
    assert c1["max_source_n"] == 3  # source 'a' x3
    c10 = got[10]
    assert (c10["n_members"], c10["n_edges"], c10["n_possible"]) == (2, 1, 1)
    assert c10["max_source_n"] == 2

    # without docs: no purity column
    nod = cluster_diagnostics(clusters, matches)
    assert "max_source_n" not in nod.columns
