"""Property-based tests (hypothesis) — SURVEY.md §5.2 oracle strategy pushed
to randomized inputs.

Pure-Python mirrors of the reference semantics
(``joins/src/utilities/RepresentationModel.java``) are checked for exact
equality against the Spark SQL expressions on hypothesis-generated strings,
and the iterative connected-components operator against a union-find oracle
on random edge sets. Alphabets stay ASCII: the SQL expressions run Java
regex/locale semantics (``\\W`` is ASCII there, ``toLowerCase`` is
locale-free for ASCII) and the mirrors replicate exactly that contract —
exotic-unicode casing is out of the engine's normalization contract.
The connected-components properties are the exception: they draw non-ASCII
ids on purpose, since ids are only compared, never normalized.

Spark-bearing properties cap ``max_examples`` (each example is a Spark
round-trip); the pure-numpy similarity properties run the full default.
"""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from continuousfilteringbenchmark_spark.functions import tokenize as tk

ASCII_TEXT = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=40
)

SPARK_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# ------------------------------------------------------------ python mirrors
def _py_normalize(s: str) -> str:
    # Spark trim() strips spaces only; lower is ASCII-safe on this alphabet
    return s.strip(" ").lower()


def _py_word_tokens(s: str) -> list[str]:
    # Java \W is ASCII: [^A-Za-z0-9_]; plus explicit '_' in the class
    return [t for t in re.split(r"[\W_]+", _py_normalize(s), flags=re.ASCII) if t]


def _py_occurrence_suffix(arr: list[str]) -> list[str]:
    return [x + str(arr[:i].count(x)) for i, x in enumerate(arr)]


def _py_char_ngrams(s: str, n: int) -> list[str]:
    s = _py_normalize(s)
    if len(s) < n:
        return [s]
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def _spark_eval(spark, texts: list[str], expr) -> list[list[str]]:
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    return [r.o for r in df.select(expr(F.col("s")).alias("o")).collect()]


# ------------------------------------------------------------ tokenizer parity
@SPARK_SETTINGS
@given(texts=st.lists(ASCII_TEXT, min_size=1, max_size=6))
def test_word_multiset_matches_python_mirror(spark, texts):
    got = _spark_eval(spark, texts, tk.word_token_multiset)
    want = [_py_occurrence_suffix(_py_word_tokens(t)) for t in texts]
    assert got == want


@SPARK_SETTINGS
@given(texts=st.lists(ASCII_TEXT, min_size=1, max_size=6))
def test_word_set_matches_python_mirror(spark, texts):
    got = _spark_eval(spark, texts, tk.word_token_set)
    want = [list(dict.fromkeys(_py_word_tokens(t))) for t in texts]
    assert got == want


@SPARK_SETTINGS
@given(
    texts=st.lists(ASCII_TEXT, min_size=1, max_size=6),
    n=st.sampled_from([2, 3, 5]),
)
def test_char_ngram_multiset_matches_python_mirror(spark, texts, n):
    got = _spark_eval(spark, texts, lambda c: tk.char_ngram_multiset(c, n))
    want = [_py_occurrence_suffix(_py_char_ngrams(t, n)) for t in texts]
    assert got == want


# ------------------------------------------------------- similarity properties
SETS = st.sets(st.integers(min_value=0, max_value=50), max_size=30)


@given(a=SETS, b=SETS)
def test_np_set_similarity_bounds_and_symmetry(a, b):
    from continuousfilteringbenchmark_spark.plans.pipeline import _np_set_similarity

    import numpy as np

    if not a or not b:
        return  # empty sets never reach the scorer (blank tokens dropped)
    c = len(a & b)
    for kind in ("jaccard", "dice", "cosine"):
        s = float(_np_set_similarity(np.float64(c), np.float64(len(a)), np.float64(len(b)), kind))
        t = float(_np_set_similarity(np.float64(c), np.float64(len(b)), np.float64(len(a)), kind))
        assert 0.0 <= s <= 1.0 + 1e-12
        assert s == t  # symmetric
        if a == b:
            assert math.isclose(s, 1.0)


@given(
    s=st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=12),
    t=st.text(alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E), max_size=12),
)
def test_jaro_winkler_properties(s, t):
    from continuousfilteringbenchmark_spark.functions.similarity import _jaro_winkler

    v = _jaro_winkler(s, t)
    assert 0.0 <= v <= 1.0 + 1e-12
    assert _jaro_winkler(t, s) == pytest.approx(v)  # symmetric
    if s:
        assert _jaro_winkler(s, s) == pytest.approx(1.0)


# --------------------------------------------------- connected components
@SPARK_SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from continuousfilteringbenchmark_spark.operators.cluster import connected_components

    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = sorted({v for e in edges for v in e})
    want = {}
    for n in nodes:
        want.setdefault(find(n), []).append(n)
    oracle = {frozenset(f"n{v}" for v in grp) for grp in want.values()}

    df = spark.createDataFrame(
        [(f"n{a}", f"n{b}") for a, b in edges], "left_id string, right_id string"
    )
    out = connected_components(df)
    got = {}
    for r in out.collect():
        got.setdefault(r.cluster_id, set()).add(r.doc_id)
    assert {frozenset(v) for v in got.values()} == oracle
    # representative = lexicographic min member (deterministic contract)
    for rep, members in got.items():
        assert rep == min(members)


# the id pools mix UTF-8 widths 1-4: Spark orders strings by UTF-8 bytes,
# which is code-point order, so Python's min must pick the same label ("\uffff"
# sorts before the emoji, unlike Java's UTF-16 compareTo)
_CC_IDS = {
    "long": st.one_of(st.integers(-3, 9), st.sampled_from([2**40, -(2**62)])),
    "string": st.text(
        alphabet=st.sampled_from(["a", "Z", "é", "中", "\uffff", "😀", "ﬁ"]),
        max_size=2,
    ),
}


def _nx_components(edges) -> dict:
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(
        (a, b) for a, b in edges if a is not None and b is not None and a != b
    )
    return {n: min(comp) for comp in nx.connected_components(g) for n in comp}


@SPARK_SETTINGS
@pytest.mark.parametrize("kind", ["long", "string"])
@given(data=st.data())
def test_cc_driver_path_equals_star_loop_and_networkx(spark, monkeypatch, kind, data):
    """The driver-side union-find, the star loop (cap patched to 0) and
    networkx give the same min-id assignment and the same schema, with
    self-loops, null endpoints and duplicate edges in the input."""
    from continuousfilteringbenchmark_spark.operators import cluster

    node = st.one_of(st.none(), _CC_IDS[kind])
    edges = data.draw(st.lists(st.tuples(node, node), min_size=1, max_size=20))
    edges += edges[: data.draw(st.integers(0, len(edges)))]  # duplicates
    df = spark.createDataFrame(edges, f"left_id {kind}, right_id {kind}")

    fast = cluster.connected_components(df)
    with monkeypatch.context() as m:
        m.setattr(cluster, "_LOCAL_MAX_EDGES", 0)
        loop = cluster.connected_components(df)
    assert fast.schema == loop.schema
    want = _nx_components(edges)
    assert {r.doc_id: r.cluster_id for r in fast.collect()} == want
    assert {r.doc_id: r.cluster_id for r in loop.collect()} == want


# ------------------------------------------- incremental cluster maintenance
_FOLD_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
_FOLD_EDGES = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@_FOLD_SETTINGS
@given(edges=_FOLD_EDGES, n_batches=st.integers(1, 4))
def test_incremental_cc_merge_folds_to_batch_cc(spark, edges, n_batches):
    """Folding any edge stream batch-by-batch through incremental_cc_merge
    (nodes entering as singletons with their first edge) ends at exactly the
    batch connected components of the full edge set — the invariant
    continuous ER relies on, against a union-find oracle."""
    _check_fold(spark, edges, n_batches)


@_FOLD_SETTINGS
@given(edges=_FOLD_EDGES, n_batches=st.integers(1, 4))
def test_incremental_cc_merge_folds_to_batch_cc_star_loop(
    spark, monkeypatch, edges, n_batches
):
    """The same fold with every reduced graph over the driver-side cap, so
    each merge runs the star loop."""
    from continuousfilteringbenchmark_spark.operators import cluster

    with monkeypatch.context() as m:
        m.setattr(cluster, "_LOCAL_MAX_EDGES", 0)
        _check_fold(spark, edges, n_batches)


def _check_fold(spark, edges, n_batches):
    from continuousfilteringbenchmark_spark.streaming.continuous import (
        incremental_cc_merge,
    )

    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp = {}
    for n in sorted({v for e in edges for v in e}):
        comp.setdefault(find(n), []).append(n)
    oracle = {min(grp): set(grp) for grp in comp.values()}

    assign = spark.createDataFrame([], "doc_id long, cluster_id long")
    known: set[int] = set()
    k = max(1, -(-len(edges) // n_batches))  # ceil split
    for i in range(0, len(edges), k):
        batch = edges[i : i + k]
        fresh = sorted({v for e in batch for v in e} - known)
        known.update(fresh)
        if fresh:
            assign = assign.union(
                spark.createDataFrame(
                    [(v, v) for v in fresh], "doc_id long, cluster_id long"
                )
            )
        bdf = spark.createDataFrame(batch, "left_id long, right_id long")
        assign = incremental_cc_merge(assign, bdf.distinct())
        # keep the lineage short across folds (what the epoch sink does on disk)
        assign = assign.localCheckpoint(eager=True)

    got = {}
    for r in assign.collect():
        got.setdefault(r.cluster_id, set()).add(r.doc_id)
    assert {m: s for m, s in got.items()} == oracle


# --------------------------------------------------- greedy matching fixpoint


def _py_greedy_matching(pairs):
    """Sequential greedy 1:1 matching in (score DESC, l, r) order."""
    out, tl, tr = [], set(), set()
    for l, r, s in sorted(pairs, key=lambda t: (-t[2], t[0], t[1])):
        if l not in tl and r not in tr:
            tl.add(l)
            tr.add(r)
            out.append((l, r, s))
    return sorted(out)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=10_000),
        ),
        min_size=1,
        max_size=30,
    )
)
@SPARK_SETTINGS
def test_unique_mapping_equals_sequential_greedy(spark, raw):
    """The iterated local-dominance fixpoint equals the sequential greedy
    under the total rank order, on random bipartite weighted graphs.
    Scores are made DISTINCT per (l, r) key by construction (dedup keeps
    the max), matching the operator's total-order contract."""
    from continuousfilteringbenchmark_spark.operators.matching import (
        unique_mapping_pairs,
    )

    best = {}
    for li, ri, s in raw:
        key = (f"l{li}", f"r{ri}")
        best[key] = max(best.get(key, -1.0), float(s))
    pairs = [(l, r, s) for (l, r), s in best.items()]
    df = spark.createDataFrame(
        pairs, "left_id string, right_id string, score double"
    )
    got = sorted(map(tuple, unique_mapping_pairs(df).collect()))
    assert got == _py_greedy_matching(pairs)
