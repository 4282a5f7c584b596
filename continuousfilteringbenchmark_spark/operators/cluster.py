"""Transitive clustering: connected components over the match-pair graph.

The reference stops at candidate pairs (it never clusters); the north rule
adds transitive clustering. Two regimes, split on the cleaned edge count
(self-loops and null endpoints dropped, duplicates removed unless the
caller vouches for distinct input):

* **at most ``_LOCAL_MAX_EDGES`` edges (1M)** — one bounded collect of the
  edge list (``limit(cap + 1)``, the ``score_pairs`` probe pattern) and a
  union-find on the driver (path halving, union by smaller root, so every
  root is its component's minimum id). The assignment comes back as a local
  DataFrame. One or two Spark jobs instead of ~40: at ER sizes the star loop
  is all fixed per-job cost, and the streaming merge runs it every epoch.
  The cap bounds the driver, not the speed-up: 1M edges are ~400 MB of
  driver Python and ~15 s on 4 cores, and it is the same number as
  ``score_pairs``' ``broadcast_rows`` default. Past it the loop's per-job
  cost is small next to its executor work, and the edge table may not fit
  a driver at all (the 1M-entity anchor's 1.13M match edges stay on the
  loop).
* **over the cap** — alternating large-star / small-star contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) expressed as DataFrame joins — the only iterative physical
  pattern in the engine (SURVEY.md §4.2). Over the cap the bounded probe
  costs one extra pass over the edges.

Both regimes label a component by its minimum id, so they return the same
assignment with the same schema.

Star-loop driver-coordination budget (the part that anti-scaled at 4
executors in round 2): per checkpoint cadence the loop now runs

* ``rounds_per_checkpoint`` large+small star rounds per lineage cut
  (each round references its input ~12x, so k rounds between cuts grow the
  logical plan ~12^k — k=2 keeps Catalyst re-analysis trivial while halving
  the number of barriers);
* ONE job per cadence: the convergence checksum rides the eager checkpoint
  as an ``Observation`` (CollectMetrics), so there is no separate
  driver-side checksum job at all;
* the previous cadence's checkpoint RDD is unpersisted as soon as the new
  one is materialized (it is no longer referenced), and the final result is
  compacted to a small checkpointed assignment table with every edge
  checkpoint freed — a bench/session loop no longer accumulates storage
  (round-2 regression: 48 GB JVM RSS from leaked checkpoints).

On a production cluster swap ``localCheckpoint`` for reliable checkpoints so
the loop survives executor loss; cadence and hygiene are unchanged.

The loop converges in O(log^2 n) rounds; each round is two (groupBy-min +
join) passes. Cluster ids are the minimum doc_id of the component
(deterministic, independent of partitioning — tested at local[2] vs
local[8]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType

# edge-count cap of the driver-side union-find (see the module docstring);
# tests patch it to 0 to force the star loop
_LOCAL_MAX_EDGES = 1_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Emits (larger_nbr, min)."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("_mv"))
    mins = mins.select("u", F.least("u", "_mv").alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Operating on edges directed high->low (u > v): for each u, link all of
    its smaller neighbors and itself to the minimum of them. Emits star
    edges (node, min)."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    relink = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select(F.col("u"), F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    return relink


def _persistent_ids(sc) -> set[int]:
    """Ids of all currently-persisted RDDs (includes localCheckpoint blocks)."""
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def _own_checkpoint_ids(out: DataFrame, sc, pre: set[int]) -> set[int]:
    """Ids of the RDD(s) a just-materialized ``checkpoint()`` persisted.

    Primary path reads the ``LogicalRDD`` root of the returned Dataset —
    exact, and immune to RDDs persisted CONCURRENTLY by other driver
    threads (a pre/post diff of the global persistent-RDD set would capture
    those and later unpersist someone else's only copy of a localCheckpoint).
    Fallback (plan shape ever changes): the global diff, which is correct
    for single-threaded drivers."""
    try:
        return {int(out._jdf.queryExecution().analyzed().rdd().id())}
    except Exception:
        return _persistent_ids(sc) - pre


def _unpersist_ids(sc, ids: set[int]) -> None:
    m = sc._jsc.getPersistentRDDs()
    for rid in ids:
        if rid in m:
            m[rid].unpersist(False)


def _local_components(edges: DataFrame) -> DataFrame | None:
    """Components of a cleaned (u, v) edge table on the driver, or None when
    it has more than ``_LOCAL_MAX_EDGES`` edges (the collect stops at
    cap + 1) or its id type does not order like Python values.

    Python compares ``str`` by code point and Spark compares UTF-8 bytes;
    UTF-8 preserves code-point order, so both ``min`` labels agree. Collated
    strings and non-integral numbers order differently and take the loop."""
    t = edges.schema["u"].dataType
    if t != edges.schema["v"].dataType or not (
        isinstance(t, IntegralType) or t == StringType()
    ):
        return None
    tbl = edges.limit(_LOCAL_MAX_EDGES + 1).toArrow()
    if tbl.num_rows > _LOCAL_MAX_EDGES:
        return None
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(tbl.column("u").to_pylist(), tbl.column("v").to_pylist()):
        ra = find(parent.setdefault(a, a))
        rb = find(parent.setdefault(b, b))
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    nodes = list(parent)
    typ = tbl.schema.field("u").type
    out = pa.table(
        {
            "doc_id": pa.array(nodes, typ),
            "cluster_id": pa.array([find(n) for n in nodes], typ),
        }
    )
    # same column types and nullability as the loop's groupBy-min output
    schema = StructType(
        [StructField("doc_id", t, True), StructField("cluster_id", t, True)]
    )
    return edges.sparkSession.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 30,
    rounds_per_checkpoint: int = 2,
    checkpoint_dir: str | None = None,
    input_distinct: bool = False,
) -> DataFrame:
    """Connected components of an undirected pair graph.

    Input:  DataFrame(left_id, right_id)
    Output: DataFrame(doc_id, cluster_id) for every node appearing in any
            pair; cluster_id = min doc_id of the component.

    Graphs of at most ``_LOCAL_MAX_EDGES`` cleaned edges are solved on the
    driver (see the module docstring); ``max_iter``, ``rounds_per_checkpoint``
    and ``checkpoint_dir`` apply only over that cap, to the star loop.

    Star loop: one Spark job per ``rounds_per_checkpoint`` star rounds; the
    eager checkpoint both truncates lineage and carries the convergence
    checksum as an attached Observation (count + bit_xor of the edge
    hashes — a fixpoint is detected when two consecutive cadences agree;
    the star fixpoint is stable, so batching detects convergence at most
    ``rounds_per_checkpoint - 1`` cheap rounds late). Superseded checkpoint
    RDDs are unpersisted immediately; the returned assignment is itself a
    compact checkpoint so no edge-table storage outlives the call.

    ``checkpoint_dir``: when set, each cadence cuts lineage with a RELIABLE
    checkpoint written under this (HDFS-compatible) path instead of
    executor-local blocks — the production mode: the loop survives executor
    loss, at the cost of a filesystem round-trip per cadence. The
    convergence/unpersist machinery is identical; superseded checkpoint
    *files* are reclaimed by Spark's ContextCleaner
    (``spark.cleaner.referenceTracking.cleanCheckpoints=true``) or by
    deleting the directory after the returned assignment is consumed.
    """
    from pyspark.sql import Observation

    init = pairs.select(
        F.col("left_id").alias("u"), F.col("right_id").alias("v")
    ).where(F.col("u") != F.col("v"))
    if not input_distinct:
        # duplicate edges are harmless to the star rounds (min-agg absorbs
        # them and each round ends in distinct) but inflate round-1 volume;
        # callers whose pairs are distinct BY CONSTRUCTION (comparison
        # propagation / lsh_candidates / epsilon_join all end in a pair
        # distinct or per-pair agg) pass input_distinct=True to skip this
        # full-edge-table shuffle
        init = init.distinct()
    local = _local_components(init)
    if local is not None:
        return local

    sc = pairs.sparkSession.sparkContext
    restore_ckpt_dir = False
    prev_ckpt_dir = None
    if checkpoint_dir is not None:
        # remember the session's configured checkpoint dir and restore it on
        # exit — setCheckpointDir is session-global and silently clobbering
        # the caller's directory would redirect THEIR later checkpoints.
        # "No dir configured" is itself a state to restore: leaving ours set
        # would point the caller's later checkpoints at OUR scratch path
        # (which the docstring tells them to delete)
        opt = sc._jsc.sc().getCheckpointDir()
        prev_ckpt_dir = opt.get() if opt.isDefined() else None
        restore_ckpt_dir = True
        sc.setCheckpointDir(checkpoint_dir)

    def _cut(df: DataFrame, tag: str, held: set[int]) -> tuple[DataFrame, tuple, set[int]]:
        """Eager checkpoint with the checksum riding as an observation; frees
        ``held`` (the ids of the checkpoint this one supersedes)."""
        obs = Observation(tag)
        pre = _persistent_ids(sc)
        observed = df.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        )
        if checkpoint_dir is not None:
            out = observed.checkpoint(eager=True)
        else:
            out = observed.localCheckpoint(eager=True)
        own = _own_checkpoint_ids(out, sc, pre)
        _unpersist_ids(sc, held)
        return out, (int(obs.get["n"]), int(obs.get["h"])), own

    held: set[int] = set()
    try:
        edges, prev, held = _cut(init, "cc_init", set())
        for i in range(0, max_iter, rounds_per_checkpoint):
            step = edges
            for _ in range(rounds_per_checkpoint):
                step = _small_star(_large_star(step))
            edges, cur, held = _cut(step, f"cc_{i}", held)
            if cur == prev:
                break
            prev = cur

        # fixpoint is a star forest: edges (node -> component min); compact the
        # result to its own (small) checkpoint and free the final edge table
        assign = (
            edges.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
            .union(
                edges.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
            )
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        if checkpoint_dir is not None:
            assign = assign.checkpoint(eager=True)
        else:
            assign = assign.localCheckpoint(eager=True)
        _unpersist_ids(sc, held)
        return assign
    finally:
        # error-path hygiene: if the loop died mid-cadence (executor loss,
        # OOM, interrupt) the last edge-table checkpoint is still persisted;
        # idempotent (ids already freed on the success path are absent from
        # getPersistentRDDs)
        _unpersist_ids(sc, held)
        if restore_ckpt_dir:
            # scala setCheckpointDir(null) maps to Option(null) = None — the
            # exact "unset" state; the python wrapper rejects None, so go
            # through the JVM handle for that case
            if prev_ckpt_dir is not None:
                sc.setCheckpointDir(prev_ckpt_dir)
            else:
                sc._jsc.sc().setCheckpointDir(None)


def cluster_diagnostics(
    clusters: DataFrame,
    matches: DataFrame,
    docs: DataFrame | None = None,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-cluster health surface for transitive clustering — the
    chain-collapse detector: connected components happily merge A-B-C-D
    chains where only adjacent pairs matched, and at corpus scale the only
    way to notice is a density metric, not eyeballing.

    Output per non-singleton cluster, ALL-INTEGER (exactly reproducible):

        (cluster_id, n_members, n_edges, n_possible, max_source_n)

    * ``n_edges`` / ``n_possible`` (= C(n_members, 2)) is the edge density
      — a value near n_members-1 out of n_possible flags a chain/star
      collapse, near n_possible a genuine clique;
    * ``max_source_n`` (when ``docs`` with ``source_col`` is given) is the
      purity numerator — max_source_n / n_members near 1.0 means the
      cluster is single-source (suspicious for cross-source linkage jobs).

    Three aggregations on cluster keys; no pair materialization beyond the
    match edges that already exist.  An edge counts toward ``n_edges`` only
    when BOTH endpoints sit in the same cluster — for CC-derived clusters
    over the same ``matches`` table that is every edge, but for any other
    pairing (superset edge sets, filtered clusterings) one-sided attribution
    would inflate ``n_edges`` and let density exceed 1.
    """
    asg = clusters.select(F.col(id_col).alias("_id"), "cluster_id")
    stats = asg.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    stats = stats.where(F.col("n_members") > 1).withColumn(
        "n_possible", F.expr("(n_members * (n_members - 1)) div 2")
    )
    edges = (
        matches.select(F.col("left_id").alias("_id"), "right_id")
        .join(asg, "_id")
        .select(F.col("right_id").alias("_id"), "cluster_id")
        .join(asg.withColumnRenamed("cluster_id", "_rcluster"), "_id")
        .where(F.col("cluster_id") == F.col("_rcluster"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    out = stats.join(edges, "cluster_id", "left").withColumn(
        "n_edges", F.coalesce("n_edges", F.lit(0))
    )
    if docs is not None:
        src_n = (
            asg.join(
                docs.select(F.col(id_col).alias("_id"), F.col(source_col).alias("_src")),
                "_id",
            )
            .groupBy("cluster_id", "_src")
            .agg(F.count(F.lit(1)).alias("_n"))
            .groupBy("cluster_id")
            .agg(F.max("_n").alias("max_source_n"))
        )
        out = out.join(src_n, "cluster_id")
        return out.select(
            "cluster_id", "n_members", "n_edges", "n_possible", "max_source_n"
        )
    return out.select("cluster_id", "n_members", "n_edges", "n_possible")


def clusters_with_singletons(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    input_distinct: bool = False,
) -> DataFrame:
    """Full clustering table: every doc gets a cluster; unmatched docs become
    singleton clusters (cluster_id = own doc_id)."""
    cc = connected_components(pairs, input_distinct=input_distinct)
    all_ids = docs.select(F.col(id_col).alias("doc_id")).distinct()
    return all_ids.join(cc, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )
