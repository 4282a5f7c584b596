"""Continuous entity resolution: streaming ingest -> incremental blocking
-> incremental scoring -> incremental cluster maintenance.

The reference stops at candidate filtering and has no stream processing
(its "Continuous" means the benchmark datasets are continuously updated,
reference ``README.md:16``); the north rule's production pipeline, though,
ingests a corpus that never stops growing, and re-running batch ER from
scratch on every arrival is O(corpus) per doc. This module closes the loop
the other streaming extensions opened: where ``incremental.py`` stops at
candidate pairs, ``run_continuous_er`` carries every micro-batch through
scoring AND transitive clustering, maintaining a (doc_id, cluster_id)
assignment table that is at all times equal to what the batch pipeline
(standard blocking -> exact Jaccard >= t -> connected components with
singletons) would produce on the corpus ingested so far — the streaming ==
batch invariant the ``continuous_er`` oracle certifies end-to-end.

Incremental cluster maintenance (``incremental_cc_merge``) is the
rep-mapped reduced-graph trick: new match edges touch existing clusters
only through their representatives, so map each edge endpoint to its
current cluster_id, run connected components on THAT graph (its node set
is bounded by 2x the new-edge count — tiny relative to the corpus), and
compose the resulting rep -> new-rep relabeling back onto the assignment
with one equi-join. Posting-index reads are bounded by epoch compaction
(``compact_every``) and hot blocks by ``max_block_size`` — see
``run_continuous_er``. Correctness of the min-id convention is preserved
because every existing cluster_id is already the minimum of its component:
the minimum over a union of old components (+ new singleton ids) equals
the minimum over their representatives.

Scale shape per micro-batch: tokenize is an embarrassingly parallel scan
of the batch; candidate generation is the stream-static posting join of
incremental.py (cost ∝ batch postings x touched block sizes, never
O(corpus^2)); scoring touches only candidate endpoints; the CC merge runs
on the reduced rep graph; the one O(corpus) operation is the assignment
relabel join, which is a single hash join on cluster_id — in production an
Iceberg MERGE INTO keyed on the (small) set of relabeled cluster_ids.
Every per-epoch artifact (token postings, assignment) is written with
``mode=overwrite`` into an epoch-addressed directory, so micro-batch
replay after failure is idempotent (the exactly-once discipline of
``incremental.py``'s epoch sink, extended to the assignment table —
per-partition lineage lives in the epoch id).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datamodel import DOCS_SCHEMA, agg_text
from ..functions import tokenize as tk
from ..operators.cluster import connected_components


def incremental_cc_merge(assignment: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Fold new match edges into an existing min-id cluster assignment.

    Input:  ``assignment`` (doc_id, cluster_id) — every already-known doc,
            singletons included (cluster_id = own id); ``new_edges``
            (left_id, right_id) — new match pairs whose endpoints all
            appear in ``assignment``.
    Output: (doc_id, cluster_id) — the assignment of the merged graph,
            cluster_id = min doc_id of the merged component.

    Only components actually touched by a new edge are relabeled; the rest
    of the table passes through the final join unchanged (null-coalesced).

    The reduced graph has at most one edge per new match edge, so an epoch
    under ``cluster._LOCAL_MAX_EDGES`` (1M) new edges solves it with the
    driver-side union-find of ``connected_components`` in one bounded
    collect, and the relabel table comes back as a local DataFrame the
    final join can broadcast. Larger epochs run the star loop.
    """
    rep = assignment.select(
        F.col("doc_id").alias("_n"), F.col("cluster_id").alias("_r")
    )
    reduced = (
        new_edges.join(rep.withColumnRenamed("_n", "left_id"), "left_id")
        .withColumnRenamed("_r", "left_rep")
        .join(rep.withColumnRenamed("_n", "right_id"), "right_id")
        .withColumnRenamed("_r", "right_rep")
        .where(F.col("left_rep") != F.col("right_rep"))
        .select(
            F.col("left_rep").alias("left_id"), F.col("right_rep").alias("right_id")
        )
        .distinct()
    )
    relabel = connected_components(reduced, input_distinct=True).select(
        F.col("doc_id").alias("cluster_id"), F.col("cluster_id").alias("_new")
    )
    return assignment.join(relabel, "cluster_id", "left").select(
        "doc_id", F.coalesce("_new", "cluster_id").alias("cluster_id")
    )


def _epoch_dirs(base: str) -> list[tuple[int, str]]:
    """(epoch_id, path) for every committed epoch directory under ``base``."""
    if not os.path.isdir(base):
        return []
    out = []
    for name in os.listdir(base):
        m = re.fullmatch(r"e(\d+)", name)
        if m:
            out.append((int(m.group(1)), os.path.join(base, name)))
    return sorted(out)


_CUMULATIVE_MARKER = "_CUMULATIVE"


def _posting_dirs(base: str, epoch_id: int) -> list[str]:
    """Posting dirs a batch at ``epoch_id`` must read: the newest CUMULATIVE
    epoch (one that compacted the whole index up to itself) subsumes every
    dir at or before it, so only it plus later incrementals are read. The
    marker file is written AFTER the parquet commit; a crash in between
    leaves the batch uncommitted in the streaming checkpoint, so replay
    overwrites the dir and re-creates the marker (same idempotence
    discipline as the data writes)."""
    dirs = [(e, p) for e, p in _epoch_dirs(base) if e < epoch_id]
    cum = [e for e, p in dirs if os.path.exists(os.path.join(p, _CUMULATIVE_MARKER))]
    if not cum:
        return [p for _, p in dirs]
    newest = max(cum)
    return [p for e, p in dirs if e >= newest]


def run_continuous_er(
    spark: SparkSession,
    input_dir: str,
    work_dir: str,
    threshold: float = 0.5,
    max_files_per_trigger: int = 1,
    numeric_ids: bool = True,
    max_block_size: int | None = None,
    compact_every: int | None = 16,
) -> DataFrame:
    """Drive a docs-parquet directory through continuous ER, one file per
    micro-batch, and return the final (doc_id, cluster_id) assignment.

    Per micro-batch (epoch): tokenize the new docs; candidate pairs =
    new x new + new x accumulated-postings on shared word tokens (standard
    blocking, the J5/B1 key); exact Jaccard >= ``threshold`` over word-token
    sets; fold the resulting match edges into the running assignment via
    ``incremental_cc_merge``; extend the posting index. All writes are
    epoch-addressed overwrites (idempotent under micro-batch replay).

    ``max_block_size`` is the streaming analogue of B6 block purging
    (``operators/blocking.py`` ComparisonsBasedBlockPurging, reference
    ``blockingWorkflows/src/...``): tokens whose CUMULATIVE posting count
    exceeds the cap are excluded from candidate generation for that epoch
    (Jaccard verification still uses full token sets, so scores of the
    pairs that ARE generated never change). Without it, one stopword-like
    token shared by k docs costs O(k^2) candidate rows per epoch — at web
    scale an uncapped hot block is the quadratic blow-up the batch chain
    avoids via purging. Capping is recall-affecting: pairs reachable ONLY
    through a hot token are skipped, so the streaming == batch invariant
    holds exactly only when the cap is None (the oracle path) or larger
    than every block.

    ``compact_every`` bounds the posting-index read fan-in: once a batch
    would read that many epoch dirs, it writes the UNION of the index into
    its own epoch dir and marks it cumulative, after which readers touch
    only that dir plus later incrementals. Without compaction a
    long-running stream reads O(epochs) directories per batch (file-listing
    and small-file overhead that grows without bound); with it the fan-in
    is <= compact_every forever. Pure storage-layout change — candidate
    generation, scores and clusters are identical (tested). In production
    the same role is played by Iceberg table maintenance (rewrite_data_files)
    on the postings table.

    Local smoke path uses the file source + ``availableNow`` (synchronous);
    production swaps the source for Kafka and the epoch sinks for Iceberg
    snapshots — same logical plan per batch.
    """
    toks_base = os.path.join(work_dir, "toks")
    assign_base = os.path.join(work_dir, "assign")
    ckpt_dir = os.path.join(work_dir, "ckpt")
    os.makedirs(toks_base, exist_ok=True)
    os.makedirs(assign_base, exist_ok=True)

    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("latestFirst", "false")
        .parquet(input_dir)
    )

    def process_batch(batch_docs: DataFrame, epoch_id: int) -> None:
        if numeric_ids:
            # the docs lift carries numeric ids as strings (DOCS_SCHEMA);
            # cluster_id = min(doc_id) must use the NUMERIC order to equal
            # the batch pipeline over the flat documents table ("10" < "2"
            # lexicographically but not numerically)
            batch_docs = batch_docs.withColumn(
                "doc_id", F.col("doc_id").cast("long")
            )
        # keep the persisted handle separate: batch_docs is reassigned to
        # derived plans below, and unpersist() on a DERIVED frame would not
        # release the base's cache entry (per-epoch leak in a long stream)
        pinned = batch_docs.persist()
        batch_docs = pinned
        toks_new = None
        try:
            prev = [(e, p) for e, p in _epoch_dirs(assign_base) if e < epoch_id]
            if prev:
                assign_prev = spark.read.parquet(prev[-1][1])
            else:
                idt = "long" if numeric_ids else "string"
                assign_prev = spark.createDataFrame(
                    [], f"doc_id {idt}, cluster_id {idt}"
                )
            # re-ingested doc_ids are no-ops (their postings and assignment
            # already exist — re-tokenizing them would double their posting
            # rows and corrupt Jaccard sizes); only genuinely new ids enter.
            # The guard must also hold WITHIN one micro-batch: with
            # max_files_per_trigger > 1 the same doc_id can arrive twice in
            # one trigger, and a semi-join alone would keep both rows
            batch_docs = batch_docs.dropDuplicates(["doc_id"])
            new_ids = (
                batch_docs.select("doc_id")
                .distinct()
                .join(assign_prev.select("doc_id"), "doc_id", "left_anti")
            )
            batch_docs = batch_docs.join(new_ids, "doc_id", "left_semi")
            toks_new = (
                batch_docs.select(
                    "doc_id",
                    F.explode(tk.word_token_set(agg_text("spans"))).alias("tok"),
                )
                .where(F.col("tok") != "")
                .persist()
            )
            prior = _posting_dirs(toks_base, epoch_id)
            if prior:
                toks_old = spark.read.parquet(*prior)
                all_toks = toks_old.union(toks_new)
            else:
                toks_old = None
                all_toks = toks_new

            # candidate-generation views: hot blocks (cumulative posting
            # count > cap) are purged from the join keys only — the full
            # posting index still backs sizes/common for exact Jaccard
            cand_new, cand_old = toks_new, toks_old
            if max_block_size is not None:
                hot = (
                    all_toks.groupBy("tok")
                    .agg(F.count(F.lit(1)).alias("_bs"))
                    .where(F.col("_bs") > int(max_block_size))
                    .select("tok")
                )
                cand_new = toks_new.join(hot, "tok", "left_anti")
                if toks_old is not None:
                    cand_old = toks_old.join(hot, "tok", "left_anti")

            l, r = cand_new.alias("l"), cand_new.alias("r")
            cands = (
                l.join(r, "tok")
                .where(F.col("l.doc_id") < F.col("r.doc_id"))
                .select(
                    F.col("l.doc_id").alias("left_id"),
                    F.col("r.doc_id").alias("right_id"),
                )
            )
            if toks_old is not None:
                new_old = (
                    cand_new.join(
                        cand_old.withColumnRenamed("doc_id", "old_id"), "tok"
                    )
                    .where(F.col("doc_id") != F.col("old_id"))
                    .select(
                        F.least("doc_id", "old_id").alias("left_id"),
                        F.greatest("doc_id", "old_id").alias("right_id"),
                    )
                )
                cands = cands.union(new_old)
            cands = cands.distinct()

            sizes = all_toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
            common = (
                cands.join(
                    all_toks.select(F.col("doc_id").alias("left_id"), "tok"),
                    "left_id",
                )
                .join(
                    all_toks.select(F.col("doc_id").alias("right_id"), "tok"),
                    ["right_id", "tok"],
                )
                .groupBy("left_id", "right_id")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            matches = (
                common.join(
                    sizes.select(F.col("doc_id").alias("left_id"), F.col("sz").alias("lsz")),
                    "left_id",
                )
                .join(
                    sizes.select(F.col("doc_id").alias("right_id"), F.col("sz").alias("rsz")),
                    "right_id",
                )
                .where(
                    F.col("c").cast("double")
                    / (F.col("lsz") + F.col("rsz") - F.col("c"))
                    >= F.lit(float(threshold))
                )
                .select("left_id", "right_id")
            )

            # every new doc enters as its own singleton
            fresh = new_ids.select("doc_id", F.col("doc_id").alias("cluster_id"))
            assign_all = assign_prev.union(fresh)
            merged = incremental_cc_merge(assign_all, matches)
            merged.write.mode("overwrite").parquet(
                os.path.join(assign_base, f"e{epoch_id}")
            )
            # postings committed LAST: a replayed epoch whose crash landed
            # between the two writes recomputes from the same prior index
            toks_path = os.path.join(toks_base, f"e{epoch_id}")
            compact = compact_every is not None and len(prior) + 1 >= compact_every
            if compact:
                # fold the whole index into this epoch's dir; marker after
                # the parquet commit (see _posting_dirs for crash-safety)
                all_toks.write.mode("overwrite").parquet(toks_path)
                open(os.path.join(toks_path, _CUMULATIVE_MARKER), "w").close()
            else:
                toks_new.write.mode("overwrite").parquet(toks_path)
        finally:
            pinned.unpersist()
            if toks_new is not None:
                toks_new.unpersist()

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    epochs = _epoch_dirs(assign_base)
    if not epochs:
        idt = "long" if numeric_ids else "string"
        return spark.createDataFrame([], f"doc_id {idt}, cluster_id {idt}")
    return spark.read.parquet(epochs[-1][1])
