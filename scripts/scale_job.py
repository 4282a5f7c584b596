"""One parallelism level of the scaling bench: run the full ER pipeline
(token blocking -> purging -> filtering -> candidate pairs -> Jaccard
scoring -> connected components) over a docs parquet and print one JSON line
with per-stage wall times and row counts.

Run as a subprocess per level (fresh JVM, no warm-cache bleed):
    SPARK_GRAFT_CPUS=8 python scripts/scale_job.py BENCH/data/docs.parquet
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def corpus_digest(docs) -> tuple[int, str]:
    """(document count, content digest) of a docs table in one Spark job:
    ``bit_xor`` of ``xxhash64(doc_id, spans)`` over the rows, as perfbench
    fingerprints its corpora. Two corpora with the same document count
    still get different digests."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("doc_id", "spans")).alias("h"),
    ).collect()[0]
    return int(row["n"]), format((row["h"] or 0) & (2**64 - 1), "016x")


def bucket_store_path(root: str, n_docs: int, digest: str, n_buckets: int) -> str:
    """The token bucket store of one corpus: reused only by a run over the
    same content, never by another corpus of the same size."""
    return os.path.join(root, f"tokens_{n_docs}_{digest}_{n_buckets}")


def main() -> None:
    path = sys.argv[1]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # SPARK_GRAFT_EXECUTORS=N selects a local-cluster master with N separate
    # 2-core executor JVMs (the N -> 4N *executor* axis of the north rule);
    # unset -> single-JVM local[cpus] (thread axis)
    n_exec = os.environ.get("SPARK_GRAFT_EXECUTORS")

    from continuousfilteringbenchmark_spark.session import get_spark
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.operators.cluster import clusters_with_singletons
    from continuousfilteringbenchmark_spark.plans.pipeline import docs_with_tokens, score_pairs

    if n_exec:
        cores_per_exec = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
        cpus = int(n_exec) * cores_per_exec
        # tmpfs shuffle dirs: isolates the N-vs-4N comparison from overlay-fs
        # disk behavior (a real cluster has NVMe shuffle volumes per node)
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
        os.makedirs(local_dir, exist_ok=True)
        # standalone workers take shuffle dirs from SPARK_LOCAL_DIRS, not
        # spark.local.dir (Spark warns and ignores the conf) — export it so
        # the executors actually shuffle on tmpfs
        os.environ["SPARK_LOCAL_DIRS"] = local_dir
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spark = get_spark(
            "scale_job",
            shuffle_partitions=cpus * 2,
            master=f"local-cluster[{n_exec},{cores_per_exec},6144]",
            extra_conf={
                "spark.executor.memory": "3g",
                "spark.local.dir": local_dir,
                # the local-cluster stand-in for `spark-submit --py-files`:
                # executor python workers must import the package for the
                # pandas-UDF closures (scoring kernels) pickled by reference
                "spark.executorEnv.PYTHONPATH": repo_root,
                # reap out-of-scope shuffle files mid-job: the pair-distinct
                # shuffle alone is tens of GB at >=1M entities and this
                # sandbox has ~80 GB of scratch
                "spark.cleaner.periodicGC.interval": "2min",
                # knob for shuffle-compression experiments (tmpfs shuffle
                # dirs make compression a pure-CPU tradeoff); measured both
                # ways on this host — ON (the production default) wins
                "spark.shuffle.compress": os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"),
                "spark.shuffle.spill.compress": os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "true"),
                # cap each JVM's GC/JIT/netty pool sizing at its task-slot
                # count: on a 32-vCPU host every executor would otherwise
                # spawn ~32-wide service pools, and the aggregate thread
                # count (not the task slots) is what exhausts the scheduler.
                # Do NOT pre-touch the heap (-Xms=-Xmx -XX:+AlwaysPreTouch,
                # an earlier iteration): this host's kernel runs DAMON-style
                # proactive reclaim and punishes large-RSS processes
                # continuously — measured 2026-08-18: four 5g-pretouch JVMs
                # take 33 s to start (0.6 s alone) and then compute an 8e9-row
                # sqrt-sum NO faster than one executor (11.9 s vs 12.3 s),
                # while stock-heap executors register in 1 s and run the same
                # job in 4.1 s (~3x, near the 2-core/exec ideal). Lazy heap
                # growth costs nothing measurable on the right-sized 3g heap.
                "spark.executor.extraJavaOptions": (
                    f"-XX:ActiveProcessorCount={cores_per_exec + 1}"
                ),
                "spark.driver.extraJavaOptions": "-XX:ActiveProcessorCount=2",
                "spark.driver.memory": "8g",
            },
        )
    else:
        spark = get_spark("scale_job", cpus=cpus, shuffle_partitions=cpus)
    if n_exec:
        # Wait for EVERY executor to register before any timed work: the
        # standalone scheduler starts jobs at minRegisteredResourcesRatio
        # well before all executors are up, which would bill executor
        # startup to the first timed stages of the larger level only.
        want = int(n_exec) + 1  # executors + driver block-manager entries
        deadline = time.time() + 300
        while time.time() < deadline:
            if spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() >= want:
                break
            time.sleep(1)
        else:
            raise SystemExit(f"only {spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1}/{n_exec} executors registered after 300s")
        # one task per core across the cluster: forces executor-side class
        # loading + codegen JIT before the timers (same warm-up every level)
        spark.range(0, 10_000_000, 1, cpus * 2).selectExpr("sum(id)").collect()
    docs = spark.read.parquet(path)
    # warm parquet footers / JVM before the timers; the digest keys the
    # bucket store below
    n_docs, digest = corpus_digest(docs)

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def stage(name: str, df):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        return df

    t_all = time.perf_counter()
    t0 = time.perf_counter()
    tokened = docs_with_tokens(docs, side_from_prefix=False).persist()
    counts["docs"] = tokened.count()
    timings["tokenize"] = round(time.perf_counter() - t0, 3)

    blocks = B.standard_blocking(tokened.withColumn("side", F.lit("A")), "text")
    t0 = time.perf_counter()
    purged = B.block_purging(blocks, clean_clean=False)  # runs the histogram job eagerly
    timings["purge_cutoff"] = round(time.perf_counter() - t0, 3)
    filtered = B.block_filtering(purged, 0.5, clean_clean=False).persist()
    stage("blocking", filtered)

    # NOT persisted: the count below materializes the distinct's shuffle
    # files, and scoring's re-read reuses those same shuffle outputs — a
    # persist would spill a second full copy of the pair table to the same
    # scratch disk (measured ~25 GB extra at 1M entities) for zero saved work
    pairs = B.pairs_from_blocks(filtered, clean_clean=False)
    t0 = time.perf_counter()
    counts["candidate_pairs"] = pairs.count()
    timings["candidate_pairs"] = round(time.perf_counter() - t0, 3)

    engine = os.environ.get("SPARK_GRAFT_SCORE_ENGINE", "auto")
    bucket_path = None
    if engine in ("bucketed", "auto"):
        # write-time doc_id bucketing (production stage-table layout):
        # sized so a bucket holds ~30k docs; on disk, not tmpfs — bucket
        # files are the co-location substrate the cell tasks re-read
        import math
        import shutil

        n_buckets = int(os.environ.get("SPARK_GRAFT_BUCKETS", "0")) or max(
            8, 2 ** math.ceil(math.log2(max(n_docs / 30000, 1)))
        )
        bucket_path = bucket_store_path(
            os.environ.get("SPARK_GRAFT_BUCKET_DIR", "/root/spark-buckets"),
            n_docs,
            digest,
            n_buckets,
        )
        t0 = time.perf_counter()
        from continuousfilteringbenchmark_spark.plans.bucketed import (
            write_token_buckets,
        )

        if not os.path.exists(os.path.join(bucket_path, "_SUCCESS")):
            shutil.rmtree(bucket_path, ignore_errors=True)
            write_token_buckets(tokened, bucket_path, n_buckets)
        timings["bucketize"] = round(time.perf_counter() - t0, 3)

    matches = (
        score_pairs(
            pairs,
            tokened,
            "jaccard",
            min_score=0.5,
            engine=engine,
            bucket_path=bucket_path,
        )
        .select("left_id", "right_id")
        .persist()
    )
    t0 = time.perf_counter()
    counts["matches"] = matches.count()
    timings["scoring"] = round(time.perf_counter() - t0, 3)
    filtered.unpersist()

    t0 = time.perf_counter()
    # construction is INSIDE the timer: the large-star/small-star loop runs
    # eager jobs (localCheckpoint + convergence checksums) while building
    clusters = clusters_with_singletons(
        tokened.select("doc_id"), matches, input_distinct=True
    )
    counts["clusters"] = clusters.select("cluster_id").distinct().count()
    timings["clustering"] = round(time.perf_counter() - t0, 3)

    total = round(time.perf_counter() - t_all, 3)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "executors": int(n_exec) if n_exec else None,
                "n_docs": n_docs,
                "total_sec": total,
                "stages": timings,
                "counts": counts,
                "pairs_per_sec": round(
                    counts["candidate_pairs"]
                    / max(total - timings["clustering"], 1e-9),
                    1,
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
