"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., plus throughput extras}.

Scaling-efficiency evidence (north rule: N vs 4N cores) is produced by
``scripts/scaling_bench.py`` which shells out to this file at two
parallelism levels and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# cap the bench JVM heap: at sf0.1 every query fits comfortably, and a
# large ceiling just means GC never runs hard and peak RSS balloons to the
# heap size; 16g keeps the measured footprint honest (overridable)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")

import __spark_entry__ as entrymod

# headline set: one per operator family, ordered cheap -> expensive.
# Every entry is a SCALE-path plan (sub-quadratic): dense kNN runs the IVF
# approximate regime (nprobe < n_cells) and range search the LSH+verify
# path — the brute-force knn_embeddings / range_search_embeddings cross
# joins stay in queries() as oracle-checked correctness baselines but do
# NOT headline (a quadratic plan's time is meaningless as a 100 TB signal).
BENCH_QUERIES = [
    "exact_dedup",
    "text_profile",
    "lang_histogram",
    "token_blocks",
    "block_purging",
    "block_filtering",
    "simhash_dedup",
    "minhash_dedup",
    "corpus_curation",
    # round 5: the bucket-grid scale engine over the clean-clean chain —
    # benched because it IS the over-broadcast-cap production path
    "bucketed_scoring",
    "knn_ivf_approx",
    "knn_ivfpq",
    "range_search_lsh",
    "er_clusters",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    names = sys.argv[1:] or BENCH_QUERIES

    from continuousfilteringbenchmark_spark.session import get_spark

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=max(cpus, 8))

    # measurement protocol (reference E5 parity: ITERATIONS=10 averages,
    # ``blockingWorkflows/.../TokenBlocking.java:26,89-126``): n iterations
    # per query; MEDIAN headlines (robust to the sandbox's 3-5x run-to-run
    # CPU-steal variance) with the trimmed mean (drop min+max, average the
    # rest — the reference's average protocol made outlier-resistant)
    # reported alongside, plus the min/max spread
    # full reference E5 protocol parity: ITERATIONS=10
    # (TokenBlocking.java:26) — affordable now that the suite runs ~32 s
    # warm per iteration at sf0.1
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "10"))

    from continuousfilteringbenchmark_spark.session import clear_session_caches

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    trimmed: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    # warm the JVM + parquet footers once so q1 doesn't pay session startup
    entrymod._documents(spark, sf_dir).count()

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # iterations are INTERLEAVED across queries (run the whole list, then
    # repeat): this shared host has multi-minute CPU-steal windows, and
    # back-to-back iterations of one query would hand that whole window to
    # a single query's median; round-robin spreads it across the suite
    # (same discipline as scripts/scaling_bench.py run_levels)
    all_samples: dict[str, list[float]] = {n: [] for n in names}
    # one untimed warm-up pass over the whole list: the first execution of
    # each query pays one-off JIT/codegen/Arrow-worker spin-up (measured:
    # first exact_dedup 7.3 s vs 0.5-0.6 s thereafter), which is session
    # startup cost, not plan cost — the reference's protocol likewise times
    # warm re-executions after an untimed first build (TokenBlocking.java:93)
    for name in names:
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        clear_session_caches(spark)
    for it in range(iters):
        for name in names:
            obs = Observation(f"rows_{name}_{it}")
            t0 = time.perf_counter()
            # construction is INSIDE the timer: iterative operators (connected
            # components) run eager actions while building their result
            df = qs[name](spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("n"))
            # noop write materializes EVERY column (a bare count() would let
            # Catalyst prune unused projections and under-report); the row
            # count rides along as an observation so nothing executes twice
            df.write.mode("overwrite").format("noop").save()
            all_samples[name].append(time.perf_counter() - t0)
            rows[name] = int(obs.get["n"])
            # each run re-constructs its DataFrames, so caches persisted
            # inside one run are garbage to the next: drop them (cached
            # DFs + localCheckpoint blocks) so runs are independent —
            # round-2 regression: leaked caches accumulated to 48 GB JVM RSS
            # and the later iterations measured memory pressure, not plans
            clear_session_caches(spark)
    for name in names:
        samples = sorted(all_samples[name])
        timings[name] = round(samples[len(samples) // 2], 3)
        body = samples[1:-1] if len(samples) > 2 else samples
        trimmed[name] = round(sum(body) / len(body), 3)
        spread[name] = [round(samples[0], 3), round(samples[-1], 3)]

    total = round(sum(timings.values()), 3)
    # throughput proxy for the ER headline: candidate pairs scored per second
    n_docs = entrymod._documents(spark, sf_dir).count()

    # E5 memory-probe parity: the reference ships -Xmx-probed memory variants
    # of every workflow (SURVEY.md E5); here peak RSS of the driver python
    # (VmHWM) + the one local JVM, read from /proc after the run
    def _vmhwm_mb(pid) -> float | None:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM"):
                        return round(int(line.split()[1]) / 1024, 1)
        except OSError:
            return None
        return None

    import subprocess

    try:
        jvm_pids = [
            int(p)
            for p in subprocess.check_output(
                ["pgrep", "-P", str(os.getpid()), "java"]
            ).split()
        ]
    except (subprocess.CalledProcessError, OSError):
        jvm_pids = []
    rss = {"driver_py": _vmhwm_mb(os.getpid())}
    for i, p in enumerate(jvm_pids):
        rss[f"jvm_{i}"] = _vmhwm_mb(p)
    out = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": cpus,
        "rows": rows,
        "n_docs": n_docs,
        "iters": iters,
        "trimmed_mean": trimmed,
        "trimmed_mean_total": round(sum(trimmed.values()), 3),
        "spread_min_max": spread,
        "peak_rss_mb": rss,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
