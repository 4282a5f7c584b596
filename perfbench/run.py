"""Entity-resolution benchmark driven through the engine's public API.

    python3 perfbench/run.py --workload dirty_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. One process drives ``local[nproc]`` with one
job in flight (a closed loop with a single client). A run:

1. set-up: starts the Spark session, then generates and writes the seeded
   corpus three times. ``setup_s`` is the session start plus the median
   write, so it does not follow one write's noise; the run pays all three;
2. untimed, the corpus fingerprint, its document count and its gold pairs;
3. timed passes: runs the chain, each pass with fresh output paths, from
   the corpus parquet on disk to the final (doc_id, cluster_id) table
   materialized, until ``--seconds`` of passes have run. There is no
   warm-up pass of the chain: the first pass runs in the JVM that has just
   done the set-up and untimed jobs above, and no chain job before it;
4. after each pass, outside its timer, the correctness gate: pairwise F1 of
   the clusters against the planted gold pairs >= 0.99, and candidate, match
   and cluster counts equal to the first timed pass and to any earlier run
   of the same corpus recipe, seed and engine source (kept under
   ``.perfbench/cache``, with the corpus fingerprint of the recipe and seed).

The last stdout line is one JSON object: ``correct``, ``attempted`` (timed
passes, plus the streaming segment of a traced ``dirty_batch`` run),
``failed`` (those that failed the gate) and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run turns on
Spark's event log and one job group per layer span, and the metrics are the
per-layer ones (medians over the timed passes), also written with per-pass
detail to ``.perfbench/out``. A traced ``dirty_batch`` run then also drives
the streaming layer (``workloads.run_stream``) over a small corpus of its
own, gated against the batch chain, for the ``epoch.*`` and
``cc_merge.wall_s`` metrics; in other runs those read 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid
from collections import Counter
from pathlib import Path

from tracing import EpochListener, Tracer, event_log_file, job_group_stats

ROOT = Path(__file__).resolve().parent.parent
BASE = ROOT / ".perfbench"
WORKLOADS = ("dirty_batch", "skewed_bucketed")
# the workload whose traced run also drives the streaming layer
STREAM_HOST = "dirty_batch"
GEN_REPEATS = 3
DRIVER_HEAP = "1g"

END_TO_END = {
    "docs_per_s": "docs/s",
    "setup_s": "s",
    "pair_f1": "ratio",
    "pc": "ratio",
    "pq": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "tokenize.wall_s": "s",
    "tokenize.busy_s": "s",
    "blocking.wall_s": "s",
    "blocking.busy_s": "s",
    "blocking.shuffle_mb": "MB",
    "blocking.spill_mb": "MB",
    "blocking.rows": "rows",
    "pairs.wall_s": "s",
    "pairs.busy_s": "s",
    "pairs.shuffle_mb": "MB",
    "pairs.candidates": "pairs",
    "score.wall_s": "s",
    "score.busy_s": "s",
    "score.pairs_per_s": "pairs/s",
    "score.match_ratio": "ratio",
    "bucketize.wall_s": "s",
    "bucketed.wall_s": "s",
    "bucketed.busy_s": "s",
    "bucketed.shuffle_mb": "MB",
    "bucketed.pairs_per_s": "pairs/s",
    "cluster.wall_s": "s",
    "cluster.busy_s": "s",
    "cluster.jobs": "count",
    "cluster.util": "ratio",
    "stages.output_mb": "MB",
    "epoch.wall_s": "s",
    "epoch.jobs": "count",
    "epoch.read_mb": "MB",
    "epoch.growth": "ratio",
    "cc_merge.wall_s": "s",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.fetch_wait_s": "s",
    "traced.docs_per_s": "docs/s",
    "traced.uncovered_share": "ratio",
}
LAYERS = ("tokenize", "blocking", "pairs", "score", "bucketize", "bucketed", "cluster")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: Path, cores: int, trace: bool):
    from continuousfilteringbenchmark_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": str(work / "spark-local"),
        # a heap fixed at its cap: a lazily grown heap makes the JVM's peak
        # RSS follow G1's resize decisions, not the work; no perf-data file,
        # which the JVM would write outside the run directory
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        ),
        # pandas-UDF workers import the engine by module path
        "spark.executorEnv.PYTHONPATH": str(ROOT),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cpus=cores, shuffle_partitions=cores, extra_conf=conf)


def descendants(root: int) -> set[int]:
    """Pids of every live process below ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields start after its ')'
        ppid = int(stat.rpartition(")")[2].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found, todo = set(), [root]
    while todo:
        for pid in children.get(todo.pop(), ()):
            if pid not in found:
                found.add(pid)
                todo.append(pid)
    return found


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rpartition(")")[2].split()[0] not in ("Z", "X")
    except OSError:
        return False


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts, so a
    worker orphaned by its parent's exit is reparented here and reaped by
    ``stop_spark`` rather than left to init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(spark) -> None:
    """Stop the session and every process it started: the gateway JVM,
    which exits when its stdin closes, and the python worker daemon and
    workers, which put themselves in their own process group. Waits until
    each has ended, killing any that outlive a grace period, and reaps
    them. With ``spark`` None (a session that failed to start) it still
    ends the processes."""
    from pyspark import SparkContext

    tracked = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                proc = gateway.proc
                if proc is not None:
                    if proc.stdin is not None:
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait()
        deadline = time.monotonic() + 20
        sig = None
        while True:
            reap()
            tracked |= descendants(os.getpid())
            for pid in list(tracked):
                tracked |= descendants(pid)
            tracked = {pid for pid in tracked if alive(pid)}
            if not tracked:
                break
            if time.monotonic() > deadline:
                sig = signal.SIGKILL if sig is signal.SIGTERM else signal.SIGTERM
                log(f"sending {sig.name} to leftover processes {sorted(tracked)}")
                for pid in tracked:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.1)
        # a child that exited since the last pass
        reap()


def make_work_dir(name: str) -> Path:
    """A fresh run directory under ``.perfbench/runs`` for every file the
    run, its JVM and its python workers write."""
    work = BASE / "runs" / name
    for d in ("tmp", "spark-local", "eventlog"):
        (work / d).mkdir(parents=True)
    return work


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_mb(path: Path) -> float:
    if not path.exists():
        return 0.0
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 1e6


def stream_metrics(tracer, listener, log_path: str) -> dict[str, float]:
    """Per-layer metrics of the streaming segment: medians over its epochs
    of trigger-execution wall, jobs and input bytes read, the growth of
    epoch latency (last quarter of epochs over the first), and the median
    ``incremental_cc_merge`` wall."""
    keys = sorted(listener.epoch_s, key=lambda k: int(k[1]))
    walls = [listener.epoch_s[k] for k in keys]
    stats = job_group_stats(
        log_path, key=lambda p: (p.get("sql.streaming.queryId"), p.get("streaming.sql.batchId"))
    )
    epochs = [stats.get(k, Counter()) for k in keys]
    q = max(1, len(walls) // 4)
    return {
        "epoch.wall_s": statistics.median(walls),
        "epoch.jobs": statistics.median(e["jobs"] for e in epochs),
        "epoch.read_mb": statistics.median(e["read_bytes"] for e in epochs) / 1e6,
        "epoch.growth": statistics.median(walls[-q:]) / statistics.median(walls[:q]),
        "cc_merge.wall_s": statistics.median(tracer.span_walls("stream", "cc_merge")),
    }


def layer_metrics(tracer, stats, it: int, wall: float, counts: dict, n_docs: int,
                  cores: int, output_mb: float) -> dict[str, float]:
    """Per-layer metrics of timed pass ``it`` from its spans and the event
    log stats of its job groups. A layer that did not run reads 0."""
    walls = tracer.walls(it)
    g = {layer: stats.get(tracer.group(layer, it), Counter()) for layer in LAYERS}
    every = sum(g.values(), Counter())
    m = {f"{layer}.wall_s": walls.get(layer, 0.0) for layer in LAYERS}
    for layer in ("tokenize", "blocking", "pairs", "score", "bucketed", "cluster"):
        m[f"{layer}.busy_s"] = g[layer]["busy_ms"] / 1e3
    for layer in ("blocking", "pairs", "bucketed"):
        m[f"{layer}.shuffle_mb"] = g[layer]["shuffle_bytes"] / 1e6
    m["blocking.spill_mb"] = g["blocking"]["spill_bytes"] / 1e6
    m["blocking.rows"] = counts["block_rows"]
    m["pairs.candidates"] = counts["candidates"]
    for layer in ("score", "bucketed"):
        ran = walls.get(layer, 0.0) > 0
        m[f"{layer}.pairs_per_s"] = counts["candidates"] / walls[layer] if ran else 0.0
    m["score.match_ratio"] = (
        counts["matches"] / counts["candidates"] if walls.get("score") else 0.0
    )
    m["cluster.jobs"] = g["cluster"]["jobs"]
    m["cluster.util"] = m["cluster.busy_s"] / (m["cluster.wall_s"] * cores)
    m["stages.output_mb"] = output_mb
    m["spark.failed_tasks"] = every["failed_tasks"]
    m["spark.gc_s"] = every["gc_ms"] / 1e3
    m["spark.fetch_wait_s"] = every["fetch_wait_ms"] / 1e3
    m["traced.docs_per_s"] = n_docs / wall
    m["traced.uncovered_share"] = 1 - sum(walls.values()) / wall
    for name in ("epoch.wall_s", "epoch.jobs", "epoch.read_mb", "epoch.growth",
                 "cc_merge.wall_s"):
        m[name] = 0.0
    return m


def run_stream_segment(spark, tracer, seed: int, work: Path, cores: int) -> dict:
    """The streaming layer: stage its corpus and compute the batch chain's
    assignment (untimed), run the stream with the epoch listener on, then
    gate its final assignment. Returns the segment's detail."""
    import workloads as W

    docs = W.write_stream_input(spark, str(work / "stream"), seed, cores)
    want = {(r.doc_id, r.cluster_id) for r in W.batch_chain_clusters(docs).collect()}
    gold = W.gold_pairs(docs)
    listener = EpochListener()
    spark.streams.addListener(listener)
    tracer.iteration = "stream"
    t0 = time.perf_counter()
    try:
        assignment = W.run_stream(spark, str(work / "stream" / "in"), str(work / "stream" / "run"),
                                  tracer)
        wall = time.perf_counter() - t0
        listener.wait_for(W.STREAM_EPOCHS)
    finally:
        tracer.iteration = None
        spark.streams.removeListener(listener)
    f1, problems = W.stream_gate(assignment, want, gold)
    log(f"stream: {len(listener.epoch_s)} epochs in {wall:.2f}s f1={f1:.4f}")
    return {"wall_s": wall, "n_docs": len(want), "f1": f1, "problems": problems,
            "listener": listener}


def run(spark, workload: str, seed: int, seconds: float, trace: bool, work: Path,
        session_s: float, entities: int | None = None) -> tuple[dict, dict]:
    """One benchmark run on an open session; returns (result, detail)."""
    from continuousfilteringbenchmark_spark.session import clear_session_caches

    import workloads as W

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    recipe = dict(W.RECIPES[workload])
    if entities is not None:
        recipe["entities"] = entities
    chain = W.CHAINS[workload]
    tracer = Tracer(sc, job_groups=trace)
    corpus = str(work / "corpus")

    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        W.write_corpus(spark, corpus, seed, recipe, partitions=cores)
        gen_s.append(time.perf_counter() - t0)
    docs = spark.read.parquet(corpus)
    setup_s = session_s + statistics.median(gen_s)
    log(f"{workload} seed={seed} {recipe}: setup {setup_s:.2f}s "
        f"(session {session_s:.2f}, write {statistics.median(gen_s):.2f})")

    # untimed: corpus fingerprint against an earlier run of this recipe
    n_docs = docs.count()
    digest = W.corpus_digest(docs)
    gold = W.gold_pairs(docs)
    # the corpus is keyed by its recipe; its counts also by the engine's code
    key = W.recipe_key(workload, seed, recipe)
    corpus_file = BASE / "cache" / f"corpus-{key}.json"
    counts_file = BASE / "cache" / f"counts-{key}-{W.engine_key()}.json"
    problems = []
    if corpus_file.exists():
        cached_digest = json.loads(corpus_file.read_text())["digest"]
        if cached_digest != digest:
            problems.append(f"corpus digest {digest} != cached {cached_digest}")
    expected = json.loads(counts_file.read_text()) if counts_file.exists() else None
    cached = expected is not None

    walls, f1s, per_pass, failed = [], [], [], 0
    pc = pq = None
    while not walls or sum(walls) < seconds:
        it = tracer.iteration = len(walls)
        out_dir = work / f"pass{it}"
        t0 = time.perf_counter()
        out = chain(spark, docs, tracer, str(out_dir))
        wall = time.perf_counter() - t0
        tracer.iteration = None
        t0 = time.perf_counter()
        counts, f1, pass_problems = W.gate(out, gold, expected)
        expected = expected or counts
        if pc is None:
            pc, pq = W.candidate_quality(out, gold)
        if pass_problems:
            failed += 1
            problems += [f"pass {it}: {p}" for p in pass_problems]
        walls.append(wall)
        f1s.append(f1)
        per_pass.append({"wall_s": wall, "counts": counts, "spans": tracer.walls(it),
                         "output_mb": dir_mb(out_dir / "stages")})
        clear_session_caches(spark)
        shutil.rmtree(out_dir, ignore_errors=True)
        log(f"pass {it}: {wall:.2f}s {counts} f1={f1:.4f} (gate {time.perf_counter() - t0:.2f}s)")
    peak_rss_mb = vm_hwm_mb(sc._jvm.java.lang.ProcessHandle.current().pid()) + vm_hwm_mb(os.getpid())

    stream = None
    if trace and workload == STREAM_HOST:
        stream = run_stream_segment(spark, tracer, seed, work, cores)
        if stream["problems"]:
            failed += 1
            problems += stream["problems"]

    for p in problems:
        log(f"GATE FAILED {p}")
    if not problems:
        counts_file.parent.mkdir(parents=True, exist_ok=True)
        if not corpus_file.exists():
            corpus_file.write_text(json.dumps({"recipe": recipe, "seed": seed, "digest": digest}))
        if not cached:
            counts_file.write_text(json.dumps(expected))

    if trace:
        log_path = event_log_file(sc.getConf().get("spark.eventLog.dir"), sc.applicationId)
        stats = job_group_stats(log_path)
        for it, p in enumerate(per_pass):
            p["layers"] = layer_metrics(tracer, stats, it, p["wall_s"], p["counts"], n_docs,
                                        cores, p["output_mb"])
        metrics = {
            name: statistics.median(p["layers"][name] for p in per_pass) for name in PER_LAYER
        }
        if stream is not None:
            stream["layers"] = stream_metrics(tracer, stream.pop("listener"), log_path)
            metrics.update(stream["layers"])
        units = PER_LAYER
    else:
        metrics = {
            "docs_per_s": statistics.median(n_docs / w for w in walls),
            "setup_s": setup_s,
            "pair_f1": statistics.median(f1s),
            "pc": pc,
            "pq": pq,
            "peak_rss_mb": peak_rss_mb,
        }
        units = END_TO_END
    result = {
        "correct": not problems,
        "attempted": len(walls) + (stream is not None),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    detail = {"workload": workload, "seed": seed, "recipe": recipe, "n_docs": n_docs,
              "cores": cores, "trace": trace, "setup_s": setup_s, "gen_s": gen_s,
              "problems": problems, "passes": per_pass, "stream": stream}
    return result, detail


def print_layer_table(detail: dict) -> None:
    passes = detail["passes"]
    total = statistics.median(p["wall_s"] for p in passes)
    log(f"per-layer medians over {len(passes)} timed passes (pass wall {total:.2f}s):")
    for layer in LAYERS:
        wall = statistics.median(p["layers"][f"{layer}.wall_s"] for p in passes)
        if wall:
            log(f"  {layer:<10} {wall:7.2f}s  {100 * wall / total:5.1f}% of the pass")
    uncovered = statistics.median(p["layers"]["traced.uncovered_share"] for p in passes)
    log(f"  uncovered  {100 * uncovered:5.1f}% of the pass")
    stream = detail["stream"]
    if stream is not None:
        m = stream["layers"]
        log(f"stream ({stream['n_docs']} docs, {stream['wall_s']:.2f}s): "
            f"epoch {m['epoch.wall_s']:.2f}s median, {m['epoch.jobs']:.0f} jobs, "
            f"{m['epoch.read_mb']:.3f} MB read, growth {m['epoch.growth']:.2f}, "
            f"cc_merge {m['cc_merge.wall_s']:.2f}s "
            f"({100 * m['cc_merge.wall_s'] / m['epoch.wall_s']:.0f}% of an epoch)")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "continuousfilteringbenchmark_spark" / "__init__.py").is_file():
        print(f"no engine package beside the benchmark under {ROOT}", file=sys.stderr)
        return 2

    work = make_work_dir(uuid.uuid4().hex)
    # inherited by the JVM and its python workers
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    # a terminated run still unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    adopt_orphans()
    spark = None
    try:
        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = start_session(work, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        result, detail = run(spark, args.workload, args.seed, args.seconds, bool(args.trace),
                             work, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    out = BASE / "out"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**detail, "result": result}, indent=1)
    )
    if args.trace:
        print_layer_table(detail)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
