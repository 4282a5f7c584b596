"""Benchmark-side tracing: wall-clock spans around calls into the engine's
layers, one Spark job group per span, and a reader for Spark's event log
that sums the task metrics of each span's jobs.

Nothing here reaches inside the engine: a span wraps one public call plus
the action that materializes its output, and the per-layer counters are the
``TaskEnd`` metrics of the jobs that ran under that span's job group. A
streaming query's micro-batches are timed by ``EpochListener`` and their
jobs found by the ``streaming.sql.batchId`` property Spark sets on them.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import Counter, defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Records (iteration, layer, wall seconds) for every span. With
    ``job_groups`` on, each span also tags its Spark jobs with the group
    ``layer@iteration@run`` so the event log can be split by span; the run
    id keeps the groups of two runs on one session apart."""

    def __init__(self, sc, job_groups: bool):
        self.sc = sc
        self.job_groups = job_groups
        self.run_id = uuid.uuid4().hex[:8]
        self.iteration: int | str | None = None  # the timed pass (or "stream") spans belong to
        self.spans: list[tuple[int | str | None, str, float]] = []

    def group(self, layer: str, iteration: int | str | None) -> str:
        return f"{layer}@{iteration}@{self.run_id}"

    @contextmanager
    def span(self, layer: str):
        if self.job_groups:
            self.sc.setJobGroup(self.group(layer, self.iteration), layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.iteration, layer, time.perf_counter() - t0))
            if self.job_groups:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)

    def walls(self, iteration: int | str) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for it, layer, wall in self.spans:
            if it == iteration:
                out[layer] += wall
        return out

    def span_walls(self, iteration: int | str, layer: str) -> list[float]:
        return [w for it, name, w in self.spans if it == iteration and name == layer]


class EpochListener(StreamingQueryListener):
    """Trigger-execution seconds of every micro-batch, keyed by (query id,
    batch id)."""

    def __init__(self):
        self.epoch_s: dict[tuple[str, str], float] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.epoch_s[(str(p.id), str(p.batchId))] = p.durationMs["triggerExecution"] / 1e3

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, n: int, timeout_s: float = 30.0) -> None:
        """Progress events arrive asynchronously; wait until ``n`` have."""
        deadline = time.monotonic() + timeout_s
        while len(self.epoch_s) < n:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{len(self.epoch_s)} of {n} micro-batch progress events")
            time.sleep(0.1)


def event_log_file(log_dir: str, app_id: str) -> str:
    """The (uncompressed, non-rolling) event log of ``app_id``; Spark
    flushes it at every job end, so it can be read while the app runs."""
    for name in (app_id, app_id + ".inprogress"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def job_group_stats(path: str, key=lambda props: props.get("spark.jobGroup.id")) -> dict:
    """Per job group (or per other ``key`` of a job's properties): jobs,
    summed task run time, GC time, shuffle-fetch wait, shuffle bytes
    written, bytes read from input, bytes spilled to disk and failed tasks.
    A task counts toward the group of the first job that listed its stage."""
    stage_group: dict[int, object] = {}
    stats: dict[object, Counter] = defaultdict(Counter)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = key(ev.get("Properties") or {})
                stats[g]["jobs"] += 1
                for s in ev["Stage IDs"]:
                    stage_group.setdefault(s, g)
            elif kind == "SparkListenerTaskEnd":
                st = stats[stage_group.get(ev["Stage ID"])]
                m = ev.get("Task Metrics") or {}
                st["busy_ms"] += m.get("Executor Run Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["fetch_wait_ms"] += m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
                st["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                st["read_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                st["failed_tasks"] += ev["Task End Reason"]["Reason"] != "Success"
    return stats
