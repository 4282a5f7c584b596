"""Smoke test of the benchmark at tiny sizes: every metric named in
BENCHMARK.json is printed with its unit on every workload, the streaming
layer is measured in the traced run that hosts it, the gates pass on the
engine's output and reject corrupted output, and the benchmark fails
without printing a result when the engine is not beside it.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import subprocess
import sys
import uuid
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402

SMOKE_ENTITIES = 150
SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def session():
    work = run.make_work_dir(f"smoke-{uuid.uuid4().hex}")
    spark = run.start_session(work, cores=2, trace=True)
    yield spark, work
    run.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)


def test_spec_matches_runner():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_printed(session, workload, trace):
    spark, work = session
    result, _ = run.run(spark, workload, seed=3, seconds=0, trace=trace,
                        work=work / f"{workload}-{trace}", session_s=0.0,
                        entities=SMOKE_ENTITIES)
    streamed = trace and workload == run.STREAM_HOST
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 1 + streamed
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if streamed:
        for name in ("epoch.wall_s", "epoch.jobs", "epoch.read_mb", "epoch.growth",
                     "cc_merge.wall_s"):
            assert result["metrics"][name]["value"] > 0, name


def test_runs_on_one_session_get_distinct_job_groups(session):
    from tracing import Tracer

    sc = session[0].sparkContext
    assert Tracer(sc, True).group("cluster", 0) != Tracer(sc, True).group("cluster", 0)


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_gate_rejects_corrupted_output(session, workload):
    from pyspark.sql import functions as F

    import workloads as W
    from tracing import Tracer

    spark, work = session
    corpus = str(work / f"gate-{workload}")
    W.write_corpus(spark, corpus, 5, {**W.RECIPES[workload], "entities": SMOKE_ENTITIES}, 2)
    docs = spark.read.parquet(corpus)
    gold = W.gold_pairs(docs)
    out = W.CHAINS[workload](spark, docs, Tracer(spark.sparkContext, False), corpus + "-out")
    counts, f1, problems = W.gate(out, gold, None)
    assert f1 >= W.MIN_PAIR_F1 and not problems

    split = dataclasses.replace(out, clusters=out.clusters.withColumn("cluster_id", F.col("doc_id")))
    assert any("pair_f1" in p for p in W.gate(split, gold, counts)[2])
    stale = {**counts, "candidates": counts["candidates"] + 1}
    assert any("counts" in p for p in W.gate(out, gold, stale)[2])


def test_fails_without_engine():
    bare = run.BASE / f"bare-{uuid.uuid4().hex}"
    try:
        shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(run.ROOT / "BENCHMARK.json", bare)
        proc = subprocess.run(
            [sys.executable, *SPEC["command"][1:], "--workload", run.WORKLOADS[0],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_stream_gate_rejects_corrupted_assignment(session):
    from pyspark.sql import functions as F

    import workloads as W

    spark, work = session
    corpus = str(work / "stream-gate")
    W.write_corpus(spark, corpus, 5, W.STREAM_RECIPE, 2)
    docs = spark.read.parquet(corpus)
    gold = W.gold_pairs(docs)
    batch = W.batch_chain_clusters(docs)
    want = {(r.doc_id, r.cluster_id) for r in batch.collect()}
    f1, problems = W.stream_gate(batch, want, gold)
    assert f1 >= W.MIN_PAIR_F1 and not problems

    split = batch.withColumn("cluster_id", F.col("doc_id"))
    problems = W.stream_gate(split, want, gold)[1]
    assert any("batch chain" in p for p in problems)
    assert any("pair_f1" in p for p in problems)
