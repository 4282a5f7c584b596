"""spark-submit entry point (scripts/run_pipeline.py): end-to-end run +
stage-store resume over a tiny dirty corpus."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))

import run_pipeline


def test_run_pipeline_cli_and_resume(spark, tmp_path):
    from continuousfilteringbenchmark_spark.fixtures import dirty_corpus

    c = dirty_corpus(spark, n_entities=40)
    inp = str(tmp_path / "docs.parquet")
    c.docs.write.parquet(inp)
    gold = str(tmp_path / "gold.parquet")
    c.gold_pairs.write.parquet(gold)

    out = str(tmp_path / "runs")
    argv = [
        "--input", inp, "--output", out, "--run-id", "t1",
        "--dirty", "--threshold", "0.5", "--gold", gold,
    ]
    s1 = run_pipeline.main(argv, spark=spark)
    assert s1["docs"] > 0 and s1["clusters"] > 0
    assert s1["f1"] >= 0.99

    # every stage committed with a _SUCCESS marker + metrics rows
    for stage in ["tokened", "blocks", "candidate_pairs", "matches", "clusters"]:
        assert os.path.exists(os.path.join(out, "t1", stage, "_SUCCESS")), stage
    metrics = spark.read.parquet(os.path.join(out, "t1", "_metrics"))
    assert metrics.select("stage").distinct().count() >= 5
    # the summary's per-stage rows are the committed tables' counts
    for stage in ["tokened", "blocks", "candidate_pairs", "matches", "clusters"]:
        got = s1["stages"][stage]
        assert got["rows"] == spark.read.parquet(os.path.join(out, "t1", stage)).count()
        assert got["wall_ms"] >= 0

    # resume: tamper with the input path — committed stages win, so the rerun
    # must reproduce the identical summary without recomputing from raw input
    s2 = run_pipeline.main(argv, spark=spark)
    assert {k: s2[k] for k in ("docs", "clusters")} == {
        k: s1[k] for k in ("docs", "clusters")
    }


def test_run_pipeline_reference_config(spark, tmp_path):
    """--reference-config METHOD:LEVEL:DATASET replays a registry operating
    point: the committed candidate stage must equal the registry helpers'
    composition (decoded blocking chain -> decoded weighting + pruner)."""
    from continuousfilteringbenchmark_spark import configs as C
    from continuousfilteringbenchmark_spark.fixtures import dirty_corpus
    from continuousfilteringbenchmark_spark.plans.pipeline import docs_with_tokens

    c = dirty_corpus(spark, n_entities=40)
    inp = str(tmp_path / "docs.parquet")
    c.docs.write.parquet(inp)
    out = str(tmp_path / "runs")
    s = run_pipeline.main(
        ["--input", inp, "--output", out, "--run-id", "ref1", "--dirty",
         "--reference-config", "token_blocking:L2:D9"],
        spark=spark,
    )
    assert s["docs"] > 0 and s["clusters"] > 0

    got = spark.read.parquet(os.path.join(out, "ref1", "candidate_pairs"))
    cfg = C.from_reference("token_blocking", "L2", "D9")
    tokened = docs_with_tokens(c.docs, side_from_prefix=False)
    blocks = C.build_blocks_from_reference(tokened, cfg, clean_clean=False)
    want = C.candidate_pairs_from_reference(blocks, cfg, clean_clean=False)
    g = {(r.left_id, r.right_id) for r in got.collect()}
    w = {(r.left_id, r.right_id) for r in want.collect()}
    assert g == w and len(g) > 0


def test_run_continuous_cli_and_restart(spark, tmp_path):
    """scripts/run_continuous.py: streamed epochs produce the batch-equal
    assignment; restarting with the same args (no new files) is a no-op that
    reports the same summary from the committed epochs."""
    import run_continuous
    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs
    from continuousfilteringbenchmark_spark.streaming.staging import stage_microbatch
    from pyspark.sql import functions as F

    flat = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "unique first text here"),
        (10, "red green blue yellow"),
        (11, "alpha beta gamma delta epsilon"),
    ]
    docs = documents_to_docs(spark.createDataFrame(flat, "doc_id long, text string"))
    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    for i, ids in enumerate([[1, 2, 3], [10, 11]], start=1):
        stage_microbatch(
            docs.where(F.col("doc_id").cast("long").isin(ids)), input_dir, i
        )

    work = str(tmp_path / "work")
    argv = ["--input", input_dir, "--work", work, "--threshold", "0.5"]
    s1 = run_continuous.main(argv, spark=spark)
    # {1,2,11} cluster together, {3} and {10} are singletons
    assert s1["docs"] == 5 and s1["clusters"] == 3

    s2 = run_continuous.main(argv, spark=spark)
    assert {k: s2[k] for k in ("docs", "clusters")} == {
        k: s1[k] for k in ("docs", "clusters")
    }


def test_scale_job_bucket_store_keyed_by_content(spark):
    """scripts/scale_job.py reuses a token bucket store only for the same
    corpus content: two corpora with the same document count map to
    different stores, and one corpus maps to the same store however it is
    partitioned."""
    import scale_job

    schema = (
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )

    def corpus(words):
        rows = [(f"d{i}", [("title", w, None, 0)]) for i, w in enumerate(words)]
        return spark.createDataFrame(rows, schema)

    def store(docs):
        n_docs, digest = scale_job.corpus_digest(docs)
        return scale_job.bucket_store_path("/stores", n_docs, digest, 8)

    a = corpus(["alpha beta", "gamma", "delta"])
    b = corpus(["alpha beta", "gamma", "epsilon"])
    assert scale_job.corpus_digest(a)[0] == scale_job.corpus_digest(b)[0] == 3
    assert store(a) != store(b)
    assert store(a) == store(a.repartition(3)) == store(corpus(["alpha beta", "gamma", "delta"]))
