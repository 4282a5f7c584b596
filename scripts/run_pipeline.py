"""Production entry point: the full ER pipeline as a spark-submit job.

Deployment (north rule: ``spark-submit --py-files`` on a multi-executor
cluster)::

    cd /root/repo && zip -qr /tmp/cfb_spark.zip continuousfilteringbenchmark_spark
    spark-submit --py-files /tmp/cfb_spark.zip scripts/run_pipeline.py \
        --input  s3://bucket/docs/            \
        --output s3://bucket/er-runs/         \
        --run-id 2026-08-17a                  \
        --dirty --threshold 0.5 --builder standard

The job materializes every stage (tokened -> blocks -> candidate_pairs ->
matches -> clusters) to ``<output>/<run-id>/<stage>/`` with per-partition
lineage + metric rows (plans/stages.py); the printed summary carries each
stage's rows and wall_ms from those rows. Re-running the same command after
a failure resumes from the last committed stage; pass a fresh --run-id for a
clean run. When a local SparkSession already exists (tests), ``main(argv)``
reuses it instead of building one.

The input table is either the flat ``documents`` shape (doc_id, spans
array<struct<kind,text,media_ref,offset>>) — the interleaved text+media
document table of BASELINE.json's input_hint — or any table with
(doc_id, text) when --text-col is given.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="ContinuousFilteringBenchmark-spark ER pipeline")
    p.add_argument("--input", required=True, help="parquet/Iceberg path of the documents table")
    p.add_argument("--output", required=True, help="root of the stage store")
    p.add_argument("--run-id", required=True, help="stage-store run id (same id = resume)")
    p.add_argument("--builder", default="standard",
                   choices=["standard", "qgrams", "extended_qgrams", "suffix", "extended_suffix"])
    p.add_argument("--q", type=int, default=6, help="q for the q-gram builders")
    p.add_argument("--sim", default="jaccard", choices=["jaccard", "cosine", "dice"])
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--filter-ratio", type=float, default=0.5,
                   help="block-filtering ratio; negative disables filtering")
    p.add_argument("--no-purge", action="store_true", help="disable block purging")
    p.add_argument("--dirty", action="store_true",
                   help="Dirty-ER (single collection self-join); default Clean-Clean via A:/B: prefixes")
    p.add_argument("--text-col", default=None,
                   help="input already has this flat text column (skip span aggregation)")
    p.add_argument("--gold", default=None,
                   help="optional parquet of gold (left_id,right_id) pairs; prints PC/PQ/F1")
    p.add_argument("--reference-config", default=None, metavar="METHOD:LEVEL:DATASET",
                   help="replay a published tuned operating point from the config "
                        "registry (e.g. token_blocking:L2:D9): the decoded "
                        "builder/purging/filtering chain plus the decoded "
                        "weighting + comparison-cleaning pruner replace "
                        "--builder/--q/--filter-ratio/--no-purge")
    return p


def stage_summary(metric_rows) -> dict[str, dict[str, int]]:
    """{stage: {"rows", "wall_ms"}} of each stage's latest commit, in commit
    order: a stage re-committed on resume keeps the metrics rows of every
    commit, so only the rows of its last ``committed_at_ms`` count."""
    rows = sorted(metric_rows, key=lambda r: r.committed_at_ms)
    last = {r.stage: r.committed_at_ms for r in rows}
    out: dict[str, dict[str, int]] = {}
    for r in rows:
        if r.committed_at_ms == last[r.stage]:
            out.setdefault(r.stage, {"rows": 0, "wall_ms": r.wall_ms})["rows"] += r.rows
    return out


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    args = build_parser().parse_args(argv)

    if spark is None:
        from continuousfilteringbenchmark_spark.session import get_spark

        spark = get_spark("er-pipeline")

    from continuousfilteringbenchmark_spark.datamodel import documents_to_docs
    from continuousfilteringbenchmark_spark.operators.blocking import BlockingConfig
    from continuousfilteringbenchmark_spark.plans.pipeline import ERConfig
    from continuousfilteringbenchmark_spark.plans.stages import StageStore, materialized_er_pipeline

    raw = spark.read.parquet(args.input)
    if args.text_col:
        docs = raw.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.col(args.text_col).alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).alias("spans"),
        )
    elif "spans" in raw.columns:
        docs = raw.select(F.col("doc_id").cast("string").alias("doc_id"), "spans")
    else:
        docs = documents_to_docs(raw)

    cfg = ERConfig(
        blocking=BlockingConfig(
            builder=args.builder,
            q=args.q,
            purge=not args.no_purge,
            filter_ratio=None if args.filter_ratio < 0 else args.filter_ratio,
        ),
        sim=args.sim,
        threshold=args.threshold,
    )
    ref_cfg = None
    if args.reference_config:
        from continuousfilteringbenchmark_spark import configs as C

        try:
            method, level, dataset = args.reference_config.split(":")
        except ValueError:
            raise SystemExit(
                "--reference-config must be METHOD:LEVEL:DATASET, e.g. "
                "token_blocking:L2:D9"
            )
        ref_cfg = C.from_reference(method, level, dataset)

    store = StageStore(spark, args.output, args.run_id)
    stages = materialized_er_pipeline(
        docs, store, cfg, clean_clean=not args.dirty, reference_config=ref_cfg
    )

    n_clusters = stages["clusters"].select("cluster_id").distinct().count()
    n_docs = stages["clusters"].count()
    summary = {
        "run_id": args.run_id,
        "docs": n_docs,
        "clusters": n_clusters,
        "stages": stage_summary(store.metrics().collect()),
    }

    if args.gold:
        from continuousfilteringbenchmark_spark.eval import evaluate_clusters

        gold = spark.read.parquet(args.gold)
        m = evaluate_clusters(stages["clusters"], gold)
        summary.update({"pc": m.pc, "pq": m.pq, "f1": m.f1})

    print(summary)
    return summary


if __name__ == "__main__":
    main()
