"""spark-submit entrypoint for the KG-construction pipeline (north
rule: "runs via spark-submit --py-files on a multi-executor cluster").

    spark-submit --master local[8] --py-files /tmp/kgspark.zip \
        tools/run_pipeline.py --pages-parquet <dir> \
        --warehouse /path/wh [--link-mode exact|lsh] [--salt 0] \
        [--corpus-id <id>] [--run-id r0]

    # or synthesize the seeded fixture corpus instead of reading one:
    spark-submit ... tools/run_pipeline.py --synthetic-pages 5000 ...

Runs (or resumes) the checkpointed S1->S7 DAG against a TableIO
warehouse and prints ONE JSON line: committed snapshot per table,
skipped (resumed) stages, triple count, a per-stage lineage rollup,
and `driver_codegen_compiles`, the number of classes the driver JVM's
Janino compiled during the run (executor JVMs keep their own counts).
Re-running with the same corpus id is a no-op resume and compiles
nothing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--pages-parquet", help="input pages parquet dir")
    src.add_argument("--synthetic-pages", type=int,
                     help="synthesize N seeded fixture pages instead")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--link-mode", default="exact", choices=["exact", "lsh"])
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--corpus-id", default=None,
                    help="deterministic corpus identity for resume; "
                         "defaults to the input path / fixture spec")
    ap.add_argument("--run-id", default="r0")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from kgspark.pipeline import Pipeline

    spark = SparkSession.builder.appName("kgspark-pipeline").getOrCreate()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    if args.pages_parquet:
        pages = spark.read.parquet(args.pages_parquet)
        corpus_id = args.corpus_id or f"parquet:{args.pages_parquet}"
    else:
        from kgspark.fixtures import pages_df

        pages = pages_df(spark, args.synthetic_pages)
        corpus_id = args.corpus_id or (
            f"pages:n={args.synthetic_pages}:seed=42"
        )

    pipe = Pipeline(
        args.warehouse, link_mode=args.link_mode, salt=args.salt
    )
    compiles_before = compiles.getCount()
    snaps = pipe.run(spark, pages, corpus_id, run_id=args.run_id)
    driver_codegen_compiles = compiles.getCount() - compiles_before

    rollup = {
        r["stage"]: r["n_rows"]
        for r in pipe.lineage(spark)
        .groupBy("stage").agg(F.sum("n_rows").alias("n_rows")).collect()
    }
    n_triples = pipe.io.read(spark, "kg_edges").count()
    print(json.dumps({
        "snapshots": snaps,
        "skipped": pipe.last_skipped,
        "n_triples": n_triples,
        "lineage_rows_by_stage": rollup,
        "driver_codegen_compiles": driver_codegen_compiles,
        "warehouse": args.warehouse,
    }))


if __name__ == "__main__":
    main()
