#!/usr/bin/env python
"""spark-submit entry point for the full curation pipeline.

Cluster deploy (north rule):

    zip -r datatrove_spark.zip datatrove_spark
    spark-submit --py-files datatrove_spark.zip \\
        scripts/run_pipeline.py --input <pages parquet/iceberg> --output <dir>

Local smoke:

    python scripts/run_pipeline.py --generate 10000 --output /tmp/curated

Reads the pages table (url, warc_ts, html, text, lang) and runs
``compose(canonical_stages())``: URL rules (the default config blocks
nothing) -> language ID -> fused quality battery -> PII scrub. Writes
kept/removed in one pass partitioned by `keep`, plus metrics.json with
per-reason counts and per-partition lineage. A re-run skips a completed
output unless --no-resume is given.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="pages parquet path")
    ap.add_argument("--generate", type=int, default=0, help="generate N synthetic pages instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--repartition", type=int, default=0)
    args = ap.parse_args()

    from datatrove_spark import get_spark
    from datatrove_spark.plans.pipeline import canonical_stages, run_pipeline

    spark = get_spark(app_name="curation-pipeline")
    if args.generate:
        from datatrove_spark.sources.pages import generate_pages

        staging = os.path.join(args.output, "_generated_pages")
        if not os.path.exists(os.path.join(staging, "_SUCCESS")):
            generate_pages(spark, args.generate).write.mode("overwrite").parquet(staging)
        df = spark.read.parquet(staging)
    elif args.input:
        df = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --generate is required")
    if args.repartition:
        df = df.repartition(args.repartition)

    metrics = run_pipeline(spark, df, canonical_stages(), args.output, resume=not args.no_resume)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
