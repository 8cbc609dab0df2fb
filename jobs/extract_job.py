"""CLI extraction job (D7): the spark-submit deployment surface.

The reference's CLI entry (/root/reference/pdf_layout_tester.py:369-410)
parses argv -> extracts -> saves; this is its cluster form:

    spark-submit --py-files engine.zip jobs/extract_job.py \\
        --input  /path/to/transcripts_ds \\
        --output /path/to/layouts_out \\
        [--variant a003] [--pages 1-5] [--n-buckets 64] [--no-resume]

Runs the checkpoint-manifested extraction (exact resume on re-submit),
prints the per-bucket lineage/throughput manifest, and exits non-zero on
failure. Page selection (P7) is applied before bucketing so resume state
is consistent for a given page spec.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="transcript layout extraction job")
    p.add_argument("--input", required=True, help="transcripts table/path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--variant", default="a003",
                   help="extractor variant (a002|a003|a004)")
    p.add_argument("--pages", default=None,
                   help="page selection: N, N-M (1-indexed)")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--no-resume", action="store_true",
                   help="ignore existing manifests and recompute all buckets")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    spark = SparkSession.builder.appName("extract-job").getOrCreate()

    from pdf_parser_spark.io import read_table
    from pdf_parser_spark.operators.compare import get_variant
    from pdf_parser_spark.operators.manifest import lineage_metrics, run_with_manifest
    from pdf_parser_spark.plans.pages import select_turns

    src = read_table(spark, args.input)
    if args.pages:
        src = select_turns(src, args.pages)
    if args.no_resume:
        shutil.rmtree(os.path.join(args.output, "_manifests"),
                      ignore_errors=True)

    result = run_with_manifest(
        spark, src, args.output,
        n_buckets=args.n_buckets,
        variant=get_variant(args.variant),
        input_path=args.input,
        pages_spec=args.pages,
    )
    metrics = lineage_metrics(spark, args.output)
    metrics.orderBy("bucket").show(args.n_buckets, truncate=False)
    # every bucket carries the wall time of the job that committed it:
    # dividing by job_buckets counts each job once, across resumed runs too
    total = metrics.agg(
        F.sum("rows_out"), F.sum("error_rows"),
        F.sum(F.col("wall_ms") / F.col("job_buckets"))).first()
    print(f"extract-job done: buckets processed={len(result['processed'])} "
          f"resumed-skip={len(result['skipped'])} rows={total[0]} "
          f"errors={total[1]} wall_ms={round(total[2])}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
