#!/usr/bin/env python
"""Production entry point for the extraction job.

Cluster form (north rule):

    spark-submit --py-files dte.zip jobs/run_extract.py \
        --input /path/to/web_pages_table --output /path/to/extracted \
        --run-id run42 --buckets 65536 --slice-buckets 2048

Build dte.zip with ``python -c "from document_text_extraction_spark.\
shipping import build_package_zip; print(build_package_zip('dte.zip'))"``.

Local/sandbox form (no spark-submit needed — the script creates its own
session and ships the package itself):

    python jobs/run_extract.py --input ... --output ... --synth 100000
"""

from __future__ import annotations

import argparse
import json
import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from document_text_extraction_spark import pipeline

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet dir of web_pages table")
    ap.add_argument("--warc-input",
                    help="dir/glob of WARC files to ingest instead of "
                         "--input (Common-Crawl layout supported)")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate N synthetic pages instead of --input")
    ap.add_argument("--bucketize", action="store_true",
                    help="materialize the input clustered by part_bucket "
                         "under OUTPUT/input_bucketed first, so resumable "
                         "slice scans are partition-pruned (one corpus "
                         "read per run instead of one per slice)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--slice-buckets", type=int, default=32)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--parallel-slices", type=int,
                    default=pipeline.DEFAULT_PARALLEL_SLICES,
                    help="overlap N slice waves (each still commits "
                         "atomically); 2 = double-buffering that hides "
                         "per-wave scheduling + commit latency; "
                         "1 = one slice at a time (default: %(default)s)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active  # spark-submit provided the session config
    else:
        from document_text_extraction_spark.session import get_spark
        spark = get_spark("dte-extract")
    from document_text_extraction_spark.shipping import (
        ensure_package_shipped,
    )
    ensure_package_shipped(spark)

    if args.synth:
        from document_text_extraction_spark.sources import synth_web_pages
        pages = synth_web_pages(spark, args.synth)
    elif args.warc_input:
        from document_text_extraction_spark.sources import warc_pages_df
        pages = warc_pages_df(spark, args.warc_input)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        ap.error("need --input, --warc-input or --synth")

    if args.bucketize:
        bdir = os.path.join(args.output, "input_bucketed")
        pipeline.prepare_bucketed_input(pages, bdir,
                                        n_buckets=args.buckets)
        pages = spark.read.parquet(bdir)

    manifest = pipeline.run_extraction(
        spark, pages, args.output, run_id=args.run_id,
        n_buckets=args.buckets, slice_buckets=args.slice_buckets,
        resume=not args.no_resume,
        parallel_slices=args.parallel_slices,
    )
    done = [s for s in manifest["slices"].values() if s.get("committed")]
    print(json.dumps({
        "run_id": args.run_id,
        "slices_committed": len(done),
        "docs": sum(s["docs"] for s in done),
        "bytes_in": sum(s["bytes_in"] for s in done),
        "parse_failures": sum(s["parse_failures"] for s in done),
    }))


if __name__ == "__main__":
    main()
