"""spark-submit entry point for the incremental-crawl job.

Diffs two crawl snapshots of the pages table (url content-hash
full-outer join), then re-extracts ONLY the buckets touched by
added / changed / removed urls via dynamic partition overwrite.
Untouched buckets are never read or rewritten — extraction cost
tracks changed content, not corpus size.

Usage (cluster):
    python tools/make_pyfiles.py   # builds dist/doclayout_yolo_spark.zip
    spark-submit --py-files dist/doclayout_yolo_spark.zip \
        jobs/incremental_job.py --old <prev pages path> \
        --new <current pages path> --output <extraction output path> \
        [--buckets 4096] [--partitions N]

Local smoke (seeded fixture twins; v2 = v1 with the first 20 urls
removed, ids 100-119 changed, and 60 new urls appended):
    spark-submit --master local[8] --py-files dist/doclayout_yolo_spark.zip \
        jobs/incremental_job.py --generate 300 --output /tmp/incr_out

Idempotent: a crashed or repeated run overwrites the same affected
buckets to the same bytes.
"""

from __future__ import annotations

import argparse
import json


def synth_snapshots(spark, n: int):
    """Deterministic (v1, v2) fixture snapshots for the smoke path."""
    from pyspark.sql import functions as F

    from doclayout_yolo_spark.fixtures import generate_pages_df, url_for

    v1 = generate_pages_df(spark, n)
    v2_base = generate_pages_df(spark, n + n // 5)
    removed = [url_for(i) for i in range(20)]
    changed = F.col("url").isin([url_for(i) for i in range(100, 120)])
    # ids 0-19 removed; ids 100-119 changed (an extra paragraph lands
    # in the body, so re-extraction provably picks it up)
    upd = F.encode(
        F.regexp_replace(
            F.decode(F.col("html"), "utf-8"),
            "</body>",
            "<p>updated paragraph appended in the v2 crawl</p></body>",
        ),
        "utf-8",
    )
    v2 = (
        v2_base.filter(~F.col("url").isin(removed))
        .withColumn("html", F.when(changed, upd).otherwise(F.col("html")))
    )
    return v1, v2


def main(stop_session: bool = True) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--old", help="previous snapshot pages path")
    p.add_argument("--new", help="current snapshot pages path")
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=4096)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument(
        "--generate",
        type=int,
        default=None,
        help="synthesize seeded v1/v2 fixture snapshots instead of --old/--new",
    )
    args = p.parse_args()

    from doclayout_yolo_spark.pipeline import (
        run_extraction_job,
        run_incremental_job,
    )
    from doclayout_yolo_spark.session import get_spark

    spark = get_spark(app="doclayout-incremental")
    if args.generate:
        old_pages, new_pages = synth_snapshots(spark, args.generate)
    elif args.old and args.new:
        old_pages = spark.read.parquet(args.old)
        new_pages = spark.read.parquet(args.new)
    else:
        raise SystemExit("need --old and --new, or --generate")
    # baseline: make sure the old snapshot is fully extracted (no-op
    # resume when the output already exists)
    base = run_extraction_job(
        spark, old_pages, args.output,
        n_buckets=args.buckets, num_partitions=args.partitions,
    )
    stats = run_incremental_job(
        spark, old_pages, new_pages, args.output,
        n_buckets=args.buckets, num_partitions=args.partitions,
    )
    print(json.dumps({"baseline": base, "incremental": stats}))
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main()
