"""spark-submit entry point for the extraction job.

Usage (cluster):
    python tools/make_pyfiles.py   # builds dist/doclayout_yolo_spark.zip
    spark-submit --py-files dist/doclayout_yolo_spark.zip \
        jobs/extract_job.py --input <pages parquet/iceberg path> \
        --output <output path> [--buckets 4096] [--partitions N] \
        [--generate N_PAGES]

Local smoke:
    spark-submit --master local[8] --py-files dist/doclayout_yolo_spark.zip \
        jobs/extract_job.py --generate 1000 --output /tmp/extract_out

Resume: re-running with the same --output skips buckets recorded in the
checkpoint manifest (exactly-once).
"""

from __future__ import annotations

import argparse
import json


def main(stop_session: bool = True) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", help="pages table path (url, warc_ts, html, text, lang)")
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=4096)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument(
        "--generate",
        type=int,
        default=None,
        help="generate N seeded fixture pages instead of reading --input",
    )
    p.add_argument(
        "--outlinks",
        default=None,
        help="also write the crawl frontier (url, link_pos, target) "
        "parquet to this path",
    )
    args = p.parse_args()

    from doclayout_yolo_spark.fixtures import generate_pages_df
    from doclayout_yolo_spark.pipeline import (
        extract_outlinks_df,
        run_extraction_job,
    )
    from doclayout_yolo_spark.session import get_spark

    spark = get_spark(app="doclayout-extract")
    if args.generate:
        pages = generate_pages_df(spark, args.generate)
    elif args.input:
        pages = spark.read.parquet(args.input)
    else:
        raise SystemExit("need --input or --generate")
    stats = run_extraction_job(
        spark,
        pages,
        args.output,
        n_buckets=args.buckets,
        num_partitions=args.partitions,
    )
    if args.outlinks:
        links = extract_outlinks_df(pages)
        links.write.mode("overwrite").parquet(args.outlinks)
        stats["n_outlinks"] = spark.read.parquet(args.outlinks).count()
    print(json.dumps(stats))
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main()
