"""spark-submit entry point for the corpus-curation funnel:
[host boilerplate strip ->] [near-dup collapse ->] paragraph dedup ->
quality gate -> sequence packing, writing a block-partitioned
training-corpus table with a stats line — the batch companion to
jobs/extract_job.py for the post-extraction half of the 100 TB
pipeline.

Usage (cluster):
    python tools/make_pyfiles.py   # builds dist/doclayout_yolo_spark.zip
    spark-submit --py-files dist/doclayout_yolo_spark.zip \
        jobs/curate_job.py --input <dir containing documents.parquet> \
        --output <output path> [--min-tokens 8] [--block 256]

Local smoke:
    spark-submit --master local[8] --py-files dist/doclayout_yolo_spark.zip \
        jobs/curate_job.py --input /root/testdata/sf0.001 --output /tmp/cur_out

Output layout: parquet partitioned by ``block_bucket`` (= first_block
div 1024 — the Iceberg bucket-transform analog used across this repo),
columns (doc_id, dedup_text, n_kept, n_tokens, tok_start, tok_end,
first_block, last_block, n_blocks).
"""

from __future__ import annotations

import argparse
import json


def main(stop_session: bool = True) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="dir with documents.parquet")
    p.add_argument("--output", required=True)
    p.add_argument("--min-tokens", type=int, default=8)
    p.add_argument("--block", type=int, default=256, help="tokens per training block")
    p.add_argument(
        "--neardup",
        action="store_true",
        help="collapse MinHash/LSH near-duplicate docs (keep each"
        " cluster's minimum doc_id) before paragraph dedup — the full"
        " corpus_curation_v3 chain as a runnable job",
    )
    p.add_argument(
        "--boilerplate",
        action="store_true",
        help="strip host-level template lines (token windows appearing"
        " in >= BP_MIN_DF docs of one source) BEFORE any dedup — the"
        " CCNet template pass; runs first so nav/footer chunks never"
        " enter the shingle/chunk-hash space",
    )
    args = p.parse_args()

    from pyspark.sql import functions as F

    from doclayout_yolo_spark.queries_curation import (
        dedup_paragraphs_df,
        sequence_packing_df,
    )
    from doclayout_yolo_spark.session import get_spark

    spark = get_spark(app="doclayout-curate")

    docs = spark.read.parquet(f"{args.input}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    n_in = docs.count()

    bp_stats = {"n_boiler_chunks_dropped": 0}
    bp = None
    if args.boilerplate:
        from doclayout_yolo_spark.queries_curation import boilerplate_strip_df

        # persisted: the stats agg and the downstream funnel both
        # consume the stripped table (the docfreq windows are the
        # expensive part — never execute them twice)
        bp = boilerplate_strip_df(docs).persist()
        bp_stats["n_boiler_chunks_dropped"] = int(
            bp.agg(F.sum("n_boiler")).first()[0] or 0
        )
        docs = bp.select("doc_id", F.col("clean_text").alias("text"))
    docs = docs.select("doc_id", "text")

    nd_stats = {
        "n_neardup_dropped": 0,
        "n_cap_dropped_band_rows": 0,
        "max_band_bucket": 0,
    }
    if args.neardup:
        from doclayout_yolo_spark.queries_text import neardup_collapse_df

        # with_stats carries the no-silent-caps ledger: a fired
        # BUCKET_CAP silently RETAINS over-cap docs, so the job must
        # surface it (lsh_bucket_cap_audit contract)
        docs, nd_stats = neardup_collapse_df(docs, with_stats=True)
        docs = docs.persist()  # consumed by dedup window + final join

    dd = dedup_paragraphs_df(docs)
    kept = dd.filter(F.col("n_kept") > 0).select(
        "doc_id", F.col("dedup_text"), "n_kept"
    )
    # persisted: both the packing input and the join's left side consume
    # this subtree — without the cache the dedup window lineage (the
    # job's dominant cost) would execute twice
    gated = kept.filter(
        F.size(F.split("dedup_text", " ")) >= args.min_tokens
    ).persist()
    packed = sequence_packing_df(
        gated.select("doc_id", F.col("dedup_text").alias("text")),
        block=args.block,
    )
    out = gated.join(packed, "doc_id").withColumn(
        "block_bucket", F.expr("first_block div 1024")
    )
    (
        out.write.mode("overwrite")
        .partitionBy("block_bucket")
        .parquet(args.output)
    )

    # explicit schema: an all-filtered (empty) output directory has no
    # data files to infer from, but the job should still report stats
    written = spark.read.schema(out.schema).parquet(args.output)
    agg = written.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max("last_block") + 1).alias("n_blocks"),
    ).first()
    gated.unpersist()
    if args.neardup:
        docs.unpersist()
    if bp is not None:
        bp.unpersist()
    print(
        json.dumps(
            {
                "n_input_docs": n_in,
                **bp_stats,
                **nd_stats,
                "n_output_docs": agg["n_docs"],
                "total_tokens": int(agg["total_tokens"] or 0),
                "n_blocks": int(agg["n_blocks"] or 0),
            }
        )
    )
    if stop_session:
        spark.stop()


if __name__ == "__main__":
    main()
