"""Structured Streaming surface (SURVEY §2.9).

The reference's streaming analog is a generator loop over incoming
batches (``stream_inference``, engine/predictor.py:209-293) with no
event-time semantics — so the Spark rendering is a file-source
``readStream`` over the pages table feeding the *identical* batch
extraction transform via ``foreachBatch`` (micro-batch = the
reference's per-batch yield).  Exactly-once comes from the streaming
checkpoint (source offsets) + a replay-idempotent overwrite of each
micro-batch's ``batch_id`` partition.

Also provides a watermarked tumbling-window aggregation over extracted
regions — the event-time operator the reference lacks but a continuous
crawl pipeline needs (late pages tolerated up to the watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixtures import PAGES_DDL
from .pipeline import extract_pages


def read_pages_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def read_pages_rate_stream(
    spark: SparkSession, rows_per_batch: int = 64
) -> DataFrame:
    """Kafka-style UNBOUNDED ingest: Spark's built-in ``rate-micro-batch``
    source emits a deterministic monotonically-increasing ``value`` per
    row; an Arrow kernel turns each value into the seeded fixture page
    with that id, so the stream's content is byte-comparable to the
    batch generator — streaming-vs-batch identity can be asserted, not
    assumed.  A real Kafka topic follows the same shape
    (``readStream.format("kafka")`` -> value bytes -> parse kernel);
    the Kafka connector jar is not in this sandbox, so the rate source
    is the documented stand-in with identical downstream semantics
    (unbounded, offset-checkpointed, micro-batched)."""
    from .fixtures import make_rows  # noqa: PLC0415

    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield make_rows(pdf["value"].to_numpy(), (2, 6))

    return raw.select("value").mapInPandas(gen, schema=PAGES_DDL)


def write_extracted_batch(
    batch_df: DataFrame, batch_id: int, output_dir: str, n_buckets: int = 64
) -> None:
    """Idempotent micro-batch sink: extraction output lands in a
    ``batch_id=<n>`` partition via DYNAMIC partition overwrite, so a
    batch replayed after a crash between the data write and the
    checkpoint commit overwrites its own partition instead of appending
    duplicates.  foreachBatch alone is at-least-once; batch_id-keyed
    overwrite is what upgrades it to exactly-once output."""
    out = extract_pages(batch_df, n_buckets=n_buckets)
    (
        out.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(output_dir)
    )


def start_extraction_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    available_now: bool = True,
):
    """readStream(pages) -> foreachBatch(batch extraction) -> parquet.

    ``foreachBatch`` reuses the exact batch transform, so streaming and
    batch outputs are byte-identical per url (same kernel, same
    determinism contract).  Exactly-once: streaming checkpoint (source
    offsets) + the idempotent batch_id-partition overwrite in
    ``write_extracted_batch`` (a replayed micro-batch rewrites its own
    partition — no duplicate rows even if the previous attempt crashed
    after writing data but before committing the checkpoint).
    """
    stream = read_pages_stream(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        write_extracted_batch(batch_df, batch_id, output_dir, n_buckets)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def enriched_pages_stream(
    pages_stream: DataFrame, host_labels: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch broadcast-joins
    the (static, dimension-sized) host-label table — crawl metadata,
    robots policy, language priors — onto the page stream by host.
    Stream-static joins are stateless in Structured Streaming (the
    static side is re-broadcast per batch, no state store), so this
    costs nothing at 10^12 urls.  Unmatched hosts keep flowing with a
    NULL label (left join): enrichment must never drop pages."""
    host = F.regexp_extract(F.col("url"), r"https?://([^/:?]+)", 1)
    tagged = pages_stream.withColumn("host", host)
    return tagged.join(F.broadcast(host_labels), "host", "left")


def watermarked_url_dedup(
    pages_stream: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Built-in exactly-once-per-key dedup within the re-crawl
    horizon: ``dropDuplicatesWithinWatermark`` keeps one row per url
    per watermark window with state the engine expires automatically —
    the declarative sibling of :func:`stateful_url_dedup` for when no
    custom per-key logic is needed.  State is bounded by urls seen
    inside the watermark, not the corpus."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["url"])
    )


def stateful_host_counter(
    pages_stream: DataFrame,
    timeout_s: int | None = None,
):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    running per-host page/byte counters that survive across
    micro-batches (crawl-politeness bookkeeping — the kind of custom
    state the reference's generator loop keeps in process memory,
    re-expressed as Spark-managed keyed state).  ``timeout_s`` opts in
    to processing-time eviction for continuous triggers; the default is
    NO timeout because a query with registered timeouts never finishes
    under ``availableNow`` (Spark schedules empty micro-batches forever
    to service future expiries — measured, see stateful_band_neardup)."""
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd  # noqa: PLC0415

        host = key[0]
        if state.hasTimedOut:
            # politeness horizon passed with no new pages: evict the
            # counter so state stays bounded by ACTIVE hosts
            state.remove()
            yield pd.DataFrame({"host": [], "n_pages": [], "total_bytes": []})
            return
        n, b = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            b += int(pdf["html_bytes"].sum())
        state.update((n, b))
        if timeout_s is not None:
            state.setTimeoutDuration(timeout_s * 1000)
        yield pd.DataFrame({"host": [host], "n_pages": [n], "total_bytes": [b]})

    hosts = pages_stream.select(
        F.regexp_extract("url", r"^https?://([^/]+)/", 1).alias("host"),
        F.length("html").alias("html_bytes"),
    )
    return hosts.groupBy("host").applyInPandasWithState(
        update,
        outputStructType="host string, n_pages long, total_bytes long",
        stateStructType="n long, b long",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_s is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stateful_url_dedup(pages_stream: DataFrame, timeout_s: int | None = None):
    """Streaming exact dedup: emit only the FIRST occurrence of each
    url across micro-batches (Spark-managed keyed state; the crawl
    re-fetch suppressor).  State is one flag per url with a
    processing-time timeout (opt-in via ``timeout_s`` on continuous
    triggers; default NoTimeout so ``availableNow`` runs terminate —
    see stateful_band_neardup) bounding the state store by the
    re-crawl horizon, not the corpus.  At 10^12 urls the same shape
    shards state across executors by the url hash."""
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd  # noqa: PLC0415

        url = key[0]
        if state.hasTimedOut:
            # re-crawl horizon passed: drop the seen-flag so the state
            # store is bounded by the horizon, not the corpus — a url
            # re-fetched later is emitted again (a fresh crawl)
            state.remove()
            yield pd.DataFrame({"url": [], "html_bytes": []})
            return
        n_dups = state.get[0] if state.exists else -1
        first_bytes = None
        n_new = 0
        for pdf in pdfs:
            n_new += len(pdf)
            if first_bytes is None and len(pdf):
                first_bytes = int(pdf["html_bytes"].iloc[0])
        if first_bytes is None:
            first_bytes = 0
        emit = n_dups == -1  # never seen before this batch
        state.update((max(n_dups, 0) + n_new,))
        if timeout_s is not None:
            state.setTimeoutDuration(timeout_s * 1000)
        if emit:
            yield pd.DataFrame(
                {"url": [url], "html_bytes": [first_bytes]}
            )
        else:
            yield pd.DataFrame({"url": [], "html_bytes": []})

    keyed = pages_stream.select(
        "url", F.length("html").alias("html_bytes")
    )
    return keyed.groupBy("url").applyInPandasWithState(
        update,
        outputStructType="url string, html_bytes long",
        stateStructType="n_seen long",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_s is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stateful_band_neardup(
    docs_stream: DataFrame,
    bucket_cap: int | None = None,
    timeout_s: int | None = None,
):
    """STREAMING MinHash-LSH near-dup candidates: the online rendering
    of the batch ``dedup_minhash_lsh`` pipeline.

    Per arriving doc the full signature is computed ROW-LOCAL (shingle
    array -> per-seed array_min, all JVM expressions — no shuffle, no
    aggregation), then band rows shuffle once to Spark-managed keyed
    state per (band, h1, h2) bucket.  Each bucket's state holds the
    first ``bucket_cap`` doc_ids seen (the streaming twin of the batch
    BUCKET_CAP fence); a new arrival emits one candidate pair per
    stored member and joins the state if below cap — so emitted work
    per doc is bounded by cap x bands, never by cluster size.  With
    ``timeout_s`` set, state expires on a processing-time timeout (the
    re-crawl horizon) so the store is bounded by buckets active inside
    the horizon; the DEFAULT is no timeout, because a query with
    registered timeouts never finishes under ``availableNow`` — Spark
    keeps scheduling empty micro-batches to service future expiries
    (measured: hundreds of 0-row batches) — so bounded backfill runs
    must opt in explicitly on a continuous trigger.

    Same tokenizer / hash / band constants as the batch query: on the
    same corpus the pair SET (normalized a<b, distinct) equals the
    batch output whenever buckets stay under the cap — asserted by
    tests/test_streaming.py, not assumed."""
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    from .queries_text import (  # noqa: PLC0415
        BUCKET_CAP,
        N_BANDS,
        N_HASHES,
        _toks_spark,
    )

    if bucket_cap is None:
        bucket_cap = BUCKET_CAP  # stay in lock-step with the batch cap

    sh = (
        "CASE WHEN size(w) >= 3 THEN array_distinct(transform("
        "sequence(0, size(w) - 3),"
        " i -> concat_ws(' ', w[i], w[i+1], w[i+2])))"
        " ELSE cast(array() as array<string>) END"
    )
    stack_args = ", ".join(
        f"{band}, m{2 * band}, m{2 * band + 1}" for band in range(N_BANDS)
    )
    bands = (
        docs_stream.selectExpr("doc_id", f"{_toks_spark('text')} AS w")
        .selectExpr("doc_id", f"{sh} AS sh")
        .filter(F.size("sh") > 0)
        .selectExpr(
            "doc_id",
            *[
                f"array_min(transform(sh, x ->"
                f" cast(conv(substring(md5(concat('{s}:', x)), 1, 15), 16, 10)"
                f" as bigint))) AS m{s}"
                for s in range(N_HASHES)
            ],
        )
        .selectExpr(
            "doc_id", f"stack({N_BANDS}, {stack_args}) AS (band, h1, h2)"
        )
    )

    def update(key, pdfs, state: "GroupState"):
        import pandas as pd  # noqa: PLC0415

        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame({"doc_a": [], "doc_b": []})
            return
        members: list[int] = list(state.get[0]) if state.exists else []
        out_a, out_b = [], []
        for pdf in pdfs:
            # arrival order within a batch is nondeterministic: process
            # doc_id-ascending so pair emission is run-stable
            for doc in sorted(int(x) for x in set(pdf["doc_id"])):
                if doc in members:
                    continue
                for m in members:
                    out_a.append(min(m, doc))
                    out_b.append(max(m, doc))
                if len(members) < bucket_cap:
                    members.append(doc)
        state.update((members,))
        if timeout_s is not None:
            state.setTimeoutDuration(timeout_s * 1000)
        yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})

    return bands.groupBy("band", "h1", "h2").applyInPandasWithState(
        update,
        outputStructType="doc_a long, doc_b long",
        stateStructType="ds array<long>",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_s is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def sessionized_host_activity(
    pages_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming sessionization: crawl-activity sessions per host via
    ``session_window`` (dynamic-gap windows closed after ``gap`` of
    inactivity, state expired by the watermark) — the streaming twin of
    the batch ``sessionize_events`` contract query.  Works identically
    on a static frame, which is how the test cross-checks it."""
    host = F.regexp_extract(F.col("url"), r"https?://([^/:?]+)", 1)
    return (
        pages_stream.withColumn("host", host)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("sw"), "host")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "host",
            "n_pages",
        )
    )


def windowed_region_counts(
    pages_with_regions: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window count of extracted regions by lang —
    works identically on a static or streaming DataFrame."""
    return (
        pages_with_regions.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("n_regions").alias("n_regions"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "lang",
            "n_pages",
            "n_regions",
        )
    )


# --- streaming WARC ingest ---------------------------------------------------

WARC_BLOB_DDL = "file_id long, blob binary"

WARC_RECORDS_DDL = (
    "file_id long, rec_index long, uri string, warc_date string, "
    "payload binary"
)


def warc_records_kernel(batches):
    """Arrow-batched WARC explode: each input row is a whole WARC file
    blob; output is one row per parsed record.  Stateless, so the same
    kernel serves batch ingest and the continuous-crawl stream."""
    import pandas as pd  # noqa: PLC0415

    from .warc import parse_warc  # noqa: PLC0415

    for pdf in batches:
        rows: dict[str, list] = {
            "file_id": [], "rec_index": [], "uri": [],
            "warc_date": [], "payload": [],
        }
        for fid, blob in zip(pdf["file_id"], pdf["blob"]):
            for i, rec in enumerate(parse_warc(bytes(blob))):
                rows["file_id"].append(int(fid))
                rows["rec_index"].append(i)
                rows["uri"].append(rec["uri"])
                rows["warc_date"].append(rec["date"])
                rows["payload"].append(rec["payload"])
        yield pd.DataFrame(rows)


def read_warc_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Continuous crawl ingest: a file-source readStream of WARC file
    blobs exploded to records by the shared Arrow kernel.  One blob =
    one task-side parse, zero shuffle — the batch shape
    (queries_curation.warc_roundtrip) and this stream are the same
    kernel, so stream == batch by construction."""
    blobs = (
        spark.readStream.schema(WARC_BLOB_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return blobs.mapInPandas(warc_records_kernel, schema=WARC_RECORDS_DDL)

