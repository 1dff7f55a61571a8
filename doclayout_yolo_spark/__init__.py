"""doclayout_yolo_spark — a from-scratch PySpark-native, layout-aware
main-content extraction engine with the query/data-processing semantics
of the DocLayout-YOLO reference (kythuatdulieu fork).

Architecture (see SURVEY.md):

- ``kernels``     — pure NumPy detection post-processing (two-stage
                    top-k, IoU NMS, class filter, reading-order sort,
                    box geometry).  No Spark imports; deterministic.
- ``textfeat``    — the 23-dim per-region text/spatial feature
                    vector (pure Python/NumPy, used inside the kernel).
- ``extract``     — the per-document HTML -> blocks -> proposals ->
                    regions -> (extracted_text, spans) core shared by
                    the single-process oracle and the Spark kernel.
- ``oracle``      — single-process reference extractor (byte-identity
                    anchor for the golden tests).
- ``fixtures``    — seeded synthetic Common-Crawl-style ``pages`` table
                    generator (url, warc_ts, html, text, lang).
- ``pipeline``    — the Spark job: scan -> bucketed repartition ->
                    mapInArrow(extract kernel) -> partitioned output
                    with per-partition lineage rows and a checkpoint
                    manifest for exactly-once resume.
- ``metrics``     — Spark-side detection-metrics harness (IoU match,
                    TP/FP cumsum windows, AP aggregation).
- ``session``     — SparkSession factory applying the one table of
                    tuned configs (AQE, shuffle partitions, Arrow
                    batch sizing) to every session, jobs included.
- ``memo``        — the one session-scoped memo cache, keyed by
                    (application, group, path, mtime).
- ``scan``        — memoized parquet readers with a scan-parallelism
                    floor (``read_parquet`` / ``read_spread``).
"""

__version__ = "0.1.0"
