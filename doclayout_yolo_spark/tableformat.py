"""Table-format seam: the five storage operations the extraction
pipeline needs from its output table, implemented here as a
parquet+manifest EMULATION (this sandbox ships no Iceberg runtime jar)
and documented 1:1 against the Iceberg calls a real deployment swaps
in.  pipeline.py holds only orchestration; everything that a catalog
would own lives behind this class, so adopting Iceberg deletes this
file's bodies, not the pipeline (r4 verdict item 8).

Emulation -> Iceberg mapping (Iceberg 1.x Java/Spark API):

===========================  ==============================================
emulation (this class)       real Iceberg call
===========================  ==============================================
``commit_buckets``           ``table.newAppend().appendFile(...).commit()``
                             / for reprocess: ``newOverwrite()...commit()``
                             — ONE atomic snapshot covering data files AND
                             metadata; the emulation's separate data-write
                             + manifest-append is why ``reconcile`` exists.
                             Like ``SnapshotProducer.commit()`` writing
                             metadata through ``FileIO``, the manifest
                             append is a driver-side file write, not a
                             Spark job
``tombstone_buckets``        ``table.newDelete().deleteFromRowFilter(
                             Expressions.equal("part_id", p)).commit()`` —
                             a delete-files snapshot; the emulation appends
                             a ``__deleted__`` manifest row and removes the
                             partition directory
``committed_buckets``        ``table.currentSnapshot()`` + partition
                             metadata table (``table.partitions``): which
                             partitions exist in the current snapshot —
                             a driver-side metadata read
``stale_buckets``            snapshot summary / partition metadata query on
                             a ``kernel_version`` write property — Iceberg
                             snapshot-evolution: reprocess only partitions
                             stamped by an older writer (driver-side read)
``reconcile``                DISAPPEARS: data+metadata commit atomically in
                             Iceberg, there is no crash window between
                             them.  (The related maintenance action is
                             ``SparkActions.deleteOrphanFiles``, which
                             removes files no snapshot references.)
===========================  ==============================================

The manifest is an append-only parquet dir of
``(part_id, kernel_version, seq)`` rows; a bucket's NEWEST row decides
liveness (a ``__deleted__`` tombstone supersedes earlier commits, a
re-commit supersedes the tombstone) — exactly the role of Iceberg's
snapshot log, linearized by the driver-side ``seq`` stamp instead of a
catalog's atomic swap.  Each commit adds ONE parquet file to the
manifest (and one to the lineage side table), written and read on the
driver with pyarrow; the files stay plain parquet, so
``spark.read.parquet`` reads both directories as before.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

#: manifest kernel_version marker for a bucket whose data partition was
#: deleted (all its urls removed by an incremental update).  The analog
#: of an Iceberg delete-files snapshot entry.
TOMBSTONE = "__deleted__"

#: the manifest's columns, as Spark reads them:
#: ``part_id int, kernel_version string, seq double``
MANIFEST_SCHEMA = pa.schema(
    [("part_id", pa.int32()), ("kernel_version", pa.string()), ("seq", pa.float64())]
)


def append_parquet(directory: str, table: pa.Table) -> None:
    """Add ``table`` to ``directory`` as ONE parquet file, written under
    a dot-prefixed name and then renamed in.  Spark's file index and
    pyarrow both skip hidden names, so an interrupted append leaves
    nothing either reader sees."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, "." + name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


class ParquetManifestFormat:
    """The sandbox table format: hash-bucketed parquet partitions under
    ``<table>/data`` + the append-only manifest under
    ``<table>/_manifest`` (+ the lineage side table).

    Manifest and lineage I/O is driver-side metadata I/O on a LOCAL
    table path (as ``reconcile`` and ``delete_partition_dir`` already
    assume), never a Spark job.  The seam operations keep their
    ``spark`` argument for the Iceberg implementation, which loads the
    table through the session's catalog."""

    # -- paths ------------------------------------------------------------
    def data_path(self, table_path: str) -> str:
        return os.path.join(table_path, "data")

    def manifest_path(self, table_path: str) -> str:
        return os.path.join(table_path, "_manifest")

    def lineage_path(self, table_path: str) -> str:
        return os.path.join(table_path, "_lineage")

    # -- manifest I/O ------------------------------------------------------
    def _append_manifest(
        self, table_path: str, rows: list[tuple[int, str]]
    ) -> None:
        """Append (part_id, kernel_version) rows stamped with a
        MONOTONE ``seq``: driver wall clock, floored to strictly above
        the manifest's current max — a backwards NTP step between a
        commit and a later tombstone must not let the commit win
        ``_latest_rows`` (r5 review finding; the clock alone is not
        monotone)."""
        if not rows:
            return
        now = time.time()
        last = max((s for _, _, s in self.read_manifest(table_path) or ()), default=0.0)
        if now <= last:
            now = last + 1e-3
        pids, versions = zip(*rows)
        append_parquet(
            self.manifest_path(table_path),
            pa.table(
                [list(pids), list(versions), [now] * len(rows)],
                schema=MANIFEST_SCHEMA,
            ),
        )

    def read_manifest(self, table_path: str) -> list[tuple[int, str, float]] | None:
        """Manifest rows ``(part_id, kernel_version, seq)``, or None
        when the table has no manifest yet.  Rows written before round 5
        predate the ``seq`` column; they read as seq = 0.0 (older than
        any stamped row)."""
        path = self.manifest_path(table_path)
        if not os.path.isdir(path):
            return None
        t = ds.dataset(path, format="parquet", schema=MANIFEST_SCHEMA).to_table()
        return [
            (p, v, s or 0.0)
            for p, v, s in zip(*(t[c].to_pylist() for c in MANIFEST_SCHEMA.names))
        ]

    @staticmethod
    def _latest_rows(
        rows: list[tuple[int, str, float]], version: str
    ) -> dict[int, str]:
        """part_id -> kernel_version of each bucket's NEWEST manifest
        row.  Tie-break (possible only among pre-seq legacy rows, which
        contain no tombstones): prefer the current kernel version,
        preserving the legacy ``stale_buckets`` semantics of "current
        row present => not stale"."""
        best: dict[int, tuple[tuple[float, bool], str]] = {}
        for p, v, s in rows:
            order = (s, v == version)
            if p not in best or order > best[p][0]:
                best[p] = (order, v)
        return {p: v for p, (_, v) in best.items()}

    # -- the five seam operations -----------------------------------------
    def commit_buckets(
        self, spark: SparkSession, table_path: str,
        part_ids: list[int], version: str,
    ) -> None:
        """Record ``part_ids`` as committed by ``version`` (Iceberg:
        the metadata half of one atomic append/overwrite snapshot)."""
        self._append_manifest(table_path, [(p, version) for p in part_ids])

    def tombstone_buckets(
        self, spark: SparkSession, table_path: str, part_ids: list[int]
    ) -> None:
        """Record ``part_ids`` as deleted (Iceberg: a delete-files
        snapshot).  Data directories are removed separately by the
        caller — in Iceberg both halves are one commit."""
        self._append_manifest(table_path, [(p, TOMBSTONE) for p in part_ids])

    def committed_buckets(
        self, spark: SparkSession, table_path: str, version: str
    ) -> list[int] | None:
        """Sorted buckets with data committed and not since tombstoned
        (Iceberg: current-snapshot partition listing), or None when the
        table has no manifest.  Resume skips exactly these, so an
        emptied-then-re-added bucket is correctly re-extracted rather
        than skipped."""
        rows = self.read_manifest(table_path)
        if rows is None:
            return None
        latest = self._latest_rows(rows, version)
        return sorted(p for p, v in latest.items() if v != TOMBSTONE)

    def stale_buckets(
        self, spark: SparkSession, table_path: str, version: str
    ) -> list[int]:
        """Buckets whose newest manifest row was written by an OLDER
        kernel (Iceberg: partition metadata filtered on a writer-version
        snapshot property).  Tombstoned buckets are NOT stale — they
        have no data to upgrade."""
        latest = self._latest_rows(self.read_manifest(table_path) or [], version)
        return sorted(p for p, v in latest.items() if v not in (version, TOMBSTONE))

    def reconcile(self, spark: SparkSession, table_path: str) -> list[int]:
        """Close the crash window between data commit and manifest
        commit: delete any data partition directory whose bucket is NOT
        live in the manifest (idempotent repair — the bucket is then
        re-extracted deterministically).  With a real Iceberg catalog
        data + metadata share one atomic snapshot commit and this step
        DISAPPEARS (the related maintenance is deleteOrphanFiles)."""
        dp = self.data_path(table_path)
        if not os.path.isdir(dp):
            return []
        # version string is irrelevant for liveness here (any non-
        # tombstone newest row means committed); reuse a fixed label
        done_ids = set(self.committed_buckets(spark, table_path, "") or ())
        orphans = []
        for name in os.listdir(dp):
            if not name.startswith("part_id="):
                continue
            pid = int(name.split("=", 1)[1])
            if pid not in done_ids:
                shutil.rmtree(os.path.join(dp, name), ignore_errors=True)
                orphans.append(pid)
        return sorted(orphans)

    def delete_partition_dir(self, table_path: str, part_id: int) -> None:
        """Remove one bucket's data directory (the file-removal half of
        a delete snapshot; pair with ``tombstone_buckets``)."""
        shutil.rmtree(
            os.path.join(self.data_path(table_path), f"part_id={part_id}"),
            ignore_errors=True,
        )


#: the pipeline's table format.  A real deployment swaps this instance
#: for an Iceberg-backed implementation of the same five operations.
FORMAT = ParquetManifestFormat()
