"""The one memo cache (``memo.cached``): its eviction policy, and the
lifetime of the persisted AP results it holds."""

from __future__ import annotations

import os

import pandas as pd

from doclayout_yolo_spark import memo
from doclayout_yolo_spark.scan import read_spread

SF_DIR = "/root/testdata/sf0.001"


class _Stub:
    def __init__(self):
        self.unpersisted = False

    def unpersist(self, blocking=False):
        self.unpersisted = True


def _entries(spark, group, path):
    app = spark.sparkContext.applicationId
    return [k for k in memo._CACHE if k[:3] == (app, group, path)]


def _persisted_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_rewritten_file_leaves_one_read_spread_entry(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pd.DataFrame({"x": range(10)}).to_parquet(path, index=False)
    old = read_spread(spark, path).persist()
    assert old.count() == 10
    assert read_spread(spark, path) is old

    pd.DataFrame({"x": range(20)}).to_parquet(path, index=False)
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 10))
    new = read_spread(spark, path)
    assert new is not old
    assert new.count() == 20
    assert len(_entries(spark, "spread", path)) == 1
    assert not old.is_cached
    assert not old.storageLevel.useMemory


def test_other_app_entry_is_dropped_and_unpersisted(spark, tmp_path):
    stub = _Stub()
    fake = ("app-stopped-long-ago", "spread", str(tmp_path / "gone"), 1.0)
    memo._CACHE[fake] = stub
    memo.cached(spark, "test-group", str(tmp_path / "x.parquet"), lambda: 1)
    assert fake not in memo._CACHE
    assert stub.unpersisted


def test_groups_on_one_path_do_not_evict_each_other(spark):
    from doclayout_yolo_spark.queries_text import _capped_shingles, _shingles

    path = f"{SF_DIR}/documents.parquet"
    sh = _shingles(spark, SF_DIR)
    capped = _capped_shingles(spark, SF_DIR)
    assert _shingles(spark, SF_DIR) is sh
    assert _capped_shingles(spark, SF_DIR) is capped
    assert len(_entries(spark, "shingles", path)) == 1
    assert len(_entries(spark, "capped_shingles", path)) == 1
    assert sh.is_cached and capped.is_cached


def test_detection_map_builds_share_one_memoized_handle(spark):
    from doclayout_yolo_spark.queries_detect import detection_map

    first = detection_map(spark, SF_DIR)
    assert detection_map(spark, SF_DIR) is first
    assert len(_entries(spark, "detection_map", f"{SF_DIR}/events.parquet")) == 1
    assert first.storageLevel.useMemory


def test_repeated_ap_per_class_leaves_nothing_persisted(spark):
    from doclayout_yolo_spark.metrics import ap_per_class, match_table

    gt_pdf = pd.DataFrame(
        [("d0", 0, 10.0, 10.0, 100.0, 100.0, 1),
         ("d0", 1, 200.0, 200.0, 300.0, 320.0, 7)],
        columns=["doc", "gt_id", "x1", "y1", "x2", "y2", "cls"],
    )
    det_pdf = pd.DataFrame(
        [("d0", 0, 10.0, 10.0, 100.0, 100.0, 0.9, 1)],
        columns=["doc", "det_id", "x1", "y1", "x2", "y2", "conf", "cls"],
    )
    before = _persisted_rdds(spark)
    for _ in range(2):
        matches = match_table(
            spark.createDataFrame(det_pdf), spark.createDataFrame(gt_pdf)
        )
        assert len(ap_per_class(matches, {1: 1, 7: 1}).toPandas()) == 20
    assert not _persisted_rdds(spark) - before
