"""Detection-metrics harness — the Spark rendering of the reference's
``model.val`` query (SURVEY §3.2):

    detections x labels (per-doc grouped NumPy match kernel, J1/J2)
      -> match table (doc, cls, conf, tp@iou[T])
      -> conf-desc cumulative TP/FP (window, A3)
      -> per-class AP via 101-point interpolated precision envelope (A5/A6)
      -> mAP / mAP50 (A8)

Reference semantics reproduced numerically (not ported):
- IoU matrix: utils/metrics.py:53-72
- greedy matching over IoU thresholds: engine/validator.py:249-289
  (candidate pairs above threshold; sort by IoU desc; dedup by
  detection then by label — each side matched at most once)
- AP integral: precision envelope (reverse running max) + 101-point
  interpolation: utils/metrics.py:496-526
- per-class loop over 10 IoU thresholds: utils/metrics.py:528-616

The match stage is a per-document ``applyInPandas`` kernel (both sides
tiny per group — never a global theta join); the AP reduction runs on
the aggregated match table, which is small (one row per detection), so
the final 101-point integration executes in NumPy on the collected
per-class curves exactly like the reference's single-process finalize.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels import box_iou

IOU_THRESHOLDS = np.round(np.arange(0.5, 1.0, 0.05), 2)  # 10 thresholds


def greedy_match(
    det_boxes: np.ndarray,
    det_cls: np.ndarray,
    gt_boxes: np.ndarray,
    gt_cls: np.ndarray,
    thresholds: np.ndarray = IOU_THRESHOLDS,
) -> np.ndarray:
    """(n_det, T) bool TP matrix — validator.py:249-289 semantics."""
    n, t = len(det_boxes), len(thresholds)
    tp = np.zeros((n, t), dtype=bool)
    if n == 0 or len(gt_boxes) == 0:
        return tp
    iou = box_iou(gt_boxes, det_boxes)  # (n_gt, n_det)
    # zero out wrong-class pairs
    correct_cls = gt_cls[:, None] == det_cls[None, :]
    iou = iou * correct_cls
    for ti, thr in enumerate(thresholds):
        gi, di = np.nonzero(iou >= thr)
        if len(gi) == 0:
            continue
        order = np.argsort(-iou[gi, di], kind="stable")
        gi, di = gi[order], di[order]
        # dedup by detection, then by label (each matched at most once).
        # np.unique(return_index=True) keeps the FIRST occurrence per value
        # (= highest IoU, array is IoU-desc) and emits rows ordered by the
        # deduped value ascending — so the gt dedup sees detections in
        # det-index-ascending order and keeps the LOWEST-index detection
        # per gt, exactly like the reference's
        # matches[np.unique(matches[:,1], return_index=True)[1]] chain
        # (validator.py:249-289).  Do NOT re-sort to IoU order in between.
        _, keep_d = np.unique(di, return_index=True)
        gi, di = gi[keep_d], di[keep_d]
        _, keep_g = np.unique(gi, return_index=True)
        gi, di = gi[keep_g], di[keep_g]
        tp[di, ti] = True
    return tp


MATCH_DDL = "doc string, det_id long, cls long, conf double, " + ", ".join(
    f"tp{i} boolean" for i in range(len(IOU_THRESHOLDS))
)


def _match_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
    doc = key[0]
    # applyInPandas delivers rows in shuffle-arrival order, and the
    # np.unique dedup in greedy_match is POSITIONAL — sort both sides
    # by their id so tied-IoU outcomes are run-deterministic (and match
    # the id-ordered golden-oracle generator)
    pdf = pdf.sort_values("det_id")
    dets = pdf[pdf["side"] == "det"]
    gts = pdf[pdf["side"] == "gt"]
    boxes_d = dets[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float32)
    boxes_g = gts[["x1", "y1", "x2", "y2"]].to_numpy(dtype=np.float32)
    tp = greedy_match(
        boxes_d,
        dets["cls"].to_numpy(),
        boxes_g,
        gts["cls"].to_numpy(),
    )
    out = {
        "doc": str(doc),
        "det_id": dets["det_id"].to_numpy(),
        "cls": dets["cls"].to_numpy(),
        "conf": dets["conf"].to_numpy(),
    }
    for i in range(tp.shape[1]):
        out[f"tp{i}"] = tp[:, i]
    return pd.DataFrame(out)


def match_table(dets: DataFrame, gts: DataFrame) -> DataFrame:
    """dets: (doc, det_id, x1..y2, conf, cls); gts: (doc, gt_id
    [ignored], x1..y2, cls).  Returns the per-detection TP table.

    Union-then-group keeps one shuffle: both sides hash-partition on
    doc once, the kernel splits them back out per group.
    """
    d = dets.select(
        "doc", "det_id", "x1", "y1", "x2", "y2", "conf", "cls",
        F.lit("det").alias("side"),
    )
    # the gt side reuses the det_id slot for ITS id so the kernel's
    # det_id sort orders ground truth deterministically too (gt row
    # order feeds the positional gt dedup)
    g = gts.select(
        "doc", F.col("gt_id").alias("det_id"), "x1", "y1", "x2", "y2",
        F.lit(0.0).alias("conf"), "cls", F.lit("gt").alias("side"),
    )
    both = d.unionByName(g)
    return both.groupBy("doc").applyInPandas(_match_group, schema=MATCH_DDL)


def ap_interp(recall: np.ndarray, precision: np.ndarray) -> float:
    """101-point interpolated AP with precision envelope —
    metrics.py:496-526 semantics (reverse running max + interp)."""
    r = np.concatenate([[0.0], recall, [1.0]])
    p = np.concatenate([[1.0], precision, [0.0]])
    p = np.flip(np.maximum.accumulate(np.flip(p)))
    x = np.linspace(0, 1, 101)
    return float(np.trapz(np.interp(x, r, p), x))


def confusion_pairs(
    det_boxes: np.ndarray,
    det_cls: np.ndarray,
    det_conf: np.ndarray,
    gt_boxes: np.ndarray,
    gt_cls: np.ndarray,
    nc: int,
    conf_thres: float = 0.25,
    iou_thres: float = 0.45,
) -> list[tuple[int, int]]:
    """One document's (pred_cls, gt_cls) confusion increments, with
    ``nc`` as the background index — utils/metrics.py:284-384
    (ConfusionMatrix.process_batch) semantics:

    - detections filtered at ``conf > conf_thres``;
    - CLASS-AGNOSTIC IoU matching at a single ``iou_thres`` with the
      reference's dedup chain — note it re-sorts by IoU desc between
      the det dedup and the gt dedup (unlike the validator's
      match_predictions), so the gt keeps its HIGHEST-IoU detection;
    - matched gt -> (det_cls, gt_cls); unmatched gt -> (nc, gt_cls);
    - unmatched det -> (det_cls, nc), but ONLY when at least one match
      exists in the document (the reference skips the FP loop when
      ``n`` is falsy — reproduced faithfully, quirk included);
    - determinism pin: stable sorts (the reference's unstable argsort
      leaves IoU ties platform-dependent).
    """
    keep = det_conf > conf_thres
    det_boxes, det_cls = det_boxes[keep], det_cls[keep]
    out: list[tuple[int, int]] = []
    if len(gt_cls) == 0:
        return [(int(dc), nc) for dc in det_cls]
    if len(det_cls) == 0:
        return [(nc, int(gc)) for gc in gt_cls]
    iou = box_iou(gt_boxes, det_boxes)
    gi, di = np.nonzero(iou > iou_thres)
    if len(gi):
        order = np.argsort(-iou[gi, di], kind="stable")
        gi, di, v = gi[order], di[order], iou[gi, di][order]
        _, keep_d = np.unique(di, return_index=True)
        gi, di, v = gi[keep_d], di[keep_d], v[keep_d]
        order = np.argsort(-v, kind="stable")
        gi, di = gi[order], di[order]
        _, keep_g = np.unique(gi, return_index=True)
        gi, di = gi[keep_g], di[keep_g]
    n = len(gi) > 0
    gt_to_det = dict(zip(gi.tolist(), di.tolist()))
    for i, gc in enumerate(gt_cls):
        d = gt_to_det.get(i)
        if n and d is not None:
            out.append((int(det_cls[d]), int(gc)))
        else:
            out.append((nc, int(gc)))
    if n:
        matched_d = set(di.tolist())
        for i, dc in enumerate(det_cls):
            if i not in matched_d:
                out.append((int(dc), nc))
    return out


CONFUSION_DDL = "pred_cls long, gt_cls long"


def confusion_matrix(
    dets: DataFrame, gts: DataFrame, nc: int,
    conf_thres: float = 0.25, iou_thres: float = 0.45,
) -> DataFrame:
    """Distributed (nc+1)^2 detection confusion matrix: per-doc NumPy
    increments via applyInPandas (one shuffle on doc), then a count
    aggregation padded with zero cells so every (pred_cls, gt_cls)
    combination appears exactly once (nc = background row/col)."""
    d = dets.select(
        "doc", "det_id", "x1", "y1", "x2", "y2", "conf", "cls",
        F.lit("det").alias("side"),
    )
    if "det_id" not in gts.columns and "gt_id" in gts.columns:
        # accept match_table-shaped ground truth (gt_id) — same contract
        gts = gts.withColumnRenamed("gt_id", "det_id")
    g = gts.select(
        "doc", "det_id", "x1", "y1", "x2", "y2",
        F.lit(0.0).alias("conf"), "cls", F.lit("gt").alias("side"),
    )

    def _group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by id: the positional np.unique dedup must not depend on
        # shuffle arrival order (ties in IoU exist in real data)
        pdf = pdf.sort_values("det_id")
        dd = pdf[pdf["side"] == "det"]
        gg = pdf[pdf["side"] == "gt"]
        pairs = confusion_pairs(
            dd[["x1", "y1", "x2", "y2"]].to_numpy(np.float32),
            dd["cls"].to_numpy(np.int64),
            dd["conf"].to_numpy(np.float64),
            gg[["x1", "y1", "x2", "y2"]].to_numpy(np.float32),
            gg["cls"].to_numpy(np.int64),
            nc, conf_thres, iou_thres,
        )
        return pd.DataFrame(pairs, columns=["pred_cls", "gt_cls"])

    cells = (
        d.unionByName(g)
        .groupBy("doc")
        .applyInPandas(_group, schema=CONFUSION_DDL)
        .groupBy("pred_cls", "gt_cls")
        .agg(F.count("*").alias("n"))
    )
    spark = dets.sparkSession
    dim = spark.range(nc + 1).select(F.col("id").alias("c"))
    full = dim.select(F.col("c").alias("pred_cls")).crossJoin(
        dim.select(F.col("c").alias("gt_cls"))
    )
    return full.join(cells, ["pred_cls", "gt_cls"], "left").select(
        "pred_cls", "gt_cls", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )


AP_DDL = "cls long, iou_idx int, iou_thr double, ap double"


def ap_per_class(
    matches: DataFrame, gt_counts: "dict[int, int] | DataFrame"
) -> DataFrame:
    """match table -> per-(cls, iou_threshold) AP, fully distributed.

    One shuffle (hash on cls); each class's curve (sort by conf desc,
    cumsum, 101-point integral) runs inside ``applyInPandas`` — never a
    per-detection driver collect, so 10^8 detections reduce to
    nc x 10 rows executor-side.  Classes that have ground-truth labels
    but ZERO detections still contribute ap=0 rows (the reference
    zero-initializes ap over unique target classes, utils/metrics.py
    ap_per_class), otherwise mAP is inflated: one detection-less stub
    row per gt class is unioned into the kernel input, so such a class
    reaches the kernel as a zero-detection group and the kernel emits
    its zeros — the output is read once, never persisted.

    ``gt_counts`` may be a plain dict (historical API) or a LAZY
    ``(cls, n)`` DataFrame (r6): the dict form forces the caller to
    run a count-and-collect Spark job at query-BUILD time — a job the
    bench protocol pays on every timed run — while the DataFrame form
    keeps the whole query one lazy plan.  The dict becomes a local
    frame, so both forms run the same plan and produce identical rows
    (detection_map's golden oracle pins this).
    """
    t = len(IOU_THRESHOLDS)
    if not isinstance(gt_counts, DataFrame):
        gt_counts = matches.sparkSession.createDataFrame(
            [(int(k), int(v)) for k, v in gt_counts.items()], "cls long, n long"
        )
    counts = gt_counts.select(
        F.col("cls").cast("long").alias("cls"),
        F.col("n").cast("long").alias("n_gt"),
    ).filter(F.col("n_gt") > 0)
    # inner join: detections of a class with no ground truth are all
    # FP with AP undefined -> excluded (reference only loops gt
    # classes); the stubs (doc null) carry every gt class into the
    # kernel even when it has no detection
    groups = matches.join(F.broadcast(counts), "cls", "inner").unionByName(
        counts, allowMissingColumns=True
    )

    def _ap_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        cls = int(key[0])
        n_gt = int(pdf["n_gt"].iloc[0])
        pdf = pdf[pdf["doc"].notna()].sort_values(
            ["conf", "doc", "det_id"], ascending=[False, True, True]
        )
        npreds = np.arange(1, len(pdf) + 1, dtype=np.float64)
        cols = {"cls": [], "iou_idx": [], "iou_thr": [], "ap": []}
        for i in range(t):
            ctp = pdf[f"tp{i}"].to_numpy(dtype=np.float64).cumsum()
            cols["cls"].append(cls)
            cols["iou_idx"].append(i)
            cols["iou_thr"].append(float(IOU_THRESHOLDS[i]))
            cols["ap"].append(
                ap_interp(ctp / n_gt, ctp / npreds) if len(pdf) else 0.0
            )
        return pd.DataFrame(cols)

    return groups.groupBy("cls").applyInPandas(_ap_group, schema=AP_DDL)


def summarize(ap_df: pd.DataFrame) -> dict:
    """mAP50 / mAP50-95 means over classes (metrics.py:656-744, A8)."""
    if ap_df.empty:
        return {"map50": 0.0, "map50_95": 0.0}
    ap50 = ap_df[ap_df["iou_idx"] == 0].groupby("cls")["ap"].first()
    ap_all = ap_df.groupby("cls")["ap"].mean()
    return {"map50": float(ap50.mean()), "map50_95": float(ap_all.mean())}
