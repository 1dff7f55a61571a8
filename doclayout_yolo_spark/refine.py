"""Refinement stage (SURVEY §2.10 last row): a small MLP over the
23-dim per-region text/spatial feature vector producing refined class
logits — the analog of the reference's OCR-feature refinement module
(ocr_utils.py:172-242, model_refined.py:136-188: fused text+visual
features -> MLP -> class logits), re-expressed as a second vectorized
pandas stage after extraction.

Weights are deterministic (seeded Xavier-style init) — this repo has
no training loop, so the stage demonstrates the *dataflow* (feature
extraction inside the kernel, Arrow-batched matmul, argmax reduce)
with a frozen model, exactly how a trained checkpoint would be
broadcast and applied at 100 TB scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .labelmaps import NC
from .textfeat import N_FEATURES, feature_matrix  # noqa: F401

HIDDEN = 32
SEED = 1234


def _init_weights() -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    rng = np.random.RandomState(SEED)
    lim1 = np.sqrt(6.0 / (N_FEATURES + HIDDEN))
    lim2 = np.sqrt(6.0 / (HIDDEN + NC))
    w1 = rng.uniform(-lim1, lim1, (N_FEATURES, HIDDEN)).astype(np.float32)
    b1 = np.zeros(HIDDEN, dtype=np.float32)
    w2 = rng.uniform(-lim2, lim2, (HIDDEN, NC)).astype(np.float32)
    b2 = np.zeros(NC, dtype=np.float32)
    return w1, b1, w2, b2


def _dot(x: np.ndarray, w: np.ndarray) -> np.ndarray:
    """``x @ w`` summed over k in ascending order, one float32 rounding
    per multiply and per add.  No BLAS: a BLAS sgemm picks its kernel,
    and so its accumulation order, by CPU and matrix shape, which moves
    the last bit of a logit from one host or Arrow batch size to the
    next."""
    acc = x[:, :1] * w[0]
    for k in range(1, w.shape[0]):
        acc = acc + x[:, k : k + 1] * w[k]
    return acc


# Output classes from this index on sum the hidden layer as two
# partial sums (even k, odd k) added at the end: the order of an
# 8-column kernel's column tail, in which the golden snapshot
# (tests/golden/sf0.01/refine_region_scores.parquet) was generated.
_SPLIT_CLS = 8


def mlp_logits(feats: np.ndarray) -> np.ndarray:
    """(N, 23) float32 -> (N, NC) float32 logits, vectorized over the
    Arrow batch.  Each row's logits depend only on that row, bit for
    bit, on every CPU and for every batch size."""
    w1, b1, w2, b2 = _WEIGHTS
    h = np.maximum(_dot(feats, w1) + b1, 0.0)
    logits = _dot(h, w2)
    tail = w2[:, _SPLIT_CLS:]
    logits[:, _SPLIT_CLS:] = _dot(h[:, 0::2], tail[0::2]) + _dot(
        h[:, 1::2], tail[1::2]
    )
    return (logits + b2).astype(np.float32)


_WEIGHTS = _init_weights()

REFINED_DDL = (
    "url string, region_id int, cls long, refined_cls long, refined_score double"
)


def refine_regions(extracted: DataFrame) -> DataFrame:
    """extraction output (url, extracted_text, spans, page_h) ->
    per-region refined class via the feature MLP.

    Spans explode stays relational; the feature+matmul stage is one
    mapInPandas over the exploded long table (vectorized per batch).
    """
    regions = extracted.select(
        "url",
        "page_h",
        F.explode("spans").alias("s"),
        F.col("extracted_text").alias("t"),
    ).select(
        "url",
        F.col("s.region_id").alias("region_id"),
        F.col("s.cls").alias("cls"),
        F.col("s.x1").alias("x1"),
        F.col("s.y1").alias("y1"),
        F.col("s.x2").alias("x2"),
        F.col("s.y2").alias("y2"),
        F.expr("substring(t, s.start + 1, s.end - s.start)").alias("region_text"),
        "page_h",
    )

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            feats = feature_matrix(
                pdf["region_text"], pdf["x1"], pdf["y1"], pdf["x2"],
                pdf["y2"], 960.0, pdf["page_h"],
            )
            logits = mlp_logits(feats)
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "region_id": pdf["region_id"],
                    "cls": pdf["cls"].astype("int64"),
                    "refined_cls": logits.argmax(axis=1).astype("int64"),
                    "refined_score": logits.max(axis=1).astype(float),
                }
            )

    return regions.mapInPandas(kernel, schema=REFINED_DDL)
