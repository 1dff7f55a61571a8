"""Refinement-MLP stage tests."""

from __future__ import annotations

import numpy as np

from doclayout_yolo_spark.fixtures import PAGES_DDL, generate_pages_pandas
from doclayout_yolo_spark.labelmaps import NC
from doclayout_yolo_spark.pipeline import extract_pages
from doclayout_yolo_spark.refine import mlp_logits, refine_regions
from doclayout_yolo_spark.textfeat import N_FEATURES


def test_mlp_shapes_and_determinism():
    feats = np.random.RandomState(0).rand(17, N_FEATURES).astype(np.float32)
    a = mlp_logits(feats)
    b = mlp_logits(feats)
    assert a.shape == (17, NC) and a.dtype == np.float32
    np.testing.assert_array_equal(a, b)


def test_refine_regions_spark(spark):
    pdf = generate_pages_pandas(12)
    df = spark.createDataFrame(pdf, schema=PAGES_DDL)
    extracted = extract_pages(df, n_buckets=8)
    refined = refine_regions(extracted).collect()
    n_regions = sum(r["n_regions"] for r in extracted.collect())
    assert len(refined) == n_regions
    assert all(0 <= r["refined_cls"] < NC for r in refined)
    # region_text slicing must have fed real text (scores vary)
    scores = {round(r["refined_score"], 4) for r in refined}
    assert len(scores) > 3


def test_feature_matrix_bit_identical_to_per_row():
    import numpy as np
    import pandas as pd

    from doclayout_yolo_spark.textfeat import feature_matrix, feature_vector

    texts = ["", "Hello World 42!", "the and of to",
             "Figure 1. A caption?!?",
             "COOKIE subscribe\ttabs\nnewlines  multi   space",
             "=+\\sum\\frac", "x" * 500,
             "Table: total row note source: eq. equation item first"]
    rng = np.random.RandomState(0)
    x1 = rng.rand(len(texts)) * 900
    y1 = rng.rand(len(texts)) * 1000
    x2 = x1 + rng.rand(len(texts)) * 100
    y2 = y1 + rng.rand(len(texts)) * 50
    ph = rng.rand(len(texts)) * 2000 + 500
    mat = feature_matrix(pd.Series(texts), x1, y1, x2, y2, 960.0, ph)
    for i, t in enumerate(texts):
        v = feature_vector(t, (x1[i], y1[i], x2[i], y2[i]), (960.0, ph[i]))
        assert (mat[i] == v).all(), (i, t)


def test_mlp_logits_fixed_order_any_batch():
    """Each row's logits are the documented float32 sums, bit for bit,
    whatever the batch size: ascending k for the hidden layer and for
    classes below 8, even-k plus odd-k partial sums for the rest.  The
    reference is scalar np.float32 arithmetic, which rounds the same on
    every CPU; a BLAS matmul matches it only on some kernels."""
    from doclayout_yolo_spark.refine import _WEIGHTS

    w1, b1, w2, b2 = _WEIGHTS
    feats = np.random.RandomState(1).rand(37, N_FEATURES).astype(np.float32)

    def ordered_sum(terms):
        acc = terms[0]
        for t in terms[1:]:
            acc = np.float32(acc + t)
        return acc

    def row_logits(f):
        h = [
            max(ordered_sum([f[k] * w1[k, j] for k in range(N_FEATURES)])
                + b1[j], np.float32(0.0))
            for j in range(w1.shape[1])
        ]
        out = []
        for c in range(NC):
            prods = [h[k] * w2[k, c] for k in range(len(h))]
            if c < 8:
                s = ordered_sum(prods)
            else:
                s = np.float32(ordered_sum(prods[0::2]) + ordered_sum(prods[1::2]))
            out.append(np.float32(s + b2[c]))
        return np.array(out, dtype=np.float32)

    want = np.stack([row_logits(f) for f in feats])
    np.testing.assert_array_equal(mlp_logits(feats), want)
    for n in (1, 2, 5):
        np.testing.assert_array_equal(mlp_logits(feats[:n]), want[:n])
