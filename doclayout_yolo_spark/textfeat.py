"""23-dim per-region text/spatial feature vector.

Same shape as the reference's OCR feature extractor
(doclayout_yolo/nn/modules/ocr_utils.py:116-169): 6 text statistics +
11 keyword-class scores + 6 spatial features, float32.  The keyword
table mirrors ocr_utils.py:93-105's *structure* (one keyword list per
layout class) with our own class vocabulary.

Pure Python/NumPy — used inside the Arrow kernel.
"""

from __future__ import annotations

import re

import numpy as np

# One keyword list per feature slot (11 slots, like the reference's 11
# keyword classes at ocr_utils.py:93-105).
KEYWORD_TABLE: dict[str, tuple[str, ...]] = {
    "title": ("abstract", "introduction", "conclusion", "chapter"),
    "text": ("the", "and", "of", "to"),
    "abandon": ("cookie", "subscribe", "copyright", "privacy", "menu"),
    "figure": ("figure", "fig.", "image"),
    "figure_caption": ("figure", "fig.", "caption"),
    "table": ("table", "total", "row"),
    "table_caption": ("table", "caption"),
    "table_footnote": ("note", "source:"),
    "isolate_formula": ("=", "+", "\\sum", "\\frac"),
    "formula_caption": ("equation", "eq."),
    "list": ("first", "second", "item"),
}
assert len(KEYWORD_TABLE) == 11

_DIGIT_RE = re.compile(r"[0-9]")
_UPPER_RE = re.compile(r"[A-Z]")
_SENT_END_RE = re.compile(r"[.!?]")
_SPECIAL_RE = re.compile(r"[^0-9A-Za-z\s]")
_WS_RE = re.compile(r"\s+")

N_FEATURES = 23


def text_stats(text: str) -> np.ndarray:
    """6 text statistics (mirrors ocr_utils.py:130-141's shape):
    char length (log1p), word count (log1p), digit ratio, upper ratio,
    sentence-ender count (log1p), special-char ratio."""
    n = len(text)
    words = [w for w in _WS_RE.split(text) if w]
    denom = max(n, 1)
    return np.array(
        [
            np.log1p(np.float32(n)),
            np.log1p(np.float32(len(words))),
            len(_DIGIT_RE.findall(text)) / denom,
            len(_UPPER_RE.findall(text)) / denom,
            np.log1p(np.float32(len(_SENT_END_RE.findall(text)))),
            len(_SPECIAL_RE.findall(text)) / denom,
        ],
        dtype=np.float32,
    )


def keyword_scores(text: str) -> np.ndarray:
    """11 keyword-class scores: per class, the fraction of its keyword
    list present as a (case-insensitive) substring — the scheme of
    ocr_utils.py:143-146."""
    low = text.lower()
    out = np.empty(11, dtype=np.float32)
    for i, kws in enumerate(KEYWORD_TABLE.values()):
        out[i] = sum(1 for k in kws if k in low) / len(kws)
    return out


def spatial_features(
    x1: float, y1: float, x2: float, y2: float, page_w: float, page_h: float
) -> np.ndarray:
    """6 spatial features (ocr_utils.py:148-161's shape): normalized
    x1, y1, width ratio, height ratio, center x, center y."""
    pw = max(page_w, 1.0)
    ph = max(page_h, 1.0)
    return np.array(
        [
            x1 / pw,
            y1 / ph,
            (x2 - x1) / pw,
            (y2 - y1) / ph,
            (x1 + x2) / 2.0 / pw,
            (y1 + y2) / 2.0 / ph,
        ],
        dtype=np.float32,
    )


def feature_matrix(
    texts,
    x1,
    y1,
    x2,
    y2,
    page_w: float,
    page_h,
) -> np.ndarray:
    """Vectorized (n, 23) feature matrix over pandas Series — the Arrow
    hot path (one pass of pandas .str regex counts per feature instead
    of a per-row Python loop).  Bit-identical to stacking
    ``feature_vector`` row-by-row: the same double-precision ratios are
    downcast to float32 elementwise, and pandas ``.str.count(r"\\S+")``
    counts exactly the non-empty segments ``_WS_RE.split`` yields."""
    import pandas as pd  # noqa: PLC0415

    texts = pd.Series(texts).fillna("")
    n = len(texts)
    out = np.empty((n, N_FEATURES), dtype=np.float32)
    lens = texts.str.len().to_numpy(np.int64)
    denom = np.maximum(lens, 1).astype(np.float64)
    out[:, 0] = np.log1p(lens.astype(np.float32))
    out[:, 1] = np.log1p(texts.str.count(r"\S+").to_numpy(np.float32))
    out[:, 2] = (texts.str.count("[0-9]").to_numpy(np.int64) / denom).astype(np.float32)
    out[:, 3] = (texts.str.count("[A-Z]").to_numpy(np.int64) / denom).astype(np.float32)
    out[:, 4] = np.log1p(texts.str.count("[.!?]").to_numpy(np.float32))
    out[:, 5] = (
        texts.str.count(r"[^0-9A-Za-z\s]").to_numpy(np.int64) / denom
    ).astype(np.float32)
    low = texts.str.lower()
    for i, kws in enumerate(KEYWORD_TABLE.values()):
        hits = np.zeros(n, dtype=np.int64)
        for k in kws:
            hits += low.str.contains(k, regex=False).to_numpy(bool)
        out[:, 6 + i] = hits / np.float64(len(kws))
    x1 = np.asarray(x1, dtype=np.float64)
    y1 = np.asarray(y1, dtype=np.float64)
    x2 = np.asarray(x2, dtype=np.float64)
    y2 = np.asarray(y2, dtype=np.float64)
    pw = max(float(page_w), 1.0)
    ph = np.maximum(np.asarray(page_h, dtype=np.float64), 1.0)
    out[:, 17] = (x1 / pw).astype(np.float32)
    out[:, 18] = (y1 / ph).astype(np.float32)
    out[:, 19] = ((x2 - x1) / pw).astype(np.float32)
    out[:, 20] = ((y2 - y1) / ph).astype(np.float32)
    out[:, 21] = ((x1 + x2) / 2.0 / pw).astype(np.float32)
    out[:, 22] = ((y1 + y2) / 2.0 / ph).astype(np.float32)
    return out


def feature_vector(
    text: str,
    box: tuple[float, float, float, float],
    page_shape: tuple[float, float],
) -> np.ndarray:
    """Full 23-dim vector = 6 stats + 11 keyword + 6 spatial
    (ocr_utils.py:116-169 contract; dim asserted like the reference's
    own component test test_refinement.py:21-38)."""
    page_w, page_h = page_shape
    v = np.concatenate(
        [
            text_stats(text),
            keyword_scores(text),
            spatial_features(*box, page_w, page_h),
        ]
    ).astype(np.float32)
    assert v.shape == (N_FEATURES,)
    return v
