"""Embedding similarity search + multimodal-column plumbing over the
driver testdata (``embeddings``, ``documents``), each with a DuckDB
oracle where SQL-expressible.

Float-parity convention: element-wise products are bit-deterministic;
folds are sequential in index order in both engines; final values are
rounded to 6 decimals before ranking/output so residual summation
drift can never flip a comparison.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from .memo import cached
from .queries_text import _bucket_pairs
from .scan import read_parquet, read_spread

TOPK = 3
N_QUERIES = 5  # vec_id < 5 are the query vectors


def _emb(spark: SparkSession, sf_dir: str, wide: bool = True):
    """``wide=True`` spreads the single-row-group scan (scan.py) — a
    measured win for the matmul-kernel consumers (ann_cosine_topk
    0.57 vs 1.32 s, ann_ivf 1.37 vs 1.92 s steady at sf1.0).  The
    planted-pair LSH path passes ``wide=False``: its per-row work is
    light and the extra exchange measured a net LOSS at both scales
    (ann_lsh_multiband 0.92 vs 1.51 s at sf0.1, 3.14 vs 3.41 at
    sf1.0)."""
    path = f"{sf_dir}/embeddings.parquet"
    df = read_spread(spark, path) if wide else read_parquet(spark, path)
    return df.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )


def _round_half_away(x, ndigits: int):
    """Round half-away-from-zero, matching Spark F.round and DuckDB
    ROUND.  np.round is half-to-even, so a value landing exactly on a
    .5 boundary at the target scale (e.g. 2.5e-6 at 6 digits) would
    flip assignment/encoding vs the oracle — an input-dependent flake
    for the randomized differential gates (r3 ADVICE)."""
    s = 10.0 ** ndigits
    return np.sign(x) * np.floor(np.abs(x) * s + 0.5) / s


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


# --- brute-force cosine top-k (the ANN baseline) -----------------------------

def _with_norm(df, vec_col="vec"):
    """Precompute the L2 norm once per vector — recomputing it inside
    an O(n^2) pair expression triples the Catalyst fold work (measured
    26s -> ~9s on the 2M-pair dedup at sf0.1)."""
    return df.withColumn("nrm", _norm(F.col(vec_col)))


def ann_cosine_topk(spark, sf_dir):
    emb = _with_norm(_emb(spark, sf_dir))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("nrm").alias("qn"),
    )
    t = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("tvec"),
        F.col("nrm").alias("tn"),
    )
    pairs = F.broadcast(q).crossJoin(t).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qvec"), F.col("tvec")) / (F.col("qn") * F.col("tn")), 6
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
    )


ANN_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.vec, t.vec) /
               (sqrt(list_dot_product(q.vec, q.vec)) * sqrt(list_dot_product(t.vec, t.vec))), 6)
         AS cosine
  FROM e q JOIN e t ON q.vec_id < {N_QUERIES} AND q.vec_id <> t.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= {TOPK}
"""


# --- per-label embedding stats ------------------------------------------------

def embedding_label_stats(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    with_norm = emb.select("label", F.round(_norm(F.col("vec")), 6).alias("norm"))
    return with_norm.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.sum("norm"), 4).alias("sum_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


EMB_STATS_SQL = """
WITH n AS (
  SELECT label, ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm
  FROM embeddings
)
SELECT label, COUNT(*) AS n, ROUND(SUM(norm), 4) AS sum_norm, ROUND(MAX(norm), 6) AS max_norm
FROM n GROUP BY label
"""


# --- multimodal opaque-binary plumbing (decode stub) ----------------------------
#
# Treats the document text as an opaque binary payload (the image/audio
# analog: binary column + typed metadata).  The decode step is a
# deterministic fake (real decode libs aren't in this container); the
# Spark-side plumbing — binary column, Arrow batches, mapInPandas UDF
# signature, schema — is real and oracle-checked.

DECODE_DDL = (
    "doc_id long, n_bytes long, first_byte long, last_byte long, n_space_bytes long"
)


def _decode_kernel(batches):
    import pandas as pd  # noqa: PLC0415

    for pdf in batches:
        payloads = [bytes(b) if b is not None else b"" for b in pdf["payload"]]
        arrs = [np.frombuffer(p, dtype=np.uint8) for p in payloads]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": [len(a) for a in arrs],
                "first_byte": [int(a[0]) if len(a) else -1 for a in arrs],
                "last_byte": [int(a[-1]) if len(a) else -1 for a in arrs],
                "n_space_bytes": [int((a == 32).sum()) for a in arrs],
            }
        )


def multimodal_feature_extract(spark, sf_dir):
    """Feature extraction over an opaque binary column: a 16-bin
    nibble histogram per payload — REAL computation (not a stub), the
    shape of any decode->featurize stage (image color histograms,
    audio energy bands), computed in one Arrow-batched pass.  Output:
    doc_id, 16 bin counts, and the dominant nibble."""
    d = read_spread(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {"doc_id": pdf["doc_id"].astype("int64")}
            hists = []
            for raw in pdf["payload"]:
                arr = np.frombuffer(bytes(raw), dtype=np.uint8)
                nibbles = np.concatenate([arr >> 4, arr & 0xF])
                hists.append(np.bincount(nibbles, minlength=16))
            h = np.array(hists, dtype=np.int64)
            for b in range(16):
                out[f"f{b:x}"] = h[:, b]
            # ties break to the LOWEST nibble (np.argmax first-max)
            out["dominant_nibble"] = h.argmax(axis=1).astype("int32")
            yield pd.DataFrame(out)

    schema = "doc_id long, " + ", ".join(
        f"f{b:x} long" for b in range(16)
    ) + ", dominant_nibble int"
    return d.mapInPandas(kernel, schema=schema)


def _nibble_count_duck(digit: str) -> str:
    # occurrences of hex digit in the uppercase hex encoding = count
    # of that nibble value across the payload
    return (
        f"CAST(LENGTH(h) - LENGTH(replace(h, '{digit.upper()}', '')) AS BIGINT)"
    )


FEATURE_EXTRACT_SQL = f"""
WITH p AS (SELECT doc_id, upper(hex(encode(text))) AS h FROM documents),
f AS (
  SELECT doc_id,
         {", ".join(f"{_nibble_count_duck(format(b, 'x'))} AS f{format(b, 'x')}" for b in range(16))}
  FROM p
)
SELECT *, CAST(list_position(
  [{", ".join("f" + format(b, "x") for b in range(16))}],
  list_aggregate([{", ".join("f" + format(b, "x") for b in range(16))}], 'max')
) - 1 AS INT) AS dominant_nibble
FROM f
"""


def multimodal_decode_stub(spark, sf_dir):
    d = read_spread(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return d.mapInPandas(_decode_kernel, schema=DECODE_DDL)


DECODE_SQL = """
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_bytes,
       CAST(ord(substr(text, 1, 1)) AS BIGINT) AS first_byte,
       CAST(ord(substr(text, LENGTH(text), 1)) AS BIGINT) AS last_byte,
       CAST(LENGTH(text) - LENGTH(replace(text, ' ', '')) AS BIGINT) AS n_space_bytes
FROM documents
"""


# --- multimodal frame-sample / resize stubs ---------------------------------------
#
# Video/image analogs over the opaque binary payload: frame sampling =
# fixed-size chunking + every-k-th selection; resize = byte-stride
# downsampling.  The media decode itself is honestly faked (no codec
# libs in this container); the Spark plumbing — binary column, Arrow
# batches, per-chunk NumPy work, schema — is real and oracle-checked.

CHUNK = 256   # "frame" size in bytes
FRAME_STRIDE = 4  # sample every 4th frame
RESIZE_STRIDE = 4  # keep every 4th byte


def _ascii_payload(spark, sf_dir):
    """Synthetic opaque-binary payload: the document text projected to
    ASCII (non-ASCII -> '?') then UTF-8 encoded.  The projection makes
    byte offsets == character offsets BY CONSTRUCTION, so the
    byte-true Spark kernels and DuckDB's character functions agree for
    ANY input text — without it, one multi-byte character silently
    desyncs chunk boundaries between the engines (DuckDB v1.0 has no
    BLOB substring/md5 to express the byte view directly)."""
    d = read_spread(spark, f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id",
        F.encode(
            F.regexp_replace(F.col("text"), r"[^\x00-\x7F]", "?"), "utf-8"
        ).alias("payload"),
    )


_ASCII_DUCK = r"regexp_replace(text, '[^\x00-\x7f]', '?', 'g')"


def multimodal_frame_sample(spark, sf_dir):
    d = _ascii_payload(spark, sf_dir)

    def kernel(batches):
        import hashlib  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows = {"doc_id": [], "n_frames": [], "n_sampled": [], "sample_md5": []}
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b) if b is not None else b""
                frames = [raw[i:i + CHUNK] for i in range(0, len(raw), CHUNK)]
                sampled = frames[::FRAME_STRIDE]
                rows["doc_id"].append(int(doc_id))
                rows["n_frames"].append(len(frames))
                rows["n_sampled"].append(len(sampled))
                rows["sample_md5"].append(
                    hashlib.md5(b"".join(sampled)).hexdigest()
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        kernel,
        schema="doc_id long, n_frames long, n_sampled long, sample_md5 string",
    )


FRAME_SAMPLE_SQL = f"""
WITH ascii_docs AS (SELECT doc_id, {_ASCII_DUCK} AS text FROM documents)
SELECT doc_id,
       CAST(CEIL(LENGTH(text) / {CHUNK}.0) AS BIGINT) AS n_frames,
       CAST(CEIL(CEIL(LENGTH(text) / {CHUNK}.0) / {FRAME_STRIDE}.0) AS BIGINT) AS n_sampled,
       md5(array_to_string(
         [substr(text, i * {CHUNK * FRAME_STRIDE} + 1, {CHUNK})
          FOR i IN RANGE(0, CAST(CEIL(CEIL(LENGTH(text) / {CHUNK}.0) / {FRAME_STRIDE}.0) AS BIGINT))],
         '')) AS sample_md5
FROM ascii_docs
"""


def multimodal_resize_stub(spark, sf_dir):
    d = _ascii_payload(spark, sf_dir)

    def kernel(batches):
        import hashlib  # noqa: PLC0415

        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            rows = {"doc_id": [], "n_bytes_in": [], "n_bytes_out": [], "resized_md5": []}
            for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(b) if b is not None else b""
                small = raw[::RESIZE_STRIDE]
                rows["doc_id"].append(int(doc_id))
                rows["n_bytes_in"].append(len(raw))
                rows["n_bytes_out"].append(len(small))
                rows["resized_md5"].append(hashlib.md5(small).hexdigest())
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        kernel,
        schema="doc_id long, n_bytes_in long, n_bytes_out long, resized_md5 string",
    )


RESIZE_SQL = f"""
WITH ascii_docs AS (SELECT doc_id, {_ASCII_DUCK} AS text FROM documents)
SELECT doc_id,
       CAST(LENGTH(text) AS BIGINT) AS n_bytes_in,
       CAST(CEIL(LENGTH(text) / {RESIZE_STRIDE}.0) AS BIGINT) AS n_bytes_out,
       md5(array_to_string(
         [substr(text, i * {RESIZE_STRIDE} + 1, 1)
          FOR i IN RANGE(0, CAST(CEIL(LENGTH(text) / {RESIZE_STRIDE}.0) AS BIGINT))],
         '')) AS resized_md5
FROM ascii_docs
"""


# --- embedding-cosine near-duplicate pairs (dedup family) ---------------------

# the driver testdata plants no true embedding near-dups (max pairwise
# cosine ~0.51), so the "near-dup" threshold is set where the fixture
# yields a nonempty, checkable result; the operator is identical at 0.95
COSINE_DUP_THRESHOLD = 0.4


def dedup_embedding_cosine(spark, sf_dir):
    """Brute-force cosine near-dup pairs — the exact baseline the
    LSH-bucketed variant approximates (O(n^2): only for validation
    scale; the LSH variant is the 10^9-vector path)."""
    emb = _with_norm(_emb(spark, sf_dir))
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = F.broadcast(a).crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    cos = F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return pairs.select("vec_a", "vec_b", cos.alias("cosine")).filter(
        F.col("cosine") >= COSINE_DUP_THRESHOLD
    )


COSINE_DUP_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.vec, b.vec) /
             (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6)
       AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.vec, b.vec) /
      (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec)))
      >= {COSINE_DUP_THRESHOLD}
"""


# --- LSH-bucketed ANN (the 100 TB scale path) -----------------------------------
#
# Random-hyperplane LSH with engine-agnostic pseudo-random planes:
# coeff(p, d) = ((md5-hash64(p:d) % 2001) - 1000) / 1000  in [-1, 1].
# Signature bit p = sign(sum_d coeff(p,d) * vec[d]); bucket = 8 bits.
# Candidate pairs share a bucket, so the cross join shrinks from
# O(n^2) to O(sum of bucket^2) — the plan that survives 10^9 vectors
# (bucket count scales with #planes).  Exact cosine is then computed
# only within buckets.
#
# Measured on the sf0.01 fixture: 500 vecs -> 204 buckets, 576
# candidate pairs vs 124,750 brute-force (216x reduction).  Recall is
# ~7% at the fixture's low threshold (cosine 0.4 ~ 66 deg: P[same
# 8-bit bucket] = (1 - theta/pi)^8 ~ 0.025) and rises steeply for true
# near-dups (cosine 0.95 -> ~43% single-band; production would OR
# multiple bands exactly like dedup_minhash_lsh does for shingles).

N_PLANES = 8
DIM = 64


def _plane_matrix(n_planes: int) -> np.ndarray:
    """(n_planes, DIM) float64 pseudo-random hyperplanes from md5 —
    identical to the SQL oracle's per-(p, d) coefficient formula, built
    once and closed over by the kernel (the broadcast-small-matrix
    pattern; a real deployment would broadcast a trained codebook the
    same way)."""
    import hashlib  # noqa: PLC0415

    planes = np.empty((n_planes, DIM), dtype=np.float64)
    for p in range(n_planes):
        for d in range(DIM):
            h = int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:15], 16)
            planes[p, d] = ((h % 2001) - 1000) / 1000.0
    return planes


def _sig_bits(vec_col: "object", planes: np.ndarray) -> np.ndarray:
    """(n, n_planes) bool sign bits for a pandas column of vectors —
    ONE NumPy matmul per Arrow batch.  The round-1 plan built signatures
    relationally (posexplode x crossJoin: 512 shuffled rows per vector,
    5x10^11 rows at 10^9 vectors); this computes the identical bits
    in-batch with zero extra shuffle.  round(9) guard: fold-order drift
    between engines must never flip a sign bit."""
    v = np.array(vec_col.tolist(), dtype=np.float64).reshape(-1, DIM)
    return _round_half_away(v @ planes.T, 9) > 0


def _signatures(spark, sf_dir):
    emb = _emb(spark, sf_dir).select("vec_id", "vec")

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        planes = _plane_matrix(N_PLANES)
        weights = (1 << np.arange(N_PLANES)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bits = _sig_bits(pdf["vec"], planes)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "bucket": bits @ weights,
                }
            )

    return emb.mapInPandas(kernel, schema="vec_id long, bucket long")


def ann_lsh_bucketed(spark, sf_dir):
    """Bucketed cosine near-neighbor pairs: same output contract as
    dedup_embedding_cosine but restricted to LSH-candidate pairs."""
    emb = _emb(spark, sf_dir)
    sig = _signatures(spark, sf_dir)
    tagged = emb.join(sig, "vec_id")
    a = tagged.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), "bucket"
    )
    b = tagged.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), "bucket"
    )
    pairs = a.join(b, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    cos = F.round(
        _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))), 6
    )
    return pairs.select("bucket", "vec_a", "vec_b", cos.alias("cosine")).filter(
        F.col("cosine") >= COSINE_DUP_THRESHOLD
    )


_COEFF_DUCK = (
    "((CAST(concat('0x', substr(md5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 15)) AS BIGINT)"
    " % 2001) - 1000) / 1000.0"
)

ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
terms AS (
  SELECT vec_id, p, {_COEFF_DUCK} * vec[d + 1] AS t
  FROM e, range({N_PLANES}) planes(p), range(64) dims(d)
),
sums AS (SELECT vec_id, p, ROUND(SUM(t), 9) AS s FROM terms GROUP BY 1, 2),
sig AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN s > 0 THEN 1 << CAST(p AS INT) ELSE 0 END) AS BIGINT) AS bucket
  FROM sums GROUP BY vec_id
),
tagged AS (SELECT e.vec_id, e.vec, sig.bucket FROM e JOIN sig USING (vec_id)),
pairs AS (
  SELECT a.bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
         ROUND(list_dot_product(a.vec, b.vec) /
               (sqrt(list_dot_product(a.vec, a.vec)) * sqrt(list_dot_product(b.vec, b.vec))), 6)
         AS cosine
  FROM tagged a JOIN tagged b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT bucket, vec_a, vec_b, cosine FROM pairs WHERE cosine >= {COSINE_DUP_THRESHOLD}
"""


# --- multi-band OR-amplified LSH with planted near-dups ---------------------------
#
# The driver testdata has no true embedding near-dups (max pairwise
# cosine ~0.51), so production-threshold recall was unmeasurable in
# round 1.  Here we PLANT them deterministically (engine-agnostically):
# for the first PLANT_N vectors, append a jittered copy
# vec'[d] = vec[d] + JITTER_ALPHA * coeff_j(vec_id, d) under
# vec_id + PLANT_OFFSET — unit-norm base vectors land the pair cosine
# around 0.95 (the production near-dup threshold).  The query then runs
# MB_BANDS OR-ed 8-bit hyperplane bands (P[same bucket in >=1 band] =
# 1 - (1 - (1 - theta/pi)^8)^MB_BANDS ~ 0.97 at cosine 0.95) and
# reports each planted pair with its exact cosine and whether the
# candidate stage caught it — measured recall, not a claim.

MB_BANDS = 6
MB_ROWS = 8
PLANT_N = 20
PLANT_OFFSET = 10000
JITTER_ALPHA = 0.07

_JITTER_SPARK = (
    f"transform(vec, (x, d) -> x + CAST({JITTER_ALPHA} AS DOUBLE) * "
    "(((CAST(conv(substring(md5(concat('j:', CAST(vec_id AS STRING), ':',"
    " CAST(d AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2001) - 1000) / 1000.0))"
)


def _planted_emb(spark, sf_dir):
    # wide=False: see _emb — the planted-LSH consumers measured a net
    # loss from the scan-spread exchange at both scales
    emb = _emb(spark, sf_dir, wide=False).select("vec_id", "vec")
    planted = emb.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.expr(_JITTER_SPARK).alias("vec"),
    )
    return emb.unionByName(planted)


def ann_lsh_multiband(spark, sf_dir):
    """Planted-pair recall of OR-amplified multi-band LSH.  Output: one
    row per planted near-dup pair (vec_a, vec_b, cosine, caught)."""
    allv = _planted_emb(spark, sf_dir)

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        planes = _plane_matrix(MB_BANDS * MB_ROWS)
        weights = (1 << np.arange(MB_ROWS)).astype(np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            bits = _sig_bits(pdf["vec"], planes)  # (n, MB_BANDS*MB_ROWS)
            frames = []
            for band in range(MB_BANDS):
                sub = bits[:, band * MB_ROWS:(band + 1) * MB_ROWS]
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].astype("int64"),
                            "band": band,
                            "bucket": sub @ weights,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    sig = allv.mapInPandas(kernel, schema="vec_id long, band int, bucket long")
    # candidate pairs through the banded-pair core shared with
    # dedup_minhash_lsh (uncapped: the planted-recall measurement must
    # see every bucket member)
    cand = _bucket_pairs(sig, ("band", "bucket"), {"vec_id": ("vec_a", "vec_b")})
    base = _with_norm(allv).select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    dup = _with_norm(allv).select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    truth = (
        base.filter(F.col("vec_a") < PLANT_N)
        .withColumn("vec_b", F.col("vec_a") + PLANT_OFFSET)
        .join(dup, "vec_b")
    )
    cosine = F.round(
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
    )
    caught = cand.withColumn("caught_flag", F.lit(1))
    return (
        truth.join(caught, ["vec_a", "vec_b"], "left")
        .select(
            "vec_a",
            "vec_b",
            cosine.alias("cosine"),
            F.coalesce(F.col("caught_flag"), F.lit(0)).cast("long").alias("caught"),
        )
    )


_MB_COEFF = _COEFF_DUCK  # same per-(p, d) plane formula
_JITTER_DUCK = (
    f"[vec[d + 1] + CAST({JITTER_ALPHA} AS DOUBLE) * "
    "(((CAST(concat('0x', substr(md5('j:' || CAST(vec_id AS VARCHAR) || ':' ||"
    " CAST(d AS VARCHAR)), 1, 15)) AS BIGINT) % 2001) - 1000) / 1000.0)"
    " FOR d IN RANGE(0, 64)]"
)

ANN_MULTIBAND_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
allv AS (
  SELECT vec_id, vec FROM e
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id, {_JITTER_DUCK} AS vec
  FROM e WHERE vec_id < {PLANT_N}
),
terms AS (
  SELECT vec_id, p, {_MB_COEFF} * vec[d + 1] AS t
  FROM allv, range({MB_BANDS * MB_ROWS}) planes(p), range({DIM}) dims(d)
),
sums AS (SELECT vec_id, p, ROUND(SUM(t), 9) AS s FROM terms GROUP BY 1, 2),
sig AS (
  SELECT vec_id, CAST(p // {MB_ROWS} AS INT) AS band,
         CAST(SUM(CASE WHEN s > 0 THEN 1 << CAST(p % {MB_ROWS} AS INT) ELSE 0 END) AS BIGINT) AS bucket
  FROM sums GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
truth AS (
  SELECT b.vec_id AS vec_a, p.vec_id AS vec_b,
         ROUND(list_dot_product(b.vec, p.vec) /
               (sqrt(list_dot_product(b.vec, b.vec)) * sqrt(list_dot_product(p.vec, p.vec))), 6)
         AS cosine
  FROM allv b JOIN allv p ON p.vec_id = b.vec_id + {PLANT_OFFSET}
  WHERE b.vec_id < {PLANT_N}
)
SELECT truth.vec_a, truth.vec_b, truth.cosine,
       CAST(CASE WHEN cand.vec_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS caught
FROM truth LEFT JOIN cand ON truth.vec_a = cand.vec_a AND truth.vec_b = cand.vec_b
"""


# --- IVF ANN (coarse quantizer + cell-restricted exact search) --------------------
#
# The second scale path next to LSH: an inverted-file index.  Build =
# assign every vector to its nearest coarse centroid (here: the first
# K_CELLS data vectors as a deterministic stand-in for k-means
# centroids — a trained codebook would broadcast the same way).
# Query = probe only the query's own cell (nprobe=1) and rank by exact
# cosine inside it.  At 10^9 vectors the assignment is one broadcast
# matmul pass and each query touches ~n/K_CELLS candidates; recall is
# traded via nprobe exactly like the reference ANN literature.

K_CELLS = 16


def _head_vectors(spark, sf_dir, k: int) -> np.ndarray:
    """First-k vectors as a (k, DIM) float64 matrix — the collected
    codebook the IVF/PQ kernels close over.  Memoized per
    (application, sf_dir, k): the collect is a dimension-sized driver
    artifact (a trained codebook ships to executors the same way), but
    building a query should not re-scan embeddings on every builder
    invocation (plan audits, bench warmups, repeated contract runs)."""

    def build():
        rows = sorted(
            _emb(spark, sf_dir)
            .select("vec_id", "vec")
            .filter(F.col("vec_id") < k)
            .collect(),
            key=lambda r: r["vec_id"],
        )
        return np.array([r["vec"] for r in rows], dtype=np.float64)

    return cached(spark, ("head_vectors", k), f"{sf_dir}/embeddings.parquet", build)


def _ivf_assigned(spark, sf_dir):
    """Every vector tagged with its two nearest coarse cells — computed
    MAP-SIDE: the K_CELLS-row codebook is collected once (dimension-
    sized, like a trained k-means codebook shipped to executors) and
    closed over by a mapInPandas kernel that does ONE NumPy matmul per
    Arrow batch.  Round 2 built the assignment relationally
    (crossJoin x row_number window), which materialized and SHUFFLED
    n x K_CELLS rows to compute an argmin that needs no shuffle at all
    — a 16x-amplified wide exchange at 10^9 vectors.  This plan has NO
    exchange between the embeddings scan and the assignment (pinned by
    tests/test_plans.py).  Tie-breaks match the oracle: round(sim, 6)
    desc, cent_id asc (np.argmax/stable argsort keep the first = lowest
    cent_id on ties)."""
    emb = _emb(spark, sf_dir).select("vec_id", "vec")
    cmat = _head_vectors(spark, sf_dir, K_CELLS)
    cn = np.sqrt((cmat * cmat).sum(axis=1))

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf["vec"].tolist(), dtype=np.float64).reshape(-1, DIM)
            nv = np.sqrt((v * v).sum(axis=1))
            sims = _round_half_away(v @ cmat.T / np.outer(nv, cn), 6)
            # stable argsort on (-sim, cent_id): the first four columns
            # are the nprobe=1..4 probe cells
            order = np.argsort(-sims, axis=1, kind="stable")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "vec": pdf["vec"],
                    "cell": order[:, 0].astype("int32"),
                    "cell2": order[:, 1].astype("int32"),
                    "cell3": order[:, 2].astype("int32"),
                    "cell4": order[:, 3].astype("int32"),
                }
            )

    return emb.mapInPandas(
        kernel,
        schema="vec_id long, vec array<double>, cell int, cell2 int,"
        " cell3 int, cell4 int",
    )


_PROBE_COLS = ("cell", "cell2", "cell3", "cell4")


def _ivf_topk(assigned, nprobe: int):
    """Top-k by exact cosine over the query's nprobe nearest cells."""
    probe_cells = F.array(*[F.col(c) for c in _PROBE_COLS[:nprobe]])
    q = (
        _with_norm(assigned.filter(F.col("vec_id") < N_QUERIES))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("vec").alias("qvec"),
            F.col("nrm").alias("qn"),
            F.explode(probe_cells).alias("cell"),
        )
    )
    cand = _with_norm(assigned).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("vec").alias("tvec"),
        F.col("nrm").alias("tn"),
        "cell",
    )
    pairs = q.join(cand, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    cos = F.round(
        _dot(F.col("qvec"), F.col("tvec")) / (F.col("qn") * F.col("tn")), 6
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.select("cell", "query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
    )


def ann_ivf(spark, sf_dir):
    return _ivf_topk(_ivf_assigned(spark, sf_dir), nprobe=1)


def ann_ivf_nprobe2(spark, sf_dir):
    """IVF with nprobe=2: each query probes its two nearest cells —
    the recall/latency knob the IVF literature trades on.  Targets
    still live in exactly one cell, so probing two distinct cells can
    never duplicate a candidate pair."""
    return _ivf_topk(_ivf_assigned(spark, sf_dir), nprobe=2)


def ivf_centroid_update(spark, sf_dir):
    """One Lloyd (k-means) iteration over the IVF assignment — the
    'trained codebook' path: each cell's new centroid is the mean of
    its member vectors.  Shape at scale: the assignment is the
    map-side matmul kernel (zero exchange), the update is ONE partial-
    aggregated groupBy over (cell, dim) — exactly how a codebook
    trains on 10^9 vectors (iterate: collect the K x DIM result,
    re-broadcast, repeat).  Output: (cell, dim, centroid)."""
    a = _ivf_assigned(spark, sf_dir)
    return (
        a.select("cell", F.posexplode("vec").alias("dim", "x"))
        .groupBy(F.col("cell").cast("int").alias("cell"),
                 F.col("dim").cast("int").alias("dim"))
        .agg(F.round(F.avg("x"), 6).alias("centroid"))
    )


def ann_ivf_recall(spark, sf_dir):
    """MEASURED recall@k of IVF against the exact brute-force top-k
    (mirrors ann_lsh_multiband's measured-not-claimed methodology):
    one row per (nprobe, query) with the hit count and recall
    fraction.  nprobe=2 must dominate nprobe=1 row-wise."""
    assigned = _ivf_assigned(spark, sf_dir)
    truth = ann_cosine_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("true_neighbor")
    )
    per_probe = []
    for nprobe in (1, 2):
        ivf = _ivf_topk(assigned, nprobe=nprobe).select(
            "query_id", "neighbor_id"
        )
        hits = (
            truth.join(
                ivf,
                (truth["query_id"] == ivf["query_id"])
                & (truth["true_neighbor"] == ivf["neighbor_id"]),
                "left",
            )
            .groupBy(truth["query_id"].alias("query_id"))
            .agg(
                F.count(ivf["neighbor_id"]).cast("long").alias("n_hit"),
            )
            .select(
                F.lit(nprobe).cast("int").alias("nprobe"),
                "query_id",
                "n_hit",
                F.round(F.col("n_hit") / F.lit(float(TOPK)), 6).alias("recall"),
            )
        )
        per_probe.append(hits)
    return per_probe[0].unionByName(per_probe[1])


ANN_IVF_SQL = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cn FROM e WHERE vec_id < {K_CELLS}),
assigned AS (
  SELECT vec_id, vec, nrm, cent_id AS cell FROM (
    SELECT e.vec_id, e.vec, e.nrm, c.cent_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY ROUND(list_dot_product(e.vec, c.cvec) / (e.nrm * c.cn), 6) DESC,
                      c.cent_id ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
pairs AS (
  SELECT q.cell, q.vec_id AS query_id, t.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.vec, t.vec) / (q.nrm * t.nrm), 6) AS cosine
  FROM assigned q JOIN assigned t ON q.cell = t.cell AND q.vec_id <> t.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT cell, query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= {TOPK}
"""

# shared CTE prefix: per-vector cell ranking against the codebook
_IVF_RANKED = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS vec,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, vec AS cvec, nrm AS cn FROM e WHERE vec_id < {K_CELLS}),
ranked AS (
  SELECT e.vec_id, e.vec, e.nrm, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id
           ORDER BY ROUND(list_dot_product(e.vec, c.cvec) / (e.nrm * c.cn), 6) DESC,
                    c.cent_id ASC) AS rn
  FROM e CROSS JOIN cents c
),
assigned AS (SELECT vec_id, vec, nrm, cent_id AS cell FROM ranked WHERE rn = 1)
"""

ANN_IVF2_SQL = f"""
{_IVF_RANKED},
qprobe AS (
  SELECT vec_id, vec, nrm, cent_id AS cell FROM ranked
  WHERE rn <= 2 AND vec_id < {N_QUERIES}
),
pairs AS (
  SELECT t.cell, q.vec_id AS query_id, t.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.vec, t.vec) / (q.nrm * t.nrm), 6) AS cosine
  FROM qprobe q JOIN assigned t ON q.cell = t.cell AND q.vec_id <> t.vec_id
)
SELECT cell, query_id, neighbor_id, cosine, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM pairs
) WHERE rank <= {TOPK}
"""

ANN_IVF_RECALL_SQL = f"""
{_IVF_RANKED},
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_dot_product(q.vec, t.vec) / (q.nrm * t.nrm), 6) DESC,
                      t.vec_id ASC) AS rank
    FROM e q JOIN e t ON q.vec_id < {N_QUERIES} AND q.vec_id <> t.vec_id
  ) WHERE rank <= {TOPK}
),
ivf AS (
  SELECT nprobe, query_id, neighbor_id FROM (
    SELECT np.nprobe, q.vec_id AS query_id, t.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY np.nprobe, q.vec_id
             ORDER BY ROUND(list_dot_product(q.vec, t.vec) / (q.nrm * t.nrm), 6) DESC,
                      t.vec_id ASC) AS rank
    FROM (SELECT 1 AS nprobe UNION ALL SELECT 2) np
    JOIN ranked q ON q.rn <= np.nprobe AND q.vec_id < {N_QUERIES}
    JOIN assigned t ON t.cell = q.cent_id AND q.vec_id <> t.vec_id
  ) WHERE rank <= {TOPK}
)
SELECT CAST(np.nprobe AS INT) AS nprobe, tr.query_id,
       CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(i.neighbor_id) / CAST({TOPK} AS DOUBLE), 6) AS recall
FROM (SELECT 1 AS nprobe UNION ALL SELECT 2) np
CROSS JOIN truth tr
LEFT JOIN ivf i
  ON i.nprobe = np.nprobe AND i.query_id = tr.query_id
 AND i.neighbor_id = tr.neighbor_id
GROUP BY 1, 2
"""

# --- product quantization (PQ) ANN ------------------------------------------------
#
# The third scale path next to LSH and IVF, and the one real 10^9+
# vector systems ship: each vector is ENCODED as M small codes (one
# nearest-codeword id per subspace), shrinking 64 doubles to 4 bytes;
# queries score candidates with asymmetric distance computation (ADC)
# — a per-query (M x KSUB) distance table plus M lookups per target,
# never a full-dimension dot product.  Codebook = the first KSUB
# vectors' subvectors (deterministic stand-in for a trained one, same
# as IVF; ivf_centroid_update shows the training step).  Encoding is
# map-side (one NumPy pass per Arrow batch, zero exchange — the
# _ivf_assigned pattern); the ADC tables are dimension-sized and
# broadcast.  Parity: every subspace distance is ROUND(.,6) in both
# engines before argmin/summation, ties break to the lowest code id.

PQ_M = 4          # subspaces
PQ_SUBDIM = DIM // PQ_M
PQ_KSUB = 16      # codewords per subspace (production uses 256)


def _pq_codebook(spark, sf_dir) -> np.ndarray:
    # (KSUB, M, SUBDIM), memoized per session like the IVF codebook
    return _head_vectors(spark, sf_dir, PQ_KSUB).reshape(
        PQ_KSUB, PQ_M, PQ_SUBDIM
    )


def _pq_encoded(emb, cb: np.ndarray):
    """(vec_id, code_0..code_{M-1}): nearest codeword per subspace —
    map-side, zero exchange.  ``emb`` must carry (vec_id, vec)."""

    def kernel(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.array(pdf["vec"].tolist(), dtype=np.float64).reshape(
                -1, PQ_M, PQ_SUBDIM
            )
            out = {"vec_id": pdf["vec_id"].astype("int64")}
            for m in range(PQ_M):
                # (n, KSUB) rounded L2^2; argmin keeps the FIRST (=
                # lowest code id) on ties, matching the oracle's
                # ORDER BY d2, code_id
                d2 = _round_half_away(
                    ((v[:, None, m, :] - cb[None, :, m, :]) ** 2).sum(-1), 6
                )
                out[f"code_{m}"] = d2.argmin(axis=1).astype("int32")
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(f"code_{m} int" for m in range(PQ_M))
    return emb.mapInPandas(kernel, schema=schema)


def _adc_tables(spark, query_rows, cb: np.ndarray):
    """Per-query (M x KSUB) ADC distance tables as a broadcast-sized
    DataFrame — the ONE place the rounding/tie rules live (both PQ
    paths share it, so they can never silently diverge)."""
    qrows = sorted(query_rows, key=lambda r: r["vec_id"])
    qv = np.array([r["vec"] for r in qrows], dtype=np.float64).reshape(
        len(qrows), PQ_M, PQ_SUBDIM
    )
    dt_rows = [
        (
            int(qrows[qi]["vec_id"]),
            m,
            c,
            float(_round_half_away(((qv[qi, m] - cb[c, m]) ** 2).sum(), 6)),
        )
        for qi in range(len(qrows))
        for m in range(PQ_M)
        for c in range(PQ_KSUB)
    ]
    return spark.createDataFrame(
        dt_rows, schema="query_id long, m int, code int, d2 double"
    )


def _topk_by_dist(scored):
    """Shared final ranking: ascending ADC distance, neighbor_id ties."""
    w = W.partitionBy("query_id").orderBy(F.asc("approx_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOPK)
    )


def _pq_adc_topk(spark, emb, cb: np.ndarray, query_rows):
    """ADC scoring: per-query (M x KSUB) distance tables (dimension-
    sized, broadcast) + M lookups per encoded target; exact window
    top-k on the rounded sums."""
    enc = _pq_encoded(emb, cb)
    dt = _adc_tables(spark, query_rows, cb)
    exploded = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode(F.array(*[F.col(f"code_{m}") for m in range(PQ_M)])).alias(
            "m", "code"
        ),
    )
    scored = (
        exploded.join(F.broadcast(dt), ["m", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), 6).alias("approx_dist"))
    )
    return _topk_by_dist(scored)


def ann_pq_topk(spark, sf_dir):
    """PQ/ADC top-k: rank every encoded target by the sum of its M
    table-lookup distances to each query.  Output one row per
    (query, rank<=k): (query_id, neighbor_id, approx_dist, rank)."""
    cb = _pq_codebook(spark, sf_dir)
    emb = _emb(spark, sf_dir).select("vec_id", "vec")
    qrows = emb.filter(F.col("vec_id") < N_QUERIES).collect()
    return _pq_adc_topk(spark, emb, cb, qrows)


def ann_ivf_pq_topk(spark, sf_dir, nprobe: int = 1):
    """IVF + PQ composed — the production ANN shape: candidates come
    from the query's ``nprobe`` nearest coarse cells (IVF restriction)
    and are ranked by ADC table-lookup distance (PQ compression), so
    neither the full corpus is scanned NOR full vectors are read for
    ranking.  Cost per query ~ (corpus/K_CELLS) * nprobe * M lookups.
    Used by tools/ann_tradeoff_bench.py to measure the recall/latency
    surface; not a contract query (its two halves are each oracled:
    ann_ivf* and ann_pq*)."""
    assigned = _ivf_assigned(spark, sf_dir)
    cb = _pq_codebook(spark, sf_dir)
    qrows = sorted(
        assigned.filter(F.col("vec_id") < N_QUERIES).select(
            "vec_id", "vec", *_PROBE_COLS[:nprobe]
        ).collect(),
        key=lambda r: r["vec_id"],
    )
    dt = _adc_tables(spark, qrows, cb)
    q_probe = spark.createDataFrame(
        [
            (int(r["vec_id"]), int(r[c]))
            for r in qrows
            for c in _PROBE_COLS[:nprobe]
        ],
        schema="query_id long, cell int",
    )
    enc = _pq_encoded(assigned.select("vec_id", "vec"), cb).join(
        assigned.select("vec_id", "cell"), "vec_id"
    )
    exploded = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.posexplode(F.array(*[F.col(f"code_{m}") for m in range(PQ_M)])).alias(
            "m", "code"
        ),
    )
    scored = (
        exploded.join(F.broadcast(q_probe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(F.broadcast(dt), ["query_id", "m", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("d2"), 6).alias("approx_dist"))
    )
    return _topk_by_dist(scored)


def ann_pq_planted_recall(spark, sf_dir):
    """MEASURED planted-pair recall of PQ (the dedup workload): the
    corpus gains a jittered twin (cosine ~0.95) of each of the first
    PLANT_N vectors; a near-dup encodes to (nearly) the same codes as
    its base, so ADC must surface it.  Output one row per planted pair
    with whether the twin appeared in the base vector's PQ top-k.
    (On this random-uniform corpus exact-L2 recall — ann_pq_recall —
    is honestly low: 16 untrained codewords per subspace quantize
    coarsely, so unrelated random vectors are indistinguishable; the
    near-dup signal is what survives quantization, and that is the
    100 TB dedup use case.)"""
    cb = _pq_codebook(spark, sf_dir)  # first-KSUB base vectors: twins don't alter it
    allv = _planted_emb(spark, sf_dir)
    qrows = allv.filter(F.col("vec_id") < PLANT_N).collect()
    pq = _pq_adc_topk(spark, allv, cb, qrows).select("query_id", "neighbor_id")
    truth = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") < PLANT_N)
        .select(
            F.col("vec_id").alias("vec_a"),
            (F.col("vec_id") + PLANT_OFFSET).alias("vec_b"),
        )
    )
    return (
        truth.join(
            pq,
            (truth["vec_a"] == pq["query_id"]) & (truth["vec_b"] == pq["neighbor_id"]),
            "left",
        )
        .select(
            "vec_a",
            "vec_b",
            F.when(pq["neighbor_id"].isNull(), 0)
            .otherwise(1)
            .cast("long")
            .alias("caught"),
        )
    )


def ann_pq_recall(spark, sf_dir):
    """MEASURED recall@k of PQ/ADC against the exact L2 top-k (the
    apples-to-apples truth for PQ's L2 distances): one row per query
    with hit count and recall fraction."""
    emb = _emb(spark, sf_dir).select("vec_id", "vec")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    t = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("vec").alias("tvec"))
    l2 = F.round(
        F.aggregate(
            F.zip_with("qvec", "tvec", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    w = W.partitionBy("query_id").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    truth = (
        q.crossJoin(t)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", l2.alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", F.col("neighbor_id").alias("true_neighbor"))
    )
    pq = ann_pq_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        truth.join(
            pq,
            (truth["query_id"] == pq["query_id"])
            & (truth["true_neighbor"] == pq["neighbor_id"]),
            "left",
        )
        .groupBy(truth["query_id"].alias("query_id"))
        .agg(F.count(pq["neighbor_id"]).cast("long").alias("n_hit"))
        .select(
            "query_id",
            "n_hit",
            F.round(F.col("n_hit") / F.lit(float(TOPK)), 6).alias("recall"),
        )
    )


_PQ_SUBDIST = (
    "ROUND(list_sum([({a}[i + 1] - {b}[i + 1]) * ({a}[i + 1] - {b}[i + 1])"
    f" FOR i IN range({PQ_SUBDIM})]), 6)"
)

def _pq_ctes_duck(src: str, n_queries: int) -> str:
    """The sub/cb/enc/dt/scored CTE chain over source CTE ``src``."""
    return f"""sub AS (
  SELECT vec_id, m, vec[m * {PQ_SUBDIM} + 1 : m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
  FROM {src}, range({PQ_M}) ms(m)
),
cb AS (SELECT vec_id AS code_id, m, sv AS cv FROM sub WHERE vec_id < {PQ_KSUB}),
enc AS (
  SELECT vec_id, m, code_id FROM (
    SELECT s.vec_id, s.m, c.code_id,
           ROW_NUMBER() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY {_PQ_SUBDIST.format(a="s.sv", b="c.cv")} ASC, c.code_id ASC
           ) AS rn
    FROM sub s JOIN cb c ON s.m = c.m
  ) WHERE rn = 1
),
dt AS (
  SELECT q.vec_id AS query_id, c.m, c.code_id,
         {_PQ_SUBDIST.format(a="q.sv", b="c.cv")} AS d2
  FROM sub q JOIN cb c ON q.m = c.m
  WHERE q.vec_id < {n_queries}
),
scored AS (
  SELECT dt.query_id, enc.vec_id AS neighbor_id,
         ROUND(SUM(dt.d2), 6) AS approx_dist
  FROM enc JOIN dt ON enc.m = dt.m AND enc.code_id = dt.code_id
  WHERE enc.vec_id <> dt.query_id
  GROUP BY 1, 2
)"""


_E_CTE = "e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)"

_PQ_TOPK_SELECT = f"""
SELECT query_id, neighbor_id, approx_dist, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOPK}
"""

ANN_PQ_SQL = f"""
WITH {_E_CTE},
{_pq_ctes_duck("e", N_QUERIES)}
{_PQ_TOPK_SELECT}
"""

_PQ_TOPK_CTE = f"""pq AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {TOPK}
)"""

ANN_PQ_PLANTED_SQL = f"""
WITH {_E_CTE},
allv AS (
  SELECT vec_id, vec FROM e
  UNION ALL
  SELECT vec_id + {PLANT_OFFSET} AS vec_id, {_JITTER_DUCK} AS vec
  FROM e WHERE vec_id < {PLANT_N}
),
{_pq_ctes_duck("allv", PLANT_N)},
{_PQ_TOPK_CTE}
SELECT t.vec_a, t.vec_b,
       CAST(CASE WHEN pq.neighbor_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS caught
FROM (SELECT vec_id AS vec_a, vec_id + {PLANT_OFFSET} AS vec_b
      FROM e WHERE vec_id < {PLANT_N}) t
LEFT JOIN pq ON pq.query_id = t.vec_a AND pq.neighbor_id = t.vec_b
"""

IVFPQ_NPROBE = 2


def ann_ivf_pq(spark, sf_dir):
    """Contract rendering of the IVF+PQ composition at nprobe=2 —
    both halves individually oracled (ann_ivf*, ann_pq*); this gates
    the composition itself."""
    return ann_ivf_pq_topk(spark, sf_dir, nprobe=IVFPQ_NPROBE)


ANN_IVF_PQ_SQL = f"""
{_IVF_RANKED},
{_pq_ctes_duck("e", N_QUERIES)},
qprobe AS (
  SELECT vec_id AS query_id, cent_id AS cell FROM ranked
  WHERE rn <= {IVFPQ_NPROBE} AND vec_id < {N_QUERIES}
),
restricted AS (
  SELECT s.query_id, s.neighbor_id, s.approx_dist
  FROM scored s
  JOIN assigned t ON t.vec_id = s.neighbor_id
  JOIN qprobe qp ON qp.query_id = s.query_id AND qp.cell = t.cell
)
SELECT query_id, neighbor_id, approx_dist, rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY approx_dist ASC, neighbor_id ASC) AS rank
  FROM restricted
) WHERE rank <= {TOPK}
"""

ANN_PQ_RECALL_SQL = f"""
WITH {_E_CTE},
{_pq_ctes_duck("e", N_QUERIES)},
{_PQ_TOPK_CTE},
truth AS (
  SELECT query_id, neighbor_id AS true_neighbor FROM (
    SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND(list_sum(
               [(q.vec[i + 1] - t.vec[i + 1]) * (q.vec[i + 1] - t.vec[i + 1])
                FOR i IN range({DIM})]), 6) ASC, t.vec_id ASC) AS rank
    FROM e q JOIN e t ON q.vec_id < {N_QUERIES} AND q.vec_id <> t.vec_id
  ) WHERE rank <= {TOPK}
)
SELECT tr.query_id, CAST(COUNT(pq.neighbor_id) AS BIGINT) AS n_hit,
       ROUND(COUNT(pq.neighbor_id) / CAST({TOPK} AS DOUBLE), 6) AS recall
FROM truth tr
LEFT JOIN pq ON pq.query_id = tr.query_id AND pq.neighbor_id = tr.true_neighbor
GROUP BY 1
"""


IVF_CENTROID_SQL = f"""
{_IVF_RANKED},
member_dims AS (
  SELECT assigned.cell, dims.d, assigned.vec[dims.d + 1] AS x
  FROM assigned, range({DIM}) dims(d)
)
SELECT CAST(cell AS INT) AS cell, CAST(d AS INT) AS dim,
       ROUND(AVG(x), 6) AS centroid
FROM member_dims GROUP BY 1, 2
"""


VECTOR_QUERIES = {
    "ann_cosine_topk": (ann_cosine_topk, ANN_SQL),
    "embedding_label_stats": (embedding_label_stats, EMB_STATS_SQL),
    "multimodal_decode_stub": (multimodal_decode_stub, DECODE_SQL),
    "multimodal_feature_extract": (multimodal_feature_extract, FEATURE_EXTRACT_SQL),
    "multimodal_frame_sample": (multimodal_frame_sample, FRAME_SAMPLE_SQL),
    "multimodal_resize_stub": (multimodal_resize_stub, RESIZE_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, COSINE_DUP_SQL),
    "ann_lsh_bucketed": (ann_lsh_bucketed, ANN_LSH_SQL),
    "ann_lsh_multiband": (ann_lsh_multiband, ANN_MULTIBAND_SQL),
    "ann_ivf": (ann_ivf, ANN_IVF_SQL),
    "ann_ivf_nprobe2": (ann_ivf_nprobe2, ANN_IVF2_SQL),
    "ann_ivf_recall": (ann_ivf_recall, ANN_IVF_RECALL_SQL),
    "ivf_centroid_update": (ivf_centroid_update, IVF_CENTROID_SQL),
    "ann_pq_topk": (ann_pq_topk, ANN_PQ_SQL),
    "ann_ivf_pq": (ann_ivf_pq, ANN_IVF_PQ_SQL),
    "ann_pq_recall": (ann_pq_recall, ANN_PQ_RECALL_SQL),
    "ann_pq_planted_recall": (ann_pq_planted_recall, ANN_PQ_PLANTED_SQL),
}
