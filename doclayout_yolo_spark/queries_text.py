"""Text-analysis and deduplication operators over the ``documents``
table — the training-data-pipeline surface (language-ID heuristic,
quality scoring, token counting, fingerprinting, exact / n-gram-Jaccard
/ MinHash-LSH / SimHash dedup).  Each has a DuckDB oracle.

Engine-agnostic hashing: ``bigint(hex(md5(x)[:15]))`` — md5 is
identical everywhere; 15 hex chars fit in int64.  Spark:
``conv(substr(md5(x),1,15),16,10)``; DuckDB:
``cast(concat('0x', substr(md5(x),1,15)) as bigint)``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from .memo import cached
from .scan import read_parquet, read_spread


def _docs(spark: SparkSession, sf_dir: str):
    # spread: the single-row-group fixture file would otherwise put the
    # whole tokenize/hash/regex map stage on one core (scan.py)
    return read_spread(spark, f"{sf_dir}/documents.parquet")


def _h64(col):
    """Engine-agnostic 60-bit hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


_H64_SPARK = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"
_H64_DUCK = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


# --- script-aware tokenizer ---------------------------------------------------
#
# Whitespace splitting silently degrades on unsegmented scripts: a
# Chinese/Japanese sentence is ONE whitespace token, so shingle dedup,
# SimHash, and TF-IDF see a single opaque term.  The shared tokenizer
# splits on whitespace, then degrades any token containing CJK
# codepoints (Han, kana, Hangul) to overlapping CODEPOINT BIGRAMS — the
# standard IR fallback for unsegmented text (cf. CJK bigram analyzers
# in Lucene).  On Latin-only corpora it is exactly whitespace
# tokenization, so every existing oracle is unchanged at fixture scale.
# Both engine expressions share the literal character class below and
# are verified token-for-token identical by the tokenize_mixed_script
# contract query.

# Han U+4E00-9FFF, kana U+3040-30FF, Hangul syllables U+AC00-D7AF —
# embedded as literal characters so both engines' regex engines see
# identical patterns with no escape-syntax differences
_CJK_CLASS = "[一-鿿぀-ヿ가-힯]"


def _toks_spark(col: str = "text") -> str:
    """Spark SQL expr: script-aware token array (non-empty tokens).

    r6: gated on ONE document-level CJK regex test — a doc with no CJK
    codepoint cannot have a CJK token, so the common (Latin) case runs
    a plain split+filter instead of a per-token RLIKE inside the
    transform lambda.  Verified token-identical to the ungated form on
    the full corpus (and the tokenize_mixed_script contract query pins
    the CJK branch against DuckDB, whose expression is unchanged)."""
    cjk_branch = (
        f"filter(flatten(transform(split({col}, '\\\\s+'), t -> "
        f"CASE WHEN t RLIKE '{_CJK_CLASS}' AND char_length(t) >= 2 "
        f"THEN transform(sequence(1, char_length(t) - 1), i -> substring(t, i, 2)) "
        f"ELSE array(t) END)), x -> char_length(x) > 0)"
    )
    return (
        f"CASE WHEN {col} RLIKE '{_CJK_CLASS}' THEN {cjk_branch} "
        f"ELSE filter(split({col}, '\\\\s+'), x -> char_length(x) > 0) END"
    )


def _toks_duck(col: str = "text") -> str:
    """DuckDB expr computing the identical token list."""
    return (
        f"list_filter(flatten([CASE WHEN regexp_matches(t, '{_CJK_CLASS}') AND length(t) >= 2 "
        f"THEN [substring(t, i, 2) FOR i IN range(1, length(t))] "
        f"ELSE [t] END FOR t IN regexp_split_to_array({col}, '\\s+')]), "
        f"x -> length(x) > 0)"
    )


_TOKS_DUCK_TEXT = _toks_duck("text")


# --- C8 analog: per-document text statistics --------------------------------

def text_stats(spark, sf_dir):
    d = _docs(spark, sf_dir)
    length = F.length("text")
    return d.select(
        "doc_id",
        length.alias("n_chars_calc"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
            / length.cast("double"),
            6,
        ).alias("digit_ratio"),
        F.round(
            F.length(F.regexp_replace(F.col("text"), "[^aeiou]", ""))
            / length.cast("double"),
            6,
        ).alias("vowel_ratio"),
        (length - F.length(F.regexp_replace(F.col("text"), " ", "")))
        .cast("long")
        .alias("n_spaces"),
    )


TEXT_STATS_SQL = """
SELECT doc_id,
       LENGTH(text) AS n_chars_calc,
       CAST(LENGTH(string_split(text, ' ')) AS BIGINT) AS n_words,
       ROUND(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(LENGTH(text) AS DOUBLE), 6) AS digit_ratio,
       ROUND(LENGTH(regexp_replace(text, '[^aeiou]', '', 'g')) / CAST(LENGTH(text) AS DOUBLE), 6) AS vowel_ratio,
       CAST(LENGTH(text) - LENGTH(replace(text, ' ', '')) AS BIGINT) AS n_spaces
FROM documents
"""


# --- token counting (BPE-ish regex + distinct words) -------------------------

def token_count(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit("[a-z0-9]+")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("n_distinct_words"),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
       CAST(LENGTH(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_tokens,
       CAST(LENGTH(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_words
FROM documents
"""


# BPE-ish pre-tokenizer: letter runs, digit runs, and single
# punctuation marks — the GPT-2-style split that BPE merge tables
# operate on (minus byte-level edge cases); the chars_per_token ratio
# is the budget metric an LLM-data pipeline tracks per document.
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def token_count_bpe(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(f"({_BPE_RE})"), 1)
    n = F.size(toks).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("([A-Za-z]+)"), 1))
        .cast("long")
        .alias("n_word_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("([0-9]+)"), 1))
        .cast("long")
        .alias("n_num_tokens"),
        F.round(F.length("text") / n.cast("double"), 6).alias("chars_per_token"),
    )


TOKEN_COUNT_BPE_SQL = f"""
SELECT doc_id,
       CAST(LENGTH(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_tokens,
       CAST(LENGTH(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS n_word_tokens,
       CAST(LENGTH(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num_tokens,
       ROUND(LENGTH(text) / CAST(LENGTH(regexp_extract_all(text, '{_BPE_RE}')) AS DOUBLE), 6)
         AS chars_per_token
FROM documents
"""


# --- language-ID heuristic (marker-word scoring + argmax) ---------------------

_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "la"),
}


def _occ_spark(word: str):
    # occurrences of word as whole token: count of ' word ' in padded text
    return F.size(F.split(F.concat(F.lit(" "), F.col("text"), F.lit(" ")), f" {word} ")) - 1


def lang_id(spark, sf_dir):
    d = _docs(spark, sf_dir)
    scores = {
        lang: sum((_occ_spark(w) for w in ws[1:]), _occ_spark(ws[0]))
        for lang, ws in _MARKERS.items()
    }
    pred = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en"
        )
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    return d.select(
        "doc_id",
        scores["en"].cast("long").alias("score_en"),
        scores["de"].cast("long").alias("score_de"),
        scores["fr"].cast("long").alias("score_fr"),
        pred.alias("pred_lang"),
        "lang",
    )


def _occ_duck(word: str) -> str:
    return f"(LENGTH(string_split(' ' || text || ' ', ' {word} ')) - 1)"


def _lang_score_duck(lang: str) -> str:
    return " + ".join(_occ_duck(w) for w in _MARKERS[lang])


LANG_ID_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
         CAST({_lang_score_duck("en")} AS BIGINT) AS score_en,
         CAST({_lang_score_duck("de")} AS BIGINT) AS score_de,
         CAST({_lang_score_duck("fr")} AS BIGINT) AS score_fr
  FROM documents
)
SELECT doc_id, score_en, score_de, score_fr,
       CASE WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
            WHEN score_de >= score_fr THEN 'de'
            ELSE 'fr' END AS pred_lang,
       lang
FROM s
"""


# --- quality scoring ----------------------------------------------------------

def quality_score(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n_words = F.size(F.split(F.col("text"), " ")).cast("double")
    stop_hits = sum(
        (_occ_spark(w) for w in ("and", "of", "to")), _occ_spark("the")
    ).cast("double")
    digit_ratio = F.length(
        F.regexp_replace(F.col("text"), "[^0-9]", "")
    ) / F.length("text").cast("double")
    score = F.round(
        F.log1p(n_words) * (1.0 - digit_ratio) + stop_hits / n_words, 6
    )
    return d.select(
        "doc_id",
        score.alias("quality"),
        F.round(stop_hits / n_words, 6).alias("stopword_ratio"),
    )


_STOPS_DUCK = " + ".join(_occ_duck(w) for w in ("the", "and", "of", "to"))
QUALITY_SQL = f"""
WITH s AS (
  SELECT doc_id,
         CAST(LENGTH(string_split(text, ' ')) AS DOUBLE) AS n_words,
         CAST({_STOPS_DUCK} AS DOUBLE) AS stop_hits,
         LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(LENGTH(text) AS DOUBLE) AS digit_ratio
  FROM documents
)
SELECT doc_id,
       ROUND(LN(1 + n_words) * (1.0 - digit_ratio) + stop_hits / n_words, 6) AS quality,
       ROUND(stop_hits / n_words, 6) AS stopword_ratio
FROM s
"""


# --- exact dedup: hash-groupBy fingerprinting ----------------------------------

def dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return (
        d.select("doc_id", F.md5(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


# --- n-gram Jaccard near-dup pairs ---------------------------------------------

JACCARD_THRESHOLD = 0.6
# Shingles shared by more than this many documents are boilerplate: they
# carry no dedup signal but drive the equi-join pair count (sum of df^2
# over shingles — a 10^6-doc boilerplate shingle alone yields 10^12
# pairs).  Capping df bounds pairs by MAX_SHINGLE_DF * total_shingle_rows,
# i.e. linear in the corpus.  At sf0.01 the max observed df is 7, so the
# cap never fires at fixture scale; it exists for the 100 TB case.
MAX_SHINGLE_DF = 50


def _shingles(spark, sf_dir):
    """Distinct (doc_id, 3-gram) rows, PERSISTED: every dedup query
    reuses this subtree several times (df cap, per-doc counts, both
    sides of the intersection join, minhash signatures), and Spark's
    CacheManager matches cached plans structurally, so one
    materialization serves them all.  Without it the scan->explode->
    distinct subtree — the dominant cost at 100 TB — re-executes up to
    9x per query (measured in round 2's plan audit).  MEMORY_AND_DISK:
    at cluster scale this is the 'stage the shingle table once'
    pattern, spilling instead of recomputing.

    Memoized through ``memo.cached`` so repeated query-builder
    invocations across a long-lived session (contract sweeps, bench
    loops) reuse ONE persisted DataFrame instead of stacking cache
    entries — and a rewritten fixture under the same path invalidates
    the memo instead of serving stale data."""
    return cached(
        spark, "shingles", f"{sf_dir}/documents.parquet",
        lambda: _shingles_from(_docs(spark, sf_dir)).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


# the 3-gram shingle array of a token array ``w`` (SQL) — shared by the
# batch shingle table and the streaming near-dup operator
_SHINGLE_ARRAY = (
    "CASE WHEN size(w) >= 3 THEN"
    " transform(sequence(0, size(w) - 3),"
    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
    " ELSE cast(array() as array<string>) END"
)


def _shingles_from(docs_df):
    """Distinct (doc_id, 3-gram) rows from any (doc_id, text) frame —
    the DF-level core shared by the sf_dir-memoized builder and the
    spark-submit jobs.  Short-doc guard: Spark's sequence(0, size-3)
    is DESCENDING (never empty) when size < 3, so w[i+2] crashes under
    ANSI on a 1-2-token doc — one short page would kill the whole
    dedup family on a real corpus.  The DuckDB oracle's RANGE() is
    empty for short docs, so the guard also IS the parity fix (r4
    second self-review)."""
    toks = docs_df.select("doc_id", F.expr(_toks_spark("text")).alias("w"))
    return toks.select(
        "doc_id", F.explode(F.expr(_SHINGLE_ARRAY)).alias("sh")
    ).distinct()


def _capped_from(sh):
    """Shingles minus the hot (df > MAX_SHINGLE_DF) ones.  The hot list
    is tiny BY CONSTRUCTION (at most n_shingle_rows / MAX_SHINGLE_DF
    entries, in practice a handful of boilerplate strings), so it
    broadcasts and the fence costs one map-side anti-join."""
    hot = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("sh")
    )
    return sh.join(F.broadcast(hot), "sh", "left_anti")


def _capped_shingles(spark, sf_dir):
    """df-capped shingles, PERSISTED + memoized exactly like
    ``_shingles`` (r6): the cap anti-join re-executed once per
    consumer — dedup_jaccard_lsh alone reads it three times (per-doc
    counts + both sides of the candidate-driven intersection) — so one
    materialization saves N-1 passes over the corpus shingle table.
    Same 100-TB story as the parent cache: stage the filtered shingle
    table once, spill instead of recompute."""
    return cached(
        spark, "capped_shingles", f"{sf_dir}/documents.parquet",
        lambda: _capped_from(_shingles(spark, sf_dir)).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs over the df-capped shingle set (both
    the intersection join and the per-doc counts use the same filtered
    set, so the Jaccard stays a true set similarity)."""
    sh = _capped_shingles(spark, sf_dir)
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    j = (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


_SHINGLES_DUCK = f"""
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, {_toks_duck('text')} AS w FROM documents
  ), UNNEST([concat_ws(' ', w[i+1], w[i+2], w[i+3]) FOR i IN RANGE(0, LENGTH(w) - 2)]) u(sh)
"""

# df-capped shingles (mirrors _capped_shingles)
_CAPPED_SHINGLES_DUCK = f"""
  SELECT doc_id, sh FROM all_sh
  WHERE sh NOT IN (
    SELECT sh FROM all_sh GROUP BY sh HAVING COUNT(*) > {MAX_SHINGLE_DF}
  )
"""

JACCARD_SQL = f"""
WITH all_sh AS ({_SHINGLES_DUCK}),
sh AS ({_CAPPED_SHINGLES_DUCK}),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(inter / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE inter / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE) >= {JACCARD_THRESHOLD}
"""


# --- MinHash + LSH candidate pairs ----------------------------------------------

N_HASHES = 8
N_BANDS = 4  # 2 rows per band

# Max docs kept per LSH bucket (lowest doc_ids win, deterministically).
# On a real crawl, identical/boilerplate pages form mega-clusters that
# share every band: without a cap, ONE reducer collects a corpus-sized
# list and the i<j expansion is quadratic in cluster size — the shingle
# df-cap does not fence this (bands come from signatures, not shingle
# df).  The cap bounds in-bucket work at C(CAP,2) pairs; 64
# representatives keep near-dup clusters connected (each surviving doc
# still links to the cluster minimum).  Never fires on the MinHash
# bands at fixture scale (the doc-level simhash64 bands it also caps
# do: see lsh_bucket_cap_audit); dropped rows are COUNTED, not silent.
BUCKET_CAP = 64


def _minhash_sql(s: int, x: str) -> str:
    """MinHash permutation ``s`` of the shingle ``x`` as SQL: the
    60-bit hash of ``'s:' || x``.  The one definition behind the batch
    signature aggregate and the streaming row-local ``array_min``, so
    the two renderings cannot drift."""
    return _H64_SPARK.format(x=f"concat('{s}:', {x})")


# signature columns m0..m{N_HASHES-1} -> (band, h1, h2) rows, band b
# holding rows 2b and 2b+1 (shared by batch and stream like _minhash_sql)
_BAND_STACK = (
    f"stack({N_BANDS}, "
    + ", ".join(f"{b}, m{2 * b}, m{2 * b + 1}" for b in range(N_BANDS))
    + ") AS (band, h1, h2)"
)


def _minhash_bands(spark, sf_dir):
    return _minhash_bands_from(_shingles(spark, sf_dir))


def _minhash_bands_from(sh):
    """(doc_id, band, h1, h2) rows — ONE signature aggregation, then a
    narrow ``stack`` to band rows (no per-band union: the round-1 plan
    recomputed the scan->explode->agg signature subtree 8x, a real
    constant at 100 TB where the shingle explode dominates)."""
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(_minhash_sql(s, "sh"))).alias(f"m{s}")
            for s in range(N_HASHES)
        ]
    )
    return sig.selectExpr("doc_id", _BAND_STACK)


def _bucket_pairs(rows, key, cols, cap=None):
    """The one banded-pair core behind every LSH / SimHash family:
    distinct i<j pairs of ``rows`` that share a bucket ``key``.

    ``cols`` maps each carried column to its (left, right) output names,
    in output order; the first column orders each bucket.  With ``cap``
    set a bucket keeps only its ``cap`` lowest rows (row_number <= cap,
    which Spark plans as a map-side partial WindowGroupLimit before the
    bucket exchange, so a mega-cluster ships at most ``cap`` rows per
    map partition and the i<j expansion stays at C(cap, 2)); the rows a
    cap drops are counted by ``_cap_dropped``, never silent.  Each
    bucket becomes one sorted ``collect_list``; a pair that shares
    several bands is emitted once."""
    order = next(iter(cols))
    if cap is not None:
        rank = F.row_number().over(W.partitionBy(*key).orderBy(order))
        rows = rows.withColumn("rk", rank).filter(F.col("rk") <= cap)
    sides = ", ".join(
        f"a.{c} AS {left}, b.{c} AS {right}" for c, (left, right) in cols.items()
    )
    return (
        rows.groupBy(*key)
        .agg(F.sort_array(F.collect_list(F.struct(*cols))).alias("ds"))
        .filter(F.size("ds") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (a, i) ->"
                    " transform(slice(ds, i + 2, size(ds)),"
                    f" b -> struct({sides}))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct()
    )


def _cap_dropped(n: str, cap: int):
    """Band rows a bucket cap drops, over buckets of size ``n``:
    sum(max(n - cap, 0)) — the one 'no silent caps' ledger expression
    (lsh_bucket_cap_audit, neardup_collapse_df)."""
    return F.sum(F.greatest(F.col(n) - F.lit(cap), F.lit(0))).cast("long")


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs via bucket grouping: shuffle band
    rows once on (band, h1, h2), emit i<j pairs inside each bucket.
    Unlike a bands-self-join this computes the signature once and never
    materializes two copies of the band table.

    Buckets are CAPPED at BUCKET_CAP docs (row_number over doc_id, so
    the lowest ids survive — deterministic, mirrored in the oracle):
    identical/boilerplate mega-clusters on a real crawl would otherwise
    send a corpus-sized collect_list to one reducer and expand pairs
    quadratically.  The rank filter runs BEFORE collect_list, so the
    straggler reducer streams (sort-based window) instead of buffering
    the whole cluster; dropped docs are counted by
    ``lsh_bucket_cap_audit`` — no silent caps."""
    return _lsh_candidates_from(_minhash_bands(spark, sf_dir))


def _lsh_candidates_from(bands):
    """(doc_a, doc_b) MinHash candidates from (doc_id, band, h1, h2)
    band rows: ``_bucket_pairs`` on the (band, h1, h2) bucket, capped
    at BUCKET_CAP doc_ids — shared by the contract query and
    ``neardup_collapse_df``."""
    return _bucket_pairs(
        bands, ("band", "h1", "h2"), {"doc_id": ("doc_a", "doc_b")}, BUCKET_CAP
    )


_MINS_DUCK = ",\n       ".join(
    "MIN(" + _H64_DUCK.format(x=f"'{s}:' || sh") + f") AS m{s}" for s in range(N_HASHES)
)
_BANDS_DUCK = "\nUNION ALL\n".join(
    f"SELECT doc_id, {band} AS band, m{2 * band} AS h1, m{2 * band + 1} AS h2 FROM sig"
    for band in range(N_BANDS)
)

# bucket cap mirror: keep the BUCKET_CAP lowest doc_ids per bucket
_CAPPED_BANDS_DUCK = """
  SELECT doc_id, band, h1, h2 FROM (
    SELECT doc_id, band, h1, h2,
           ROW_NUMBER() OVER (PARTITION BY band, h1, h2 ORDER BY doc_id) AS rk
    FROM bands0
  ) WHERE rk <= {cap}
"""

MINHASH_SQL = f"""
WITH sh AS ({_SHINGLES_DUCK}),
sig AS (
  SELECT doc_id,
       {_MINS_DUCK}
  FROM sh GROUP BY doc_id
),
bands0 AS ({_BANDS_DUCK}),
bands AS ({_CAPPED_BANDS_DUCK.format(cap=BUCKET_CAP)})
SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
FROM bands a JOIN bands c
  ON a.band = c.band AND a.h1 = c.h1 AND a.h2 = c.h2 AND a.doc_id < c.doc_id
"""



# --- LSH-restricted exact Jaccard (the 100 TB dedup path) -------------------------

def dedup_jaccard_lsh(spark, sf_dir):
    """Exact Jaccard verification restricted to MinHash-LSH candidate
    pairs — the composition that replaces the all-pairs equi-join at
    scale: the shingle join is driven BY the candidate list (work is
    |candidates| x shingles-per-doc, not sum-of-df^2), so a corpus
    where LSH emits 10^-6 of all pairs does 10^-6 of the work."""
    return _jaccard_verified_from(
        dedup_minhash_lsh(spark, sf_dir), _capped_shingles(spark, sf_dir)
    )


def _jaccard_verified_from(cand, sh):
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("s"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("s"))
    inter = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        inter.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("inter")
                / (F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


JACCARD_LSH_SQL = f"""
WITH all_sh AS ({_SHINGLES_DUCK}),
capped AS ({_CAPPED_SHINGLES_DUCK}),
sig AS (
  SELECT doc_id,
       {{mins}}
  FROM all_sh GROUP BY doc_id
),
bands0 AS ({{bands}}),
bands AS ({{capped}}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.h1 = c.h1 AND a.h2 = c.h2 AND a.doc_id < c.doc_id
),
counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM capped GROUP BY 1),
inter AS (
  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS inter
  FROM cand
  JOIN capped a ON a.doc_id = cand.doc_a
  JOIN capped b ON b.doc_id = cand.doc_b AND b.sh = a.sh
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(inter / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN counts ca ON doc_a = ca.doc_id
JOIN counts cb ON doc_b = cb.doc_id
WHERE ROUND(inter / CAST(ca.n_sh + cb.n_sh - inter AS DOUBLE), 6) >= {JACCARD_THRESHOLD}
"""


JACCARD_LSH_SQL = JACCARD_LSH_SQL.format(
    mins=_MINS_DUCK,
    bands=_BANDS_DUCK,
    capped=_CAPPED_BANDS_DUCK.format(cap=BUCKET_CAP),
)


# --- eval-set decontamination -------------------------------------------------
#
# Before training, every serious pipeline removes documents that
# overlap the evaluation sets (n-gram collision — the GPT-3/PaLM
# decontamination recipe).  Eval set here: the first N_EVAL_DOCS
# documents.  A training doc is contaminated if it shares ANY 3-gram
# shingle with an eval doc.  Scale shape: the eval shingle set is
# tiny and broadcast — contamination is ONE map-side semi-join over
# the corpus shingles, no wide shuffle.

N_EVAL_DOCS = 10


def decontaminate_against_eval(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    eval_sh = (
        sh.filter(F.col("doc_id") < N_EVAL_DOCS).select("sh").distinct()
    )
    train = sh.filter(F.col("doc_id") >= N_EVAL_DOCS)
    hits = (
        train.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_shingles"))
    )
    all_train = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") >= N_EVAL_DOCS)
        .select("doc_id")
    )
    return all_train.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_shared_shingles"), F.lit(0)).alias("n_shared_shingles"),
        F.when(F.col("n_shared_shingles").isNotNull(), 1)
        .otherwise(0)
        .cast("int")
        .alias("contaminated"),
    )


DECONTAMINATE_SQL = f"""
WITH all_sh AS ({_SHINGLES_DUCK}),
eval_sh AS (SELECT DISTINCT sh FROM all_sh WHERE doc_id < {N_EVAL_DOCS}),
hits AS (
  SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
  FROM all_sh t JOIN eval_sh e ON t.sh = e.sh
  WHERE t.doc_id >= {N_EVAL_DOCS}
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(h.n_shared_shingles, 0) AS n_shared_shingles,
       CAST(CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id >= {N_EVAL_DOCS}
"""


# --- PII redaction --------------------------------------------------------------
#
# Synthetic PII is injected deterministically IN BOTH ENGINES (an
# email and, for every third doc, a phone number), then scrubbed with
# the shared patterns — the redaction pass every released corpus
# runs.  All JVM-side regexp_replace; counts prove the scrub found
# exactly what was planted.

_PII_TEXT = (
    "text || ' contact user' || CAST(doc_id AS {str_t}) || '@mail.example.org'"
    " || CASE WHEN doc_id % 3 = 0 THEN ' call 555-0199' ELSE '' END"
)
_EMAIL_RE = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"


def redact_pii(spark, sf_dir):
    d = _docs(spark, sf_dir)
    dirty = F.expr(_PII_TEXT.format(str_t="STRING"))
    clean = F.regexp_replace(
        F.regexp_replace(dirty, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(dirty, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_fingerprint"),
    )


REDACT_SQL = f"""
WITH dirty AS (
  SELECT doc_id, {_PII_TEXT.format(str_t="VARCHAR")} AS t FROM documents
)
SELECT doc_id,
       CAST(LENGTH(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(LENGTH(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS clean_fingerprint
FROM dirty
"""


# --- duplicate-line fraction (Gopher quality signal) -----------------------------


def dup_sentence_fraction(spark, sf_dir):
    """Gopher's duplicate-line-fraction analog over sentence units
    (the fixture text is single-line): fraction of sentences that are
    repeats of an earlier sentence in the same document.  A high value
    flags template/boilerplate pages that survive exact dedup."""
    d = _docs(spark, sf_dir)
    sents = (
        "filter(transform(split(text, '[.]'), s -> trim(s)),"
        " s -> char_length(s) > 0)"
    )
    return d.selectExpr(
        "doc_id",
        f"size({sents}) AS n_sents",
        f"size(array_distinct({sents})) AS n_uniq",
    ).select(
        "doc_id",
        F.col("n_sents").cast("long").alias("n_sents"),
        F.round(
            (F.col("n_sents") - F.col("n_uniq")) / F.col("n_sents").cast("double"),
            6,
        ).alias("dup_fraction"),
    )


DUP_SENT_SQL = """
WITH s AS (
  SELECT doc_id,
         list_filter([trim(x) FOR x IN string_split_regex(text, '[.]')],
                     x -> LENGTH(x) > 0) AS sents
  FROM documents
)
SELECT doc_id, CAST(LENGTH(sents) AS BIGINT) AS n_sents,
       ROUND((LENGTH(sents) - LENGTH(list_distinct(sents)))
             / CAST(LENGTH(sents) AS DOUBLE), 6) AS dup_fraction
FROM s
"""


# --- SimHash fingerprint (16-bit) ------------------------------------------------

SIMHASH_BITS = 16


def _pos_sql(b: int, half: int) -> str:
    """SQL for the predicate 's_b > 0' over the packed two-lane
    ones-count aggregation: accumulator o_k (k = b mod half) holds
    ones_k in its low 32 bits and ones_{k+half} in the high 32.
    s_b = 2*ones_b - n, so the sign test is 2*ones_b > n_words.  Lane
    capacity 2^31 rows per doc — unconditionally safe (a doc cannot
    carry 2^31 distinct tokens), unlike narrower lanes.

    These builders emit SQL STRINGS parsed by one F.expr call each
    rather than chains of Column operators: the per-bit Column loops
    cost ~1.8 s of driver-side Py4J chatter per query BUILD (measured
    — and the bench protocol rebuilds the query inside every timed
    run), vs ~40 ms for the string form.  Values are identical; the
    full DuckDB sweep and an exceptAll A/B against the Column form
    pin that."""
    k = b % half
    ones = (
        f"shiftright(o{k}, 32)" if b >= half else f"(o{k} & 4294967295)"
    )
    return f"(2 * {ones} > nw)"


def _packed_sums(hashed, bits: int, bit_sql):
    """groupBy(doc_id) ones-count aggregation with two 32-bit lanes
    per accumulator (r6, guide §2.3 'narrower types / smaller
    aggregation state'): the old per-bit SUM(CASE WHEN ... 1 ELSE -1)
    kept ``bits`` branchy buffer columns; this keeps bits/2 branchless
    ones-counters plus COUNT(*).  Measured 2.25s -> 1.36s for the
    64-bit signature stage at sf1.0/local[32]; bit-for-bit identical
    signatures (s_b > 0 ⟺ 2*ones_b > n)."""
    half = bits // 2
    exprs = [
        F.expr(
            f"sum(cast({bit_sql(k)} as bigint)"
            f" + shiftleft(cast({bit_sql(k + half)} as bigint), 32))"
        ).alias(f"o{k}")
        for k in range(half)
    ]
    return hashed.groupBy("doc_id").agg(F.count("*").alias("nw"), *exprs)


def _simhash_df(spark, sf_dir, bits: int):
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_toks_spark("text")))).alias("word"),
    )
    hashed = words.select("doc_id", _h64(F.col("word")).alias("h"))

    def bit_sql(b):
        return f"(shiftright(h, {b}) & 1)"

    sums = _packed_sums(hashed, bits, bit_sql)
    half = bits // 2
    sim = " + ".join(
        f"(CASE WHEN {_pos_sql(b, half)} THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return sums.select(
        "doc_id", F.expr(f"cast({sim} as bigint)").alias("simhash")
    )


def simhash(spark, sf_dir):
    return _simhash_df(spark, sf_dir, SIMHASH_BITS)


def _sim_sums_duck(bits: int) -> str:
    return ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(bits)
    )


def _sim_val_duck(bits: int) -> str:
    return " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )


_SIM_SUMS = _sim_sums_duck(SIMHASH_BITS)
_SIM_VAL = _sim_val_duck(SIMHASH_BITS)

SIMHASH_SQL = f"""
WITH words AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, UNNEST({_TOKS_DUCK_TEXT}) AS word FROM documents)
),
hashed AS (SELECT doc_id, {_H64_DUCK.format(x="word")} AS h FROM words),
sums AS (
  SELECT doc_id,
         {_SIM_SUMS}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({_SIM_VAL} AS BIGINT) AS simhash FROM sums
"""


# --- TF-IDF top terms per document -------------------------------------------------

TFIDF_TOPK = 3
N_TERM_SALTS = 8  # spread each hot term over this many reducers


def tfidf_top_terms(spark, sf_dir):
    """Per-document top-k terms by tf * ln(N/df) — the classic
    relevance weighting as two aggregations and a document-frequency
    join.

    Scale shape: ``df`` is DERIVED from ``tf`` (tf rows are already
    distinct (doc, term) pairs, so df = count per term) — one
    tokenize+explode subtree instead of two (round 3's first cut
    joined a broadcast hot-head + shuffled tail, but the two branches
    re-executed the whole words subtree: 6 scans, no ReuseExchange).
    The tf->df join is keyed by term and term frequency is Zipfian, so
    the join is SALTED: the df side replicates each term N_TERM_SALTS
    times, the tf side keys on (term, hash(doc) % N_TERM_SALTS), and
    every stopword-grade hot term spreads over N_TERM_SALTS reducers
    instead of funneling into one.  Replication cost is
    vocabulary-sized (<< corpus-sized tf).  Output is identical to the
    unsalted join — the oracle is unchanged."""
    d = _docs(spark, sf_dir)
    # corpus size as a broadcast 1-row aggregate (keeps the query lazy —
    # no driver-side action inside the builder)
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    words = d.select(
        "doc_id", F.explode(F.expr(_toks_spark("text"))).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    salts = F.array(*[F.lit(i) for i in range(N_TERM_SALTS)])
    df_salted = df.withColumn("salt", F.explode(salts))
    tf_salted = tf.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(N_TERM_SALTS)).cast("int")
    )
    scored = (
        tf_salted.join(df_salted, ["term", "salt"])
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6)
            .alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOPK)
    )


TFIDF_SQL = f"""
WITH w AS (
  SELECT doc_id, UNNEST({_TOKS_DUCK_TEXT}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
)
SELECT doc_id, term, tfidf, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOPK}
"""


# --- repetition ratio (Gopher-style quality signal) ---------------------------------

def repetition_ratio(spark, sf_dir):
    """Fraction of the document taken by its most frequent term — the
    repetition quality signal large-corpus filters use (a page that is
    30% one token is boilerplate).  One groupBy + argmax window."""
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id", F.explode(F.expr(_toks_spark("text"))).alias("term")
    )
    tf = words.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    totals = words.groupBy("doc_id").agg(F.count("*").alias("n_terms"))
    w = W.partitionBy("doc_id").orderBy(F.desc("tf"), F.asc("term"))
    top = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("term").alias("top_term"), "tf")
    )
    return top.join(totals, "doc_id").select(
        "doc_id",
        "top_term",
        F.round(F.col("tf") / F.col("n_terms").cast("double"), 6)
        .alias("repetition_ratio"),
    )


REPETITION_SQL = f"""
WITH w AS (
  SELECT doc_id, UNNEST({_TOKS_DUCK_TEXT}) AS term FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY 1, 2),
totals AS (SELECT doc_id, COUNT(*) AS n_terms FROM w GROUP BY 1),
top AS (
  SELECT doc_id, term AS top_term, tf FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, term ASC) AS rn
    FROM tf
  ) WHERE rn = 1
)
SELECT top.doc_id, top.top_term,
       ROUND(top.tf / CAST(totals.n_terms AS DOUBLE), 6) AS repetition_ratio
FROM top JOIN totals ON top.doc_id = totals.doc_id
"""


# --- SimHash hamming near-dup pairs (banded) ----------------------------------------

HAMMING_MAX = 2
HAMMING_BITS = 32  # 16-bit simhash collides too much for d<=2 semantics
SIM_BANDS = ((0, 11), (11, 11), (22, 10))  # (shift, width): cover 32 bits


def simhash_hamming_pairs(spark, sf_dir):
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= 2, found
    WITHOUT an all-pairs join: pigeonhole banding — the 32-bit
    signature split into 3 bands (11/11/10 bits), so any pair within
    distance 2 must agree exactly on at least one band (2 flipped bits
    can spoil at most 2 bands).
    Candidates share a band bucket; the xor bit_count verifies.
    Uses a 32-bit signature: at 16 bits a 500-doc random corpus already
    collides heavily within distance 2 (the query stays correct but the
    output is noise); 32 bits makes d<=2 a meaningful near-dup signal.
    The same banding generalizes to 64-bit production simhash."""
    sim = _simhash_df(spark, sf_dir, HAMMING_BITS)
    # ONE pass: posexplode the per-band buckets instead of a 3-way
    # union (a union re-executes the whole signature aggregation once
    # per band — 3 scans for 1; same lesson as tfidf's df-from-tf)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                (F.shiftright("simhash", shift) % (1 << width)).alias("bucket"),
            )
            for i, (shift, width) in enumerate(SIM_BANDS)
        ]
    )
    bands = sim.select(
        "doc_id", "simhash", F.explode(band_structs).alias("bb")
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    return _hamming_pairs(bands, _DOC_SIDES, None, HAMMING_MAX)


# carried columns of the doc-level simhash families: (doc_a, doc_b, sa, sb)
_DOC_SIDES = {"doc_id": ("doc_a", "doc_b"), "simhash": ("sa", "sb")}


def _hamming_pairs(bands, sides, cap, max_d, out=("doc_a", "doc_b", "hamming")):
    """SimHash pairs: ``_bucket_pairs`` on (band, bucket) carrying the
    two signatures as sa/sb, verified by hamming(sa, sb) <= ``max_d``;
    returns the ``out`` columns."""
    pairs = _bucket_pairs(bands, ("band", "bucket"), sides, cap)
    return (
        pairs.withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("long"))
        .filter(F.col("hamming") <= max_d)
        .select(*out)
    )


_SIM_BANDS_DUCK = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {i} AS band, (simhash >> {shift}) % {1 << width} AS bucket FROM s"
    for i, (shift, width) in enumerate(SIM_BANDS)
)

SIMHASH_HAMMING_SQL = f"""
WITH words AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, UNNEST({_TOKS_DUCK_TEXT}) AS word FROM documents)
),
hashed AS (SELECT doc_id, {_H64_DUCK.format(x="word")} AS h FROM words),
sums AS (
  SELECT doc_id,
         {_sim_sums_duck(HAMMING_BITS)}
  FROM hashed GROUP BY doc_id
),
s AS (SELECT doc_id, CAST({_sim_val_duck(HAMMING_BITS)} AS BIGINT) AS simhash FROM sums),
bands AS ({_SIM_BANDS_DUCK}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {HAMMING_MAX}
"""


# --- curation composite v2: the full training-data funnel in one query -----------

CURATION_MIN_WORDS = 20


def corpus_curation_v2(spark, sf_dir):
    """The whole corpus-curation funnel as ONE query: exact dedup
    (md5 groupBy, min-doc_id winner) -> eval-set decontamination
    (broadcast 3-gram collision) -> PII redaction (planted
    email/phone scrub) -> quality gate (min word count).  Every stage
    is individually oracled elsewhere; this composes them the way the
    100 TB job actually runs them, and the funnel counts come out in
    the survivor rows.  Output: one row per surviving training doc
    with its word count and redacted-text fingerprint."""
    d = _docs(spark, sf_dir)
    keep = (
        d.select("doc_id", F.md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    sh = _shingles(spark, sf_dir)
    eval_sh = sh.filter(F.col("doc_id") < N_EVAL_DOCS).select("sh").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") >= N_EVAL_DOCS)
        .join(F.broadcast(eval_sh), "sh")
        .select("doc_id")
        .distinct()
    )
    dirty = F.expr(_PII_TEXT.format(str_t="STRING"))
    clean = F.regexp_replace(
        F.regexp_replace(dirty, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    survivors = (
        d.join(keep, "doc_id")  # dedup winners only
        .filter(F.col("doc_id") >= N_EVAL_DOCS)  # eval docs never train
        .join(contaminated, "doc_id", "left_anti")
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
            F.md5(clean).alias("clean_fingerprint"),
        )
        .filter(F.col("n_words") >= CURATION_MIN_WORDS)
    )
    return survivors


_PII_TEXT_D = (
    _PII_TEXT.format(str_t="VARCHAR")
    .replace("doc_id", "d.doc_id")
    .replace("text ||", "d.text ||")
)

CURATION_V2_SQL = f"""
WITH keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
all_sh AS ({_SHINGLES_DUCK}),
eval_sh AS (SELECT DISTINCT sh FROM all_sh WHERE doc_id < {N_EVAL_DOCS}),
contaminated AS (
  SELECT DISTINCT t.doc_id FROM all_sh t JOIN eval_sh e ON t.sh = e.sh
  WHERE t.doc_id >= {N_EVAL_DOCS}
)
SELECT d.doc_id,
       CAST(LENGTH(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       md5(regexp_replace(regexp_replace(
             {_PII_TEXT_D},
             '{_EMAIL_RE}', '[EMAIL]', 'g'),
           '{_PHONE_RE}', '[PHONE]', 'g')) AS clean_fingerprint
FROM documents d
JOIN keep k ON d.doc_id = k.doc_id
LEFT JOIN contaminated c ON d.doc_id = c.doc_id
WHERE d.doc_id >= {N_EVAL_DOCS}
  AND c.doc_id IS NULL
  AND LENGTH(string_split(d.text, ' ')) >= {CURATION_MIN_WORDS}
"""


# --- 64-bit SimHash (production shape) ---------------------------------------------
#
# The 32-bit query above keeps the fixture-scale output dense; this is
# the shape a real corpus runs: a full 64-bit signature (bits 0-59
# from md5 chars 1-15 of each token, bits 60-63 from chars 16-30 —
# both engine-agnostic), banded Manku-style (Detecting Near-Duplicates
# for Web Crawling, WWW'07 §3): the signature splits into
# SIM64_BLOCKS=5 blocks (13/13/13/13/12 bits); hamming <= 3 flips hit
# at most 3 blocks, so every qualifying pair agrees exactly on >= 2
# blocks — i.e. on at least one of the C(5,2)=10 block-PAIR keys.
# Each band key is therefore ~25-26 bits (vs the old 4x16 scheme's 16):
# 2^25+ buckets per band instead of 65,536, which is what keeps recall
# from saturating at crawl scale (r4 verdict: at >= 1e7 docs every
# 16-bit bucket held >= 150 docs and BUCKET_CAP dropped most of them).
# Sign-bit handling: bit 63 is assembled as int64-min (two's
# complement) and band BUCKETS are built from the per-bit sums
# directly, so no arithmetic shift of a negative signature ever feeds
# a modulo (where Spark/DuckDB sign semantics could drift).

HAMMING64_MAX = 3
SIM64_BLOCKS = 5
_SIM64_BLOCK_BOUNDS: list[tuple[int, int]] = [
    (0, 13), (13, 26), (26, 39), (39, 52), (52, 64),
]
_SIM64_BLOCK_PAIRS: list[tuple[int, int]] = [
    (i, j)
    for i in range(SIM64_BLOCKS)
    for j in range(i + 1, SIM64_BLOCKS)
]
SIM64_BANDS = len(_SIM64_BLOCK_PAIRS)  # C(5,2) = 10
_SIM64_SHIFT = 13  # block values < 2^13; pair key = lo | hi << 13
_I64_MIN = -9223372036854775807 - 1


def _h64b(col):
    """Second engine-agnostic 60-bit hash: md5 hex chars 16-30."""
    return F.conv(F.substring(F.md5(col), 16, 15), 16, 10).cast("bigint")


def _simhash64_df(spark, sf_dir):
    d = _docs(spark, sf_dir)
    words = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.expr(_toks_spark("text")))).alias("word"),
    )
    hashed = words.select(
        "doc_id", _h64(F.col("word")).alias("h1"), _h64b(F.col("word")).alias("h2")
    )

    def bit_sql(b):
        src, off = ("h1", b) if b < 60 else ("h2", b - 60)
        return f"(shiftright({src}, {off}) & 1)"

    # packed two-lane ones-count aggregation (see _packed_sums):
    # 32 branchless accumulators + COUNT(*) replace 64 SUM(CASE) —
    # the bit-sign predicates below are equivalent (2*ones_b > n).
    # SQL-string expressions throughout: see _pos_sql on why.
    sums = _packed_sums(hashed, 64, bit_sql)
    # int64 min as (-(2^63-1) - 1): the bare literal would overflow
    # Spark's unary-minus parse
    sim = (
        f"(CASE WHEN {_pos_sql(63, 32)}"
        f" THEN cast(-9223372036854775807 as bigint) - 1 ELSE 0 END)"
        + "".join(
            f" + (CASE WHEN {_pos_sql(b, 32)} THEN {1 << b} ELSE 0 END)"
            for b in range(63)
        )
    )
    cols = [F.expr(f"cast({sim} as bigint)").alias("simhash")]
    for k, (lo, hi) in enumerate(_SIM64_BLOCK_BOUNDS):
        block = " + ".join(
            f"(CASE WHEN {_pos_sql(lo + j, 32)} THEN {1 << j} ELSE 0 END)"
            for j in range(hi - lo)
        )
        cols.append(F.expr(f"cast({block} as bigint)").alias(f"b{k}"))
    return sums.select("doc_id", *cols)


def _sim64_band_structs():
    """The block-pair banding key as ONE array-of-structs expression
    (band t = block pair (i, j), bucket = b_i | b_j << shift) — the
    single definition shared by every consumer so the Spark and DuckDB
    renderings can never drift independently (r5 review finding: this
    was inlined three times)."""
    return F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {t}, 'bucket',"
            f" cast(b{i} + b{j} * {1 << _SIM64_SHIFT} as bigint))"
            for t, (i, j) in enumerate(_SIM64_BLOCK_PAIRS)
        )
        + ")"
    )


def _sim64_bands(rows, *carry):
    """(*carry, band, bucket) rows from (b0..b4, *carry) rows in ONE
    pass — explode of a band-struct array, not a 10-way union that
    would re-run the 64-sum aggregation per band.  band t is block-pair
    (i, j); its bucket key concatenates the two block values (~25-26
    bits)."""
    return rows.select(
        *carry, F.explode(_sim64_band_structs()).alias("bb")
    ).select(*carry, "bb.band", "bb.bucket")


def simhash64_hamming_pairs(spark, sf_dir):
    """Near-dup pairs with hamming <= 3 over the 64-bit signature —
    the corpus-scale variant of simhash_hamming_pairs (same pigeonhole
    band -> bucket-groupBy pair expansion; no all-pairs join).  Banding
    is Manku-style block-pair keys (~25-26 bits each, see the scheme
    comment above): the key space is 2^25+ per band, so random-bucket
    occupancy stays tiny far past 1e9 docs.  Buckets are still capped
    at BUCKET_CAP docs exactly like dedup_minhash_lsh (lowest doc_ids
    win, rank filter before collect_list, drops counted by
    lsh_bucket_cap_audit): true mega-clusters — identical boilerplate
    pages sharing a full signature — remain a certainty at crawl scale
    and the cap fences them regardless of key width."""
    return _sim64_pairs(spark, sf_dir, cap=BUCKET_CAP)


def _sim64_pairs(spark, sf_dir, cap: int | None):
    """simhash64 doc pairs through the ``_bucket_pairs`` core;
    ``cap=None`` disables the bucket cap (exact pigeonhole recall —
    used by tools/dedup_scale_bench.py to MEASURE what the cap costs,
    never in the contract path)."""
    bands = _sim64_bands(_simhash64_df(spark, sf_dir), "doc_id", "simhash")
    return _hamming_pairs(bands, _DOC_SIDES, cap, HAMMING64_MAX)


def _sim64_bit_duck(b: int) -> str:
    src, off = ("h1", b) if b < 60 else ("h2", b - 60)
    return f"SUM(CASE WHEN ({src} >> {off}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"


def _sim64_bucket_duck(k: int) -> str:
    lo, hi = _SIM64_BLOCK_BOUNDS[k]
    return " + ".join(
        f"(CASE WHEN s{lo + j} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(hi - lo)
    )


_SIM64_VAL = "(CASE WHEN s63 > 0 THEN -9223372036854775807 - 1 ELSE 0 END) + " + " + ".join(
    f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(63)
)

_SIM64_BANDS_DUCK = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {t} AS band,"
    f" b{i} + b{j} * {1 << _SIM64_SHIFT} AS bucket FROM s"
    for t, (i, j) in enumerate(_SIM64_BLOCK_PAIRS)
)

SIMHASH64_HAMMING_SQL = f"""
WITH words AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, UNNEST({_TOKS_DUCK_TEXT}) AS word FROM documents)
),
hashed AS (
  SELECT doc_id,
         {_H64_DUCK.format(x="word")} AS h1,
         CAST(concat('0x', substr(md5(word), 16, 15)) AS BIGINT) AS h2
  FROM words
),
sums AS (
  SELECT doc_id,
         {", ".join(_sim64_bit_duck(b) for b in range(64))}
  FROM hashed GROUP BY doc_id
),
s AS (
  SELECT doc_id, CAST({_SIM64_VAL} AS BIGINT) AS simhash,
         {", ".join(f"CAST({_sim64_bucket_duck(k)} AS BIGINT) AS b{k}" for k in range(SIM64_BLOCKS))}
  FROM sums
),
bands0 AS ({_SIM64_BANDS_DUCK}),
bands AS (
  SELECT doc_id, simhash, band, bucket FROM (
    SELECT doc_id, simhash, band, bucket,
           ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rk
    FROM bands0
  ) WHERE rk <= {BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {HAMMING64_MAX}
"""


# --- signature-level simhash dedup (the crawl-scale shape) -----------------------
#
# Real boilerplate clusters are signature-IDENTICAL by the thousands:
# enumerating their doc pairs is quadratic no matter how wide the band
# keys are, and any per-bucket cap then costs recall (measured 0.22 on
# the sf0.1 twin corpus).  The scalable rendering collapses identical
# signatures FIRST (one groupBy — linear, no pair explosion; a
# 100k-doc boilerplate cluster becomes ONE signature row with
# n_docs=100k), then bands the DISTINCT signatures.  Post-collapse
# bucket occupancy is tiny, so the safety cap (still present, still
# audited) essentially never fires and pigeonhole recall is exact.


def _sim64_sigs(spark, sf_dir):
    """(simhash, n_docs, rep_doc, b0..b4): one row per DISTINCT
    signature; rep_doc = min doc_id is the cluster representative.
    Blocks are identical for equal signatures, so min() just picks
    the shared value."""
    sim = _simhash64_df(spark, sf_dir)
    return sim.groupBy("simhash").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").alias("rep_doc"),
        *[F.min(f"b{k}").alias(f"b{k}") for k in range(SIM64_BLOCKS)],
    )


#: sig-level cap — larger than the doc-level BUCKET_CAP because the
#: quadratic mega-cluster risk is already gone (identical signatures
#: are ONE row); what remains in a bucket is a dense FAMILY of distinct
#: near-signatures, bounded C(256,2)=32,640 pairs worst case.  Measured
#: on the sf0.1 corpus: max sig-bucket 249, p99 = 11, recall vs the
#: exact uncapped doc-pair relation = 1.0 (BENCH/dedup_scale.json).
SIG_BUCKET_CAP = 256


def simhash64_sig_pairs(spark, sf_dir, cap: int = SIG_BUCKET_CAP):
    """hamming <= 3 pairs over DISTINCT signatures, each side carrying
    its member count and min-doc representative.  Together with the
    implicit identical-signature groups this recovers the full doc-pair
    relation without ever materializing it: doc pairs =
    sum(C(n_docs,2)) within signatures + sum(n_docs_a*n_docs_b) across
    the emitted signature pairs (the scale bench verifies recall=1.0
    at fixture scale)."""
    bands = _sim64_bands(_sim64_sigs(spark, sf_dir), "simhash", "n_docs", "rep_doc")
    sides = {
        "rep_doc": ("rep_a", "rep_b"),
        "simhash": ("sa", "sb"),
        "n_docs": ("n_docs_a", "n_docs_b"),
    }
    out = ("rep_a", "rep_b", "hamming", "n_docs_a", "n_docs_b")
    return _hamming_pairs(bands, sides, cap, HAMMING64_MAX, out)


_SIG_BANDS_DUCK = "\nUNION ALL\n".join(
    f"SELECT simhash, n_docs, rep_doc, {t} AS band,"
    f" b{i} + b{j} * {1 << _SIM64_SHIFT} AS bucket FROM sigs"
    for t, (i, j) in enumerate(_SIM64_BLOCK_PAIRS)
)

SIMHASH64_SIG_PAIRS_SQL = f"""
WITH words AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, UNNEST({_TOKS_DUCK_TEXT}) AS word FROM documents)
),
hashed AS (
  SELECT doc_id,
         {_H64_DUCK.format(x="word")} AS h1,
         CAST(concat('0x', substr(md5(word), 16, 15)) AS BIGINT) AS h2
  FROM words
),
sums AS (
  SELECT doc_id,
         {", ".join(_sim64_bit_duck(b) for b in range(64))}
  FROM hashed GROUP BY doc_id
),
s AS (
  SELECT doc_id, CAST({_SIM64_VAL} AS BIGINT) AS simhash,
         {", ".join(f"CAST({_sim64_bucket_duck(k)} AS BIGINT) AS b{k}" for k in range(SIM64_BLOCKS))}
  FROM sums
),
sigs AS (
  SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS rep_doc,
         {", ".join(f"MIN(b{k}) AS b{k}" for k in range(SIM64_BLOCKS))}
  FROM s GROUP BY simhash
),
bands0 AS ({_SIG_BANDS_DUCK}),
bands AS (
  SELECT simhash, n_docs, rep_doc, band, bucket FROM (
    SELECT simhash, n_docs, rep_doc, band, bucket,
           ROW_NUMBER() OVER (PARTITION BY band, bucket ORDER BY rep_doc) AS rk
    FROM bands0
  ) WHERE rk <= {SIG_BUCKET_CAP}
),
cand AS (
  SELECT DISTINCT a.rep_doc AS rep_a, b.rep_doc AS rep_b,
         a.simhash AS sa, b.simhash AS sb,
         a.n_docs AS n_docs_a, b.n_docs AS n_docs_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.rep_doc < b.rep_doc
)
SELECT rep_a, rep_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming,
       n_docs_a, n_docs_b
FROM cand WHERE bit_count(xor(sa, sb)) <= {HAMMING64_MAX}
"""


def lsh_bucket_cap_audit(spark, sf_dir):
    """Per-band bucket-size audit for ALL capped LSH families — the
    'no silent caps' ledger: n_buckets, the largest bucket, and how
    many band rows each family's cap would drop (BUCKET_CAP for the
    doc-level minhash/simhash64 bands, SIG_BUCKET_CAP for the
    signature-level bands).  At fixture scale n_dropped is 0 for the
    minhash and simhash64_sig families; the doc-level simhash64 cap
    already fires (34 band rows at sf0.01, 7,156 at sf0.1 — the recall
    loss simhash64_sig_pairs exists to avoid).  A curation job logs
    this alongside its pair counts so a fired cap is visible, never
    silent."""

    def _roll(sizes, fam, cap):
        return (
            sizes.groupBy("band")
            .agg(
                F.count("*").cast("long").alias("n_buckets"),
                F.max("n").cast("long").alias("max_bucket"),
                _cap_dropped("n", cap).alias("n_dropped"),
            )
            .select(
                F.lit(fam).alias("family"),
                F.col("band").cast("long").alias("band"),
                "n_buckets",
                "max_bucket",
                "n_dropped",
            )
        )

    m_sizes = (
        _minhash_bands(spark, sf_dir)
        .groupBy("band", "h1", "h2")
        .agg(F.count("*").alias("n"))
    )
    # BOTH simhash families from ONE signature aggregation (r5 review
    # finding: banding docs and sigs separately ran the expensive
    # 64-sum aggregation twice).  Identical signatures share identical
    # block values, so a doc-level bucket's size is the sum of n_docs
    # over the sigs in it, and the (band, bucket) key sets coincide —
    # one groupBy yields both families' bucket sizes, and the per-band
    # rollup emits the two family rows from one projection (an
    # explode, not a union, so the subtree executes once).
    sig_sizes = (
        _sim64_bands(_sim64_sigs(spark, sf_dir), "n_docs")
        .groupBy("band", "bucket")
        .agg(
            F.sum("n_docs").alias("n_docs_in_bucket"),
            F.count("*").alias("n_sigs"),
        )
    )
    sim_rolls = (
        sig_sizes.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.max("n_docs_in_bucket").cast("long").alias("max_doc"),
            _cap_dropped("n_docs_in_bucket", BUCKET_CAP).alias("drop_doc"),
            F.max("n_sigs").cast("long").alias("max_sig"),
            _cap_dropped("n_sigs", SIG_BUCKET_CAP).alias("drop_sig"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("simhash64").alias("family"),
                        F.col("band").cast("long").alias("band"),
                        F.col("n_buckets").alias("n_buckets"),
                        F.col("max_doc").alias("max_bucket"),
                        F.col("drop_doc").alias("n_dropped"),
                    ),
                    F.struct(
                        F.lit("simhash64_sig").alias("family"),
                        F.col("band").cast("long").alias("band"),
                        F.col("n_buckets").alias("n_buckets"),
                        F.col("max_sig").alias("max_bucket"),
                        F.col("drop_sig").alias("n_dropped"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
    )
    return _roll(m_sizes, "minhash", BUCKET_CAP).unionByName(sim_rolls)


def _cap_audit_roll(cap: int) -> str:
    return f"""
  SELECT family, CAST(band AS BIGINT) AS band,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(MAX(n) AS BIGINT) AS max_bucket,
         CAST(SUM(CASE WHEN n > {cap} THEN n - {cap} ELSE 0 END) AS BIGINT) AS n_dropped
"""


_CAP_AUDIT_ROLL = _cap_audit_roll(BUCKET_CAP)

LSH_CAP_AUDIT_SQL = f"""
WITH sh AS ({_SHINGLES_DUCK}),
sig AS (
  SELECT doc_id,
       {_MINS_DUCK}
  FROM sh GROUP BY doc_id
),
mbands AS ({_BANDS_DUCK}),
msizes AS (
  SELECT 'minhash' AS family, band, COUNT(*) AS n
  FROM mbands GROUP BY band, h1, h2
),
words AS (
  SELECT DISTINCT doc_id, word
  FROM (SELECT doc_id, UNNEST({{toks}}) AS word FROM documents)
),
hashed AS (
  SELECT doc_id,
         {_H64_DUCK.format(x="word")} AS h1,
         CAST(concat('0x', substr(md5(word), 16, 15)) AS BIGINT) AS h2
  FROM words
),
sums AS (
  SELECT doc_id,
         {{sim_bits}}
  FROM hashed GROUP BY doc_id
),
s AS (
  SELECT doc_id, CAST({{sim_val}} AS BIGINT) AS simhash,
         {{sim_buckets}}
  FROM sums
),
sbands AS ({_SIM64_BANDS_DUCK}),
ssizes AS (
  SELECT 'simhash64' AS family, band, COUNT(*) AS n
  FROM sbands GROUP BY band, bucket
),
sigs AS (
  SELECT simhash, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS rep_doc,
         {", ".join(f"MIN(b{k}) AS b{k}" for k in range(SIM64_BLOCKS))}
  FROM s GROUP BY simhash
),
sigbands AS ({_SIG_BANDS_DUCK}),
gsizes AS (
  SELECT 'simhash64_sig' AS family, band, COUNT(*) AS n
  FROM sigbands GROUP BY band, bucket
)
{_CAP_AUDIT_ROLL} FROM msizes GROUP BY family, band
UNION ALL
{_CAP_AUDIT_ROLL} FROM ssizes GROUP BY family, band
UNION ALL
{_cap_audit_roll(SIG_BUCKET_CAP)} FROM gsizes GROUP BY family, band
"""

LSH_CAP_AUDIT_SQL = LSH_CAP_AUDIT_SQL.format(
    toks=_TOKS_DUCK_TEXT,
    sim_bits=", ".join(_sim64_bit_duck(b) for b in range(64)),
    sim_val=_SIM64_VAL,
    sim_buckets=", ".join(
        f"CAST({_sim64_bucket_duck(k)} AS BIGINT) AS b{k}"
        for k in range(SIM64_BLOCKS)
    ),
)


# --- rolling-hash document fingerprint -------------------------------------------

ROLL_BASE = 131
ROLL_MOD = 1_000_000_007
TOKEN_MOD = 1_000_003


def doc_rolling_fingerprint(spark, sf_dir):
    """Order-sensitive polynomial rolling hash over the token stream
    (Rabin-Karp style): fp = fold(tokens, (acc, t) -> (acc*B + h(t)) mod P).
    Unlike the md5 set fingerprint (dedup_exact), this is sequential —
    token order changes the value — and it streams through one
    Catalyst ``aggregate`` fold per row (no shuffle at all; the 100 TB
    cost is one pass over text).  Both engines seed the fold with the
    first token's code (DuckDB's list_reduce has no explicit init)."""
    d = _docs(spark, sf_dir)
    codes = (
        "transform(split(text, ' '), t ->"
        f" cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint) % {TOKEN_MOD})"
    )
    fp = (
        f"aggregate(slice(c, 2, size(c) - 1), c[0],"
        f" (acc, x) -> (acc * {ROLL_BASE} + x) % {ROLL_MOD})"
    )
    return (
        d.selectExpr("doc_id", f"{codes} AS c")
        .selectExpr("doc_id", f"{fp} AS fingerprint", "size(c) AS n_tokens")
    )


ROLLING_FP_SQL = f"""
WITH c AS (
  SELECT doc_id,
         [CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % {TOKEN_MOD}
          FOR t IN string_split(text, ' ')] AS codes
  FROM documents
)
SELECT doc_id,
       list_reduce(codes, (acc, x) -> (acc * {ROLL_BASE} + x) % {ROLL_MOD}) AS fingerprint,
       CAST(LENGTH(codes) AS INT) AS n_tokens
FROM c
"""


# --- stratified sampling (per-group deterministic subsample) ----------------------

SAMPLE_K = 20


def stratified_sample(spark, sf_dir):
    """Exact per-stratum subsample: k rows per event_type, selected by
    a deterministic uniform shuffle key (md5 of the row key) — the
    training-data subsampling op.

    Skew-safe two-phase plan: phase 1 keeps each INPUT partition's k
    smallest keys per stratum map-side (zero shuffle — a mapInPandas
    fold whose state is bounded by n_strata * k rows), so the exact
    window in phase 2 sees at most n_partitions * n_strata * k rows.
    The round-2 single-window plan funneled every stratum through one
    reducer — with few, huge strata (the realistic training-data case)
    that's a straggler at 100 TB; the global top-k is a subset of the
    union of per-partition top-k's, so the output is unchanged (same
    oracle)."""
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_type",
        "event_id",
        "value",
        F.md5(F.col("event_id").cast("string")).alias("skey"),
    )

    def partial_topk(batches):
        import pandas as pd  # noqa: PLC0415

        best = None
        for pdf in batches:
            cur = pdf if best is None else pd.concat([best, pdf])
            best = (
                cur.sort_values(["event_type", "skey", "event_id"])
                .groupby("event_type", sort=False)
                .head(SAMPLE_K)
            )
        if best is not None and len(best):
            yield best

    pre = ev.mapInPandas(
        partial_topk,
        schema="event_type string, event_id long, value double, skey string",
    )
    w = W.partitionBy("event_type").orderBy("skey", F.asc("event_id"))
    return (
        pre.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= SAMPLE_K)
        .select("event_type", "event_id", "value", "sample_rank")
    )


STRATIFIED_SQL = f"""
SELECT event_type, event_id, value, sample_rank FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS sample_rank
  FROM events
) WHERE sample_rank <= {SAMPLE_K}
"""


# --- near-dup clustering: connected components over Jaccard pairs ---------------

MAX_CC_ITERS = 20


def dedup_clusters(spark, sf_dir):
    """Group near-duplicate documents into clusters: connected
    components over the Jaccard>=threshold pair graph via iterative
    min-label propagation (pure DataFrame joins — the pattern that
    scales to billions of edges where a driver-side union-find cannot;
    converges in O(log n) rounds on dedup-shaped graphs).  Edges come
    from the LSH-candidate-restricted exact Jaccard (the scale path:
    the all-pairs equi-join never runs), mirrored in the oracle.
    Output: (doc_id, cluster_id = min doc_id of the component)."""
    # memoized: the iterative propagation runs driver-side ACTIONS at
    # build time, so every builder call would otherwise re-run the
    # whole loop AND leak one cached labels DF
    labels = cached(
        spark, "cluster_labels", f"{sf_dir}/documents.parquet",
        lambda: _cluster_labels_from(
            dedup_jaccard_lsh(spark, sf_dir).select("doc_a", "doc_b")
        ),
    )
    return labels.select("doc_id", "cluster_id")


def _cluster_labels_from(pairs):
    """(doc_id, cluster_id = component minimum) from an undirected pair
    frame via iterative min-label propagation — the DF-level core of
    ``dedup_clusters`` shared with the spark-submit curation job."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
    )
    edges.cache()
    try:
        return _propagate_min_labels(edges)
    finally:
        # release the edge cache even when an eager action inside the
        # loop raises (executor OOM, malformed input) — a long-lived
        # session must not pin failed-call artifacts
        edges.unpersist(blocking=False)


def _propagate_min_labels(edges):
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )
    changed = 0
    for _ in range(MAX_CC_ITERS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        # localCheckpoint TRUNCATES the lineage each iteration: a
        # cache/unpersist chain keeps every prior iteration in the
        # logical plan, and because each step references `labels`
        # twice the plan grows EXPONENTIALLY with iterations (measured
        # 25k-line plan / 1600 printed scans at 6 iterations before
        # this fix) — a driver analysis-time blowup long before any
        # executor works.  On a cluster a reliable checkpoint dir
        # gives the same truncation with fault tolerance.
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
                ).alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # a component with graph diameter > MAX_CC_ITERS is UNDER-
        # collapsed (extra representatives survive).  Conservative —
        # never drops a non-duplicate — but must not be silent.
        import warnings  # noqa: PLC0415

        warnings.warn(
            f"min-label propagation did not converge within "
            f"{MAX_CC_ITERS} iterations ({changed} labels still "
            f"changing): near-dup components wider than the iteration "
            f"bound keep extra representatives",
            stacklevel=2,
        )
    return labels


def neardup_collapse_df(docs_df, with_stats: bool = False):
    """Near-duplicate collapse over any (doc_id, text, ...) frame: the
    full LSH lineage (shingles -> capped MinHash bands -> bucket-capped
    candidates -> exact-Jaccard verify -> min-label clusters), keeping
    only each component's minimum doc_id.  Returns the surviving rows
    of ``docs_df`` unchanged — the composable job-level stage
    (jobs/curate_job.py --neardup) matching the oracled
    ``corpus_curation_v3`` semantics.

    ``with_stats=True`` additionally returns the no-silent-caps ledger
    the audit query promises every curation run carries: the number of
    collapsed docs, band rows dropped by BUCKET_CAP (docs a fired cap
    silently RETAINS — they join no candidate pair), and the largest
    bucket seen."""
    sh = _shingles_from(docs_df.select("doc_id", "text")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        bands = _minhash_bands_from(sh)
        cand = _lsh_candidates_from(bands)
        pairs = _jaccard_verified_from(cand, _capped_from(sh)).select(
            "doc_a", "doc_b"
        )
        labels = _cluster_labels_from(pairs)
        losers = labels.filter(
            F.col("cluster_id") != F.col("doc_id")
        ).select("doc_id")
        out = docs_df.join(losers, "doc_id", "left_anti")
        if not with_stats:
            return out
        # labels are checkpointed, so losers.count() is cheap; the cap
        # ledger re-aggregates the persisted shingle subtree once
        cap = (
            bands.groupBy("band", "h1", "h2")
            .agg(F.count("*").alias("n"))
            .agg(
                _cap_dropped("n", BUCKET_CAP).alias("n_cap_dropped_band_rows"),
                F.max("n").alias("max_bucket"),
            )
            .first()
        )
        stats = {
            "n_neardup_dropped": losers.count(),
            "n_cap_dropped_band_rows": int(
                cap["n_cap_dropped_band_rows"] or 0
            ),
            "max_band_bucket": int(cap["max_bucket"] or 0),
        }
        return out, stats
    finally:
        sh.unpersist(blocking=False)


# edges = the LSH-verified pair pipeline (same CTEs as JACCARD_LSH_SQL)
_LSH_BODY = JACCARD_LSH_SQL.strip()
assert _LSH_BODY.startswith("WITH ")
_LSH_CTES, _LSH_FINAL = _LSH_BODY[5:].rsplit("SELECT doc_a, doc_b,", 1)

CLUSTERS_SQL = f"""
WITH RECURSIVE {_LSH_CTES.rstrip()},
pairs AS (
  SELECT doc_a, doc_b,{_LSH_FINAL}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
  UNION
  SELECT doc_a, doc_a FROM pairs
  UNION
  SELECT doc_b, doc_b FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
"""


def corpus_curation_v3(spark, sf_dir):
    """The FULL 100 TB curation funnel as one oracled query — v2 plus
    the stages it was missing: real extraction feeds the chain, and
    MinHash near-dup collapse runs after exact dedup.

    extraction -> exact dedup (window on md5, min-doc_id winner — one
    pass, no groupBy+join-back that AQE could broadcast at corpus
    size) -> near-dup collapse (LSH-verified Jaccard clusters, keep
    the cluster-minimum representative; exact losers are gone already,
    and a component's minimum is always an exact winner, so exactly
    one doc survives per near-dup component) -> eval-set
    decontamination -> PII redaction -> quality gate.

    The extraction leg is REAL (body-only synthesized pages run the
    full detector/NMS/reading-order kernel; nav+footer boilerplate is
    stripped), and for this controlled page shape extracted_text ==
    text — the identity closed form the oracle uses.  Output shape
    matches v2: one row per surviving training doc."""
    from pyspark.sql import Window  # noqa: PLC0415

    from .pipeline import extract_pages  # noqa: PLC0415

    d = _docs(spark, sf_dir)
    html = F.concat(
        F.lit(
            '<html><head><title>d</title></head><body>'
            '<nav><p><a href="/x">home</a></p></nav><p>'
        ),
        F.col("text"),
        F.lit("</p><footer><p>copyright</p></footer></body></html>"),
    )
    pages = d.select(
        F.concat(
            F.lit("https://testdata.local/cdoc/"), F.col("doc_id").cast("string")
        ).alias("url"),
        F.encode(html, "utf-8").alias("html"),
    )
    extracted = extract_pages(pages, n_buckets=64).select(
        F.element_at(F.split("url", "/"), -1).cast("long").alias("doc_id"),
        F.col("extracted_text").alias("text"),
    )
    # exact dedup in the same pass as extraction: first doc_id per
    # fingerprint wins (window, not groupBy-min + join-back)
    wfp = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        extracted.withColumn("rk", F.row_number().over(wfp))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    sh = _shingles(spark, sf_dir)
    eval_sh = sh.filter(F.col("doc_id") < N_EVAL_DOCS).select("sh").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") >= N_EVAL_DOCS)
        .join(F.broadcast(eval_sh), "sh")
        .select("doc_id")
        .distinct()
    )
    clusters = dedup_clusters(spark, sf_dir)
    dirty = F.expr(_PII_TEXT.format(str_t="STRING"))
    clean = F.regexp_replace(
        F.regexp_replace(dirty, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return (
        deduped.filter(F.col("doc_id") >= N_EVAL_DOCS)
        .join(contaminated, "doc_id", "left_anti")
        .join(clusters.withColumnRenamed("cluster_id", "cl"), "doc_id", "left")
        .filter(F.col("cl").isNull() | (F.col("cl") == F.col("doc_id")))
        .select(
            "doc_id",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
            F.md5(clean).alias("clean_fingerprint"),
        )
        .filter(F.col("n_words") >= CURATION_MIN_WORDS)
    )


CURATION_V3_SQL = f"""
WITH RECURSIVE {_LSH_CTES.rstrip()},
pairs AS (
  SELECT doc_a, doc_b,{_LSH_FINAL}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
  UNION
  SELECT doc_a, doc_a FROM pairs
  UNION
  SELECT doc_b, doc_b FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
clusters AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src),
dedup AS (
  SELECT doc_id, text FROM documents
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
),
eval_sh AS (SELECT DISTINCT sh FROM all_sh WHERE doc_id < {N_EVAL_DOCS}),
contaminated AS (
  SELECT DISTINCT t.doc_id FROM all_sh t JOIN eval_sh e ON t.sh = e.sh
  WHERE t.doc_id >= {N_EVAL_DOCS}
)
SELECT d.doc_id,
       CAST(LENGTH(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       md5(regexp_replace(regexp_replace(
             {_PII_TEXT_D},
             '{_EMAIL_RE}', '[EMAIL]', 'g'),
           '{_PHONE_RE}', '[PHONE]', 'g')) AS clean_fingerprint
FROM dedup d
LEFT JOIN contaminated c ON d.doc_id = c.doc_id
LEFT JOIN clusters cl ON d.doc_id = cl.doc_id
WHERE d.doc_id >= {N_EVAL_DOCS}
  AND c.doc_id IS NULL
  AND (cl.doc_id IS NULL OR cl.cluster_id = d.doc_id)
  AND LENGTH(string_split(d.text, ' ')) >= {CURATION_MIN_WORDS}
"""


# --- mixed-script fixture queries ---------------------------------------------
#
# The driver corpus is ASCII-only, so the CJK degradation path would
# otherwise never face the value-hash gate.  These queries synthesize a
# deterministic mixed-script twin of each document IN BOTH ENGINES
# (English head + a per-doc CJK suffix chosen by doc_id % 3) and gate
# the tokenizer / language-ID behavior on it.

_MIXED_CASE = (
    "CASE CAST(doc_id % 3 AS INT)"
    " WHEN 0 THEN ' 机器学习模型训练'"
    " WHEN 1 THEN ' データ処理パイプライン'"
    " ELSE ' 데이터 중복 제거' END"
)
_MIXED_EXPR = f"concat(substring(text, 1, 40), {_MIXED_CASE})"

_HAN, _KANA, _HANGUL = "[一-鿿]", "[぀-ヿ]", "[가-힯]"


def tokenize_mixed_script(spark, sf_dir):
    """Script-aware tokenization gated on mixed-script text: CJK runs
    degrade to codepoint bigrams, Latin tokens stay whole.  Output:
    per (doc, token) counts with a CJK flag — the value-hash gate
    proves the Spark and DuckDB tokenizers agree token-for-token on
    Han/kana/Hangul input."""
    d = _docs(spark, sf_dir)
    toks = d.selectExpr(
        "doc_id", f"explode({_toks_spark(_MIXED_EXPR)}) AS tok"
    )
    return toks.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("n"),
        F.max(
            F.when(F.col("tok").rlike(_CJK_CLASS), 1).otherwise(0)
        ).cast("int").alias("is_cjk"),
    )


TOKENIZE_MIXED_SQL = f"""
WITH m AS (SELECT doc_id, {_MIXED_EXPR} AS mixed FROM documents),
toks AS (SELECT doc_id, UNNEST({_toks_duck("mixed")}) AS tok FROM m)
SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MAX(CASE WHEN regexp_matches(tok, '{_CJK_CLASS}') THEN 1 ELSE 0 END) AS INT) AS is_cjk
FROM toks GROUP BY 1, 2
"""


def lang_id_cjk(spark, sf_dir):
    """lang_id extended to unsegmented scripts: Han / kana / Hangul
    codepoint counts join the en/de/fr whole-token markers; kana
    outranks Han on ties (Japanese text necessarily contains kanji,
    Chinese contains no kana), Latin languages are the fallback when
    no CJK is present."""
    d = _docs(spark, sf_dir).selectExpr(
        "doc_id", "lang", f"{_MIXED_EXPR} AS text"
    )
    n_han = F.length(F.regexp_replace(F.col("text"), f"[^{_HAN[1:-1]}]", ""))
    n_kana = F.length(F.regexp_replace(F.col("text"), f"[^{_KANA[1:-1]}]", ""))
    n_hang = F.length(F.regexp_replace(F.col("text"), f"[^{_HANGUL[1:-1]}]", ""))
    scores = {
        lang: sum((_occ_spark(w) for w in ws[1:]), _occ_spark(ws[0]))
        for lang, ws in _MARKERS.items()
    }
    latin = (
        F.when(
            (scores["en"] >= scores["de"]) & (scores["en"] >= scores["fr"]), "en"
        )
        .when(scores["de"] >= scores["fr"], "de")
        .otherwise("fr")
    )
    pred = (
        F.when((n_kana > 0) & (n_kana >= n_hang), "ja")
        .when((n_hang > 0) & (n_hang >= n_han), "ko")
        .when(n_han > 0, "zh")
        .otherwise(latin)
    )
    return d.select(
        "doc_id",
        n_han.cast("long").alias("score_zh"),
        n_kana.cast("long").alias("score_ja"),
        n_hang.cast("long").alias("score_ko"),
        pred.alias("pred_lang"),
    )


LANG_ID_CJK_SQL = f"""
WITH m AS (SELECT doc_id, lang, {_MIXED_EXPR} AS text FROM documents),
s AS (
  SELECT doc_id,
         CAST(LENGTH(regexp_replace(text, '[^{_HAN[1:-1]}]', '', 'g')) AS BIGINT) AS score_zh,
         CAST(LENGTH(regexp_replace(text, '[^{_KANA[1:-1]}]', '', 'g')) AS BIGINT) AS score_ja,
         CAST(LENGTH(regexp_replace(text, '[^{_HANGUL[1:-1]}]', '', 'g')) AS BIGINT) AS score_ko,
         CAST({_lang_score_duck("en")} AS BIGINT) AS score_en,
         CAST({_lang_score_duck("de")} AS BIGINT) AS score_de,
         CAST({_lang_score_duck("fr")} AS BIGINT) AS score_fr
  FROM m
)
SELECT doc_id, score_zh, score_ja, score_ko,
       CASE WHEN score_ja > 0 AND score_ja >= score_ko THEN 'ja'
            WHEN score_ko > 0 AND score_ko >= score_zh THEN 'ko'
            WHEN score_zh > 0 THEN 'zh'
            WHEN score_en >= score_de AND score_en >= score_fr THEN 'en'
            WHEN score_de >= score_fr THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM s
"""


# --- unigram cross-entropy quality signal ------------------------------------
#
# The KenLM-style perplexity filter every CCNet/RedPajama-style corpus
# pipeline runs, with the LM derived FROM the corpus itself (a unigram
# model: p(t) = tf_corpus(t) / total).  Per-doc score = mean surprisal
# -log2 p(t) over its tokens; templated/boilerplate docs (common
# tokens) score low, rare-token gibberish scores high.  Parity: each
# token's surprisal is ROUND(.,8) then summed as exact DECIMAL so the
# mean is fold-order-free; perplexity = 2^mean on the rounded mean.
# Scale: two counting aggregations + one token-keyed join — the term
# table is Zipfian but the join key is (tok), partial-aggregated
# before the exchange.


def unigram_surprisal(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id", F.explode(F.expr(_toks_spark("text"))).alias("tok")
    )
    tf = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    # total DERIVED from tf (sum of counts) — not a third
    # scan->explode->count subtree over the corpus (the tfidf
    # derive-don't-recompute lesson from round 3)
    total = tf.agg(F.sum("cnt").alias("total"))
    surp = F.round(
        -F.log2(F.col("cnt") / F.col("total").cast("double")), 8
    )
    scored = (
        toks.join(tf, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            # cast the exact decimal sum to DOUBLE BEFORE dividing:
            # decimal/bigint division rounds at decimal scale in Spark
            # but is IEEE double division in DuckDB — the repo-wide
            # parity rule is double/int division on both sides
            (
                F.sum(surp.cast("decimal(24,10)")).cast("double")
                / F.count("*")
            ).alias("mean_surprisal_raw"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("mean_surprisal_raw"), 6).alias("mean_surprisal"),
        F.round(F.pow(F.lit(2.0), F.round(F.col("mean_surprisal_raw"), 6)), 4)
        .alias("perplexity"),
    )


UNIGRAM_SURPRISAL_SQL = f"""
WITH toks AS (
  SELECT doc_id, UNNEST({_TOKS_DUCK_TEXT}) AS tok FROM documents
),
tf AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT COUNT(*) AS total FROM toks),
scored AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CAST(ROUND(-log2(cnt / CAST(total AS DOUBLE)), 8)
                       AS DECIMAL(24,10))) AS DOUBLE) / COUNT(*)
           AS mean_surprisal_raw
  FROM toks JOIN tf USING (tok), total
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       ROUND(mean_surprisal_raw, 6) AS mean_surprisal,
       ROUND(pow(2.0, ROUND(mean_surprisal_raw, 6)), 4) AS perplexity
FROM scored
"""


# --- exact-substring duplication fraction ------------------------------------
#
# The Lee-et-al.-style exact substring signal (the dedup family next
# to hash/MinHash/SimHash): any W-token gram occurring more than once
# in the corpus marks its W token positions as duplicated; per doc,
# report the fraction of token positions covered by duplicated grams.
# (Full suffix-array dedup TRIMS those spans; the coverage fraction is
# the score corpora gate on.)  Scale shape: one gram explode (xW
# constant amplification), one gram-keyed counting aggregation
# (partial-agg collapses hot boilerplate grams map-side), positions
# re-derived by a W-row range join — never a suffix array in driver
# memory.

SUBSTR_W = 8


def _substr_grams(spark, sf_dir):
    """(doc_id, p, g) W-gram rows, PERSISTED + memoized like _shingles:
    the gram explode (xW amplification over the corpus) is the dominant
    cost and has TWO consumers (the dup-gram count and the coverage
    join) — without the cache it would execute twice per query."""

    def build():
        d = _docs(spark, sf_dir)
        toks = d.select("doc_id", F.expr(_toks_spark("text")).alias("w"))
        # docs shorter than W tokens emit NO grams: Spark's sequence(0, -1)
        # is DESCENDING (never empty), so the short-doc case needs an
        # explicit branch — caught by the randomized-corpus gate
        return toks.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(w) >= {SUBSTR_W} THEN"
                    f" transform(sequence(0, size(w) - {SUBSTR_W}),"
                    f" i -> md5(concat_ws(' ', slice(w, i + 1, {SUBSTR_W}))))"
                    f" ELSE cast(array() as array<string>) END"
                )
            ).alias("p", "g"),
        ).persist(StorageLevel.MEMORY_AND_DISK)

    return cached(spark, "substr_grams", f"{sf_dir}/documents.parquet", build)


def exact_substring_dup_fraction(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.expr(_toks_spark("text")).alias("w"))
    grams = _substr_grams(spark, sf_dir)
    dup_g = grams.groupBy("g").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    covered = (
        grams.join(dup_g.select("g"), "g")
        .select("doc_id", F.explode(F.expr(f"sequence(p, p + {SUBSTR_W} - 1)")).alias("tp"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_tokens"))
    )
    per_doc = toks.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
    return (
        per_doc.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup_tokens"), F.lit(0)).cast("long").alias(
                "n_dup_tokens"
            ),
            F.round(
                F.coalesce(F.col("n_dup_tokens"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_fraction"),
        )
    )


EXACT_SUBSTRING_SQL = f"""
WITH toks AS (SELECT doc_id, {_TOKS_DUCK_TEXT} AS w FROM documents),
grams AS (
  SELECT doc_id, u.i AS p, md5(array_to_string(w[u.i + 1 : u.i + {SUBSTR_W}], ' ')) AS g
  FROM toks, UNNEST([i FOR i IN range(0, GREATEST(LENGTH(w) - {SUBSTR_W}, -1) + 1)]) u(i)
),
dup_g AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
covered AS (
  SELECT doc_id, COUNT(*) AS n_dup_tokens FROM (
    SELECT DISTINCT gr.doc_id, gr.p + r.off AS tp
    FROM grams gr JOIN dup_g USING (g), range({SUBSTR_W}) r(off)
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(LENGTH(t.w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       ROUND(COALESCE(c.n_dup_tokens, 0) / CAST(LENGTH(t.w) AS DOUBLE), 6)
         AS dup_fraction
FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id
"""


# --- model-based quality filter (frozen logistic regression) -----------------
#
# The FineWeb/CCNet-style model-based gate: a tiny linear classifier
# over cheap text features, with FROZEN weights (a trained classifier
# ships to executors exactly like this — constants in the plan, fully
# JVM-side, no UDF).  Features and the z = w·x + b sum are written in
# the same fixed order in both engines; z is rounded before the
# sigmoid and the score after, so libm exp() ulp drift can't flip the
# hash.  Output includes the keep decision at the 0.5 threshold.

_LOGREG_W = (0.35, 2.0, -3.0, -0.12)  # log1p(words), stop_ratio, digit_ratio, mean_wlen
_LOGREG_B = -1.0


def quality_logreg_score(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n_words = F.size(F.split(F.col("text"), " ")).cast("double")
    stop_hits = sum(
        (_occ_spark(w) for w in ("and", "of", "to")), _occ_spark("the")
    ).cast("double")
    digit_ratio = F.length(
        F.regexp_replace(F.col("text"), "[^0-9]", "")
    ) / F.length("text").cast("double")
    mean_wlen = (
        F.length(F.regexp_replace(F.col("text"), " ", "")) / n_words
    )
    z = F.round(
        F.lit(_LOGREG_W[0]) * F.log1p(n_words)
        + F.lit(_LOGREG_W[1]) * (stop_hits / n_words)
        + F.lit(_LOGREG_W[2]) * digit_ratio
        + F.lit(_LOGREG_W[3]) * mean_wlen
        + F.lit(_LOGREG_B),
        8,
    )
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return d.select(
        "doc_id",
        z.alias("z"),
        score.alias("score"),
        (score >= 0.5).alias("keep"),
    )


QUALITY_LOGREG_SQL = f"""
SELECT doc_id,
       z,
       ROUND(1.0 / (1.0 + exp(-z)), 6) AS score,
       ROUND(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
FROM (
  SELECT doc_id,
         ROUND({_LOGREG_W[0]} * ln(1 + LENGTH(string_split(text, ' ')))
             + {_LOGREG_W[1]} * (({_STOPS_DUCK})
                 / CAST(LENGTH(string_split(text, ' ')) AS DOUBLE))
             + {_LOGREG_W[2]} * (LENGTH(regexp_replace(text, '[^0-9]', '', 'g'))
                 / CAST(LENGTH(text) AS DOUBLE))
             + {_LOGREG_W[3]} * (LENGTH(replace(text, ' ', ''))
                 / CAST(LENGTH(string_split(text, ' ')) AS DOUBLE))
             + {_LOGREG_B}, 8) AS z
  FROM documents
)
"""


# --- overlapping passage chunking --------------------------------------------
#
# The chunker every retrieval/training pipeline runs before embedding:
# fixed-size token windows with stride < size (overlap keeps context
# across cut points).  Zero shuffle — chunk boundaries are a per-row
# ``transform(sequence(...))`` over the token array, exploded; at
# 100 TB this is a map-only pass like token counting.  The last chunk
# is the final tail window (standard: starts at the last stride
# boundary before the end, may overlap more).

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_passages(spark, sf_dir):
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("w"))
    starts = (
        f"CASE WHEN size(w) <= {CHUNK_SIZE} THEN array(0)"
        f" ELSE transform("
        f"sequence(0, cast(ceil((size(w) - {CHUNK_SIZE})"
        f" / cast({CHUNK_STRIDE} as double)) as int)),"
        f" i -> least(i * {CHUNK_STRIDE}, size(w) - {CHUNK_SIZE})) END"
    )
    return (
        toks.select(
            "doc_id", "w", F.posexplode(F.expr(starts)).alias("chunk_id", "tok_start")
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("tok_start").cast("long").alias("tok_start"),
            F.least(
                F.col("tok_start") + CHUNK_SIZE, F.size("w")
            ).cast("long").alias("tok_end"),
            F.expr(
                f"concat_ws(' ', slice(w, tok_start + 1,"
                f" least({CHUNK_SIZE}, size(w) - tok_start)))"
            ).alias("chunk_text"),
        )
    )


CHUNK_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
starts AS (
  SELECT doc_id, w, u.i AS chunk_id,
         CASE WHEN LENGTH(w) <= {CHUNK_SIZE} THEN 0
              ELSE LEAST(u.i * {CHUNK_STRIDE}, LENGTH(w) - {CHUNK_SIZE}) END
           AS tok_start
  FROM toks, UNNEST([i FOR i IN range(0,
    CASE WHEN LENGTH(w) <= {CHUNK_SIZE} THEN 1
         ELSE CAST(CEIL((LENGTH(w) - {CHUNK_SIZE})
                        / CAST({CHUNK_STRIDE} AS DOUBLE)) AS INT) + 1 END
  )]) u(i)
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(LEAST(tok_start + {CHUNK_SIZE}, LENGTH(w)) AS BIGINT) AS tok_end,
       array_to_string(
         w[tok_start + 1 : tok_start + LEAST({CHUNK_SIZE}, LENGTH(w) - tok_start)],
         ' ') AS chunk_text
FROM starts
"""


# --- per-domain token budget -------------------------------------------------
#
# The anti-domination sampler every web corpus applies (no single
# domain may contribute more than B tokens to the training mix): docs
# stream per source in doc_id order and are kept while the RUNNING
# token total before the doc is under budget — so the doc that crosses
# the line is still taken (standard greedy knapsack-by-order), and
# everything after it is cut.  One window per source; at crawl scale
# the partition key is the domain, exactly the key the data is already
# laid out by after url-hash bucketing.

DOMAIN_TOKEN_BUDGET = 800


def domain_token_budget(spark, sf_dir):
    d = _docs(spark, sf_dir)
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = W.partitionBy("source").orderBy("doc_id")
    scored = d.select("doc_id", "source", n_tok.alias("n_tokens")).withColumn(
        "cum_before", F.coalesce(
            F.sum("n_tokens").over(w.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long")
    )
    return scored.filter(F.col("cum_before") < DOMAIN_TOKEN_BUDGET).select(
        "doc_id", "source", "n_tokens",
        (F.col("cum_before") + F.col("n_tokens")).alias("cum_tokens"),
    )


DOMAIN_BUDGET_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         CAST(LENGTH(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(LENGTH(string_split(text, ' '))) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM documents
)
SELECT doc_id, source, n_tokens, cum_before + n_tokens AS cum_tokens
FROM scored WHERE cum_before < {DOMAIN_TOKEN_BUDGET}
"""


# --- lang_id_v2: Common-Crawl script breadth ---------------------------------
#
# A real crawl needs at least Cyrillic / Arabic / Devanagari classes
# (plus es/pt markers) before temperature sampling is meaningful.  The
# driver corpus is ASCII-only, so each doc gets a deterministic
# per-doc_id suffix in one of 8 languages — synthesized identically in
# both engines — and the value-hash gate proves script counting and
# the marker argmax agree.

_CYRILLIC = "[Ѐ-ӿ]"      # U+0400-U+04FF
_ARABIC = "[؀-ۿ]"        # U+0600-U+06FF
_DEVANAGARI = "[ऀ-ॿ]"    # U+0900-U+097F

_MARKERS_V2 = {
    "es": ("el", "que", "los"),
    "pt": ("uma", "não", "são"),
}

_MIXED8_CASE = (
    "CASE CAST(doc_id % 8 AS INT)"
    " WHEN 0 THEN ' 机器学习模型训练'"
    " WHEN 1 THEN ' データ処理パイプライン'"
    " WHEN 2 THEN ' 데이터 중복 제거'"
    " WHEN 3 THEN ' обработка данных и моделей'"
    " WHEN 4 THEN ' معالجة البيانات والنماذج'"
    " WHEN 5 THEN ' डेटा प्रसंस्करण और मॉडल'"
    # marker-dense so the short suffix outvotes the English head
    " WHEN 6 THEN ' el que los el que los el que los'"
    " ELSE ' uma não são uma não são uma não são' END"
)
_MIXED8_EXPR = f"concat(substring(text, 1, 40), {_MIXED8_CASE})"


def lang_id_v2(spark, sf_dir):
    """lang_id over the full crawl script set: CJK (zh/ja/ko via
    Han/kana/Hangul codepoint counts, kana>Hangul>Han precedence),
    Cyrillic->ru, Arabic->ar, Devanagari->hi, and a 5-way Latin marker
    argmax (en/de/fr/es/pt) as the fallback — script evidence always
    outranks marker evidence, mirroring how fastText-style IDs treat
    unambiguous scripts."""
    d = _docs(spark, sf_dir).selectExpr("doc_id", f"{_MIXED8_EXPR} AS text")

    def n_of(cls):
        return F.length(F.regexp_replace(F.col("text"), f"[^{cls[1:-1]}]", ""))

    n_han, n_kana, n_hang = n_of(_HAN), n_of(_KANA), n_of(_HANGUL)
    n_cyr, n_ar, n_dev = n_of(_CYRILLIC), n_of(_ARABIC), n_of(_DEVANAGARI)
    sc = {
        lang: sum((_occ_spark(w) for w in ws[1:]), _occ_spark(ws[0]))
        for lang, ws in {**_MARKERS, **_MARKERS_V2}.items()
    }
    latin = (
        F.when(
            (sc["en"] >= sc["de"]) & (sc["en"] >= sc["fr"])
            & (sc["en"] >= sc["es"]) & (sc["en"] >= sc["pt"]),
            "en",
        )
        .when((sc["de"] >= sc["fr"]) & (sc["de"] >= sc["es"]) & (sc["de"] >= sc["pt"]), "de")
        .when((sc["fr"] >= sc["es"]) & (sc["fr"] >= sc["pt"]), "fr")
        .when(sc["es"] >= sc["pt"], "es")
        .otherwise("pt")
    )
    pred = (
        F.when((n_kana > 0) & (n_kana >= n_hang), "ja")
        .when((n_hang > 0) & (n_hang >= n_han), "ko")
        .when(n_han > 0, "zh")
        .when(n_cyr > 0, "ru")
        .when(n_ar > 0, "ar")
        .when(n_dev > 0, "hi")
        .otherwise(latin)
    )
    return d.select(
        "doc_id",
        n_cyr.cast("long").alias("score_ru"),
        n_ar.cast("long").alias("score_ar"),
        n_dev.cast("long").alias("score_hi"),
        sc["es"].cast("long").alias("score_es"),
        sc["pt"].cast("long").alias("score_pt"),
        pred.alias("pred_lang"),
    )


def _lang_score_v2_duck(lang: str) -> str:
    return " + ".join(_occ_duck(w) for w in {**_MARKERS, **_MARKERS_V2}[lang])


LANG_ID_V2_SQL = f"""
WITH m AS (SELECT doc_id, {_MIXED8_EXPR} AS text FROM documents),
s AS (
  SELECT doc_id,
         CAST(LENGTH(regexp_replace(text, '[^{_HAN[1:-1]}]', '', 'g')) AS BIGINT) AS n_han,
         CAST(LENGTH(regexp_replace(text, '[^{_KANA[1:-1]}]', '', 'g')) AS BIGINT) AS n_kana,
         CAST(LENGTH(regexp_replace(text, '[^{_HANGUL[1:-1]}]', '', 'g')) AS BIGINT) AS n_hang,
         CAST(LENGTH(regexp_replace(text, '[^{_CYRILLIC[1:-1]}]', '', 'g')) AS BIGINT) AS score_ru,
         CAST(LENGTH(regexp_replace(text, '[^{_ARABIC[1:-1]}]', '', 'g')) AS BIGINT) AS score_ar,
         CAST(LENGTH(regexp_replace(text, '[^{_DEVANAGARI[1:-1]}]', '', 'g')) AS BIGINT) AS score_hi,
         CAST({_lang_score_v2_duck("en")} AS BIGINT) AS s_en,
         CAST({_lang_score_v2_duck("de")} AS BIGINT) AS s_de,
         CAST({_lang_score_v2_duck("fr")} AS BIGINT) AS s_fr,
         CAST({_lang_score_v2_duck("es")} AS BIGINT) AS score_es,
         CAST({_lang_score_v2_duck("pt")} AS BIGINT) AS score_pt
  FROM m
)
SELECT doc_id, score_ru, score_ar, score_hi, score_es, score_pt,
       CASE WHEN n_kana > 0 AND n_kana >= n_hang THEN 'ja'
            WHEN n_hang > 0 AND n_hang >= n_han THEN 'ko'
            WHEN n_han > 0 THEN 'zh'
            WHEN score_ru > 0 THEN 'ru'
            WHEN score_ar > 0 THEN 'ar'
            WHEN score_hi > 0 THEN 'hi'
            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= score_es AND s_en >= score_pt THEN 'en'
            WHEN s_de >= s_fr AND s_de >= score_es AND s_de >= score_pt THEN 'de'
            WHEN s_fr >= score_es AND s_fr >= score_pt THEN 'fr'
            WHEN score_es >= score_pt THEN 'es'
            ELSE 'pt' END AS pred_lang
FROM s
"""


TEXT_QUERIES = {
    "text_stats": (text_stats, TEXT_STATS_SQL),
    "lang_id_v2": (lang_id_v2, LANG_ID_V2_SQL),
    "unigram_surprisal": (unigram_surprisal, UNIGRAM_SURPRISAL_SQL),
    "domain_token_budget": (domain_token_budget, DOMAIN_BUDGET_SQL),
    "exact_substring_dup_fraction": (
        exact_substring_dup_fraction,
        EXACT_SUBSTRING_SQL,
    ),
    "quality_logreg_score": (quality_logreg_score, QUALITY_LOGREG_SQL),
    "chunk_passages": (chunk_passages, CHUNK_SQL),
    "tokenize_mixed_script": (tokenize_mixed_script, TOKENIZE_MIXED_SQL),
    "lang_id_cjk": (lang_id_cjk, LANG_ID_CJK_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "token_count_bpe": (token_count_bpe, TOKEN_COUNT_BPE_SQL),
    "decontaminate_against_eval": (decontaminate_against_eval, DECONTAMINATE_SQL),
    "redact_pii": (redact_pii, REDACT_SQL),
    "dup_sentence_fraction": (dup_sentence_fraction, DUP_SENT_SQL),
    "corpus_curation_v2": (corpus_curation_v2, CURATION_V2_SQL),
    "corpus_curation_v3": (corpus_curation_v3, CURATION_V3_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "quality_score": (quality_score, QUALITY_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, JACCARD_SQL),
    "dedup_clusters": (dedup_clusters, CLUSTERS_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, MINHASH_SQL),
    "dedup_jaccard_lsh": (dedup_jaccard_lsh, JACCARD_LSH_SQL),
    "simhash": (simhash, SIMHASH_SQL),
    "doc_rolling_fingerprint": (doc_rolling_fingerprint, ROLLING_FP_SQL),
    "stratified_sample": (stratified_sample, STRATIFIED_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    "repetition_ratio": (repetition_ratio, REPETITION_SQL),
    "simhash_hamming_pairs": (simhash_hamming_pairs, SIMHASH_HAMMING_SQL),
    "simhash64_hamming_pairs": (simhash64_hamming_pairs, SIMHASH64_HAMMING_SQL),
    "simhash64_sig_pairs": (simhash64_sig_pairs, SIMHASH64_SIG_PAIRS_SQL),
    "lsh_bucket_cap_audit": (lsh_bucket_cap_audit, LSH_CAP_AUDIT_SQL),
}
