"""Mega-cluster fence for the LSH bucket cap (r3 verdict item 1).

A real crawl has identical/boilerplate pages forming clusters of
millions of docs that share EVERY band: without a cap, one reducer
collects a corpus-sized list and the i<j expansion is quadratic in
cluster size.  These tests plant a 10k-identical-doc cluster and prove

  * both LSH pair queries finish quickly with exactly C(CAP, 2) pairs
    among the CAP lowest doc_ids (deterministic cap semantics),
  * the audit query counts every dropped band row (no silent caps),
  * the physical plan applies the cap MAP-SIDE (WindowGroupLimit
    Partial before the bucket exchange), so the mega-bucket never
    ships more than CAP rows per map partition through the shuffle.
"""

from __future__ import annotations

import math

import pyspark
import pytest

from doclayout_yolo_spark.queries_text import (
    BUCKET_CAP,
    N_BANDS,
    SIG_BUCKET_CAP,
    SIM64_BANDS,
    dedup_minhash_lsh,
    lsh_bucket_cap_audit,
    simhash64_hamming_pairs,
    simhash64_sig_pairs,
)

N_CLONES = 10_000
_TEXT = "the quick brown fox jumps over the lazy dog again and again"


@pytest.fixture(scope="module")
def mega_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("mega")
    spark.range(N_CLONES).selectExpr(
        "id AS doc_id",
        f"'{_TEXT}' AS text",
        "'en' AS lang",
    ).coalesce(4).write.parquet(str(out / "documents.parquet"))
    return str(out)


def test_minhash_mega_cluster_is_capped(spark, mega_dir):
    rows = dedup_minhash_lsh(spark, mega_dir).collect()
    assert len(rows) == math.comb(BUCKET_CAP, 2)
    ids = {r["doc_a"] for r in rows} | {r["doc_b"] for r in rows}
    assert ids == set(range(BUCKET_CAP))  # lowest doc_ids survive


def test_simhash64_mega_cluster_is_capped(spark, mega_dir):
    rows = simhash64_hamming_pairs(spark, mega_dir).collect()
    assert len(rows) == math.comb(BUCKET_CAP, 2)
    assert all(r["hamming"] == 0 for r in rows)
    ids = {r["doc_a"] for r in rows} | {r["doc_b"] for r in rows}
    assert ids == set(range(BUCKET_CAP))


def test_cap_audit_counts_every_drop(spark, mega_dir):
    audit = {
        (r["family"], r["band"]): r
        for r in lsh_bucket_cap_audit(spark, mega_dir).collect()
    }
    # doc-level minhash + simhash64 bands, plus the signature-level bands
    assert len(audit) == N_BANDS + 2 * SIM64_BANDS
    for (family, _band), r in audit.items():
        # all 10k docs are identical -> ONE bucket per band holding all
        assert r["n_buckets"] == 1
        if family == "simhash64_sig":
            # the sig-level rendering collapses the whole mega-cluster
            # into ONE signature row BEFORE banding: nothing to drop
            assert r["max_bucket"] == 1
            assert r["n_dropped"] == 0
        else:
            assert r["max_bucket"] == N_CLONES
            assert r["n_dropped"] == N_CLONES - BUCKET_CAP


def test_sig_pairs_mega_cluster_collapses_to_zero_pairs(spark, mega_dir):
    # 10k identical docs = one signature = no signature PAIRS at all;
    # the dedup information lives in the implicit sig group (n_docs=10k)
    from doclayout_yolo_spark.queries_text import (
        _sim64_sigs,
        simhash64_sig_pairs,
    )

    assert simhash64_sig_pairs(spark, mega_dir).count() == 0
    sigs = _sim64_sigs(spark, mega_dir).collect()
    assert len(sigs) == 1
    assert sigs[0]["n_docs"] == N_CLONES and sigs[0]["rep_doc"] == 0


@pytest.mark.parametrize(
    ("query", "cap"),
    [
        (dedup_minhash_lsh, BUCKET_CAP),
        (simhash64_hamming_pairs, BUCKET_CAP),
        (simhash64_sig_pairs, SIG_BUCKET_CAP),
    ],
    ids=["dedup_minhash_lsh", "simhash64_hamming_pairs", "simhash64_sig_pairs"],
)
def test_cap_is_applied_map_side(spark, mega_dir, query, cap):
    plan = (
        query(spark, mega_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # partial WindowGroupLimit = rank<=CAP enforced before the bucket
    # exchange; a regression to plain collect_list loses the node.
    # Only the node's PRESENCE is asserted unconditionally — the exact
    # "row_number(), 64" rendering is Spark-version-specific (pinned on
    # 4.1, where this repo was built), so that detail is guarded to
    # avoid failing a future Spark upgrade without a real regression.
    assert "WindowGroupLimit" in plan
    if pyspark.__version__.startswith("4.1"):
        assert "Partial" in plan
        assert f"row_number(), {cap}" in plan
