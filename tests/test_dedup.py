"""Near-dup and exact-dedup invariants (plans/dedup_q.py) beyond oracle
parity: candidate verification covers every LSH candidate, containment
dominates Jaccard, the corpus-health reports conserve documents and
shingle postings, URL canonicalization merges raw variants, and the
stored LSH postings (store → append → compact → probe) serve exactly
the in-plan candidate set."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans import oracle_sql, queries
from olympic_athletes_etl_spark.plans.dedup_q import (
    d_containment_pairs,
    d_dup_rate_by_source,
    d_jaccard_histogram,
    d_minhash_lsh,
    d_ngram_jaccard,
)
from olympic_athletes_etl_spark.plans.tables import load
from tests.test_round9_ops import _parquet_files_by_dir

_SF001 = "/root/testdata/sf0.01"


def _q(name):
    return queries()[name]


# --------------------------------------------------------------------------
# Candidate verification (_overlap)
# --------------------------------------------------------------------------
def test_jaccard_histogram_covers_all_candidates(spark, sf_dir):
    hist = d_jaccard_histogram(spark, sf_dir).collect()
    n_cand = d_minhash_lsh(spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in hist) == n_cand
    for r in hist:
        assert 0 <= r["jacc_decile"] <= 10  # 10 = exact-duplicate bucket

def test_containment_dominates_jaccard(spark, sf_dir):
    cont = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in d_containment_pairs(spark, sf_dir).collect()
    }
    assert cont
    jac = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in d_ngram_jaccard(spark, sf_dir).collect()
    }
    for pair, c in cont.items():
        assert 0.8 <= c <= 1.0
        if pair in jac:
            # |i|/min(|a|,|b|) >= |i|/|a∪b| always (different shingle
            # capping makes this approximate only if the hot-cap fired;
            # the synthetic corpus has no capped shingles at this SF)
            assert c >= jac[pair] - 1e-9


# --------------------------------------------------------------------------
# Corpus-health reports
# --------------------------------------------------------------------------
def test_dup_rate_by_source_accounts_for_every_doc(spark, sf_dir):
    rows = d_dup_rate_by_source(spark, sf_dir).collect()
    docs = load(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    n_distinct = docs.select(F.md5("text")).distinct().count()
    assert sum(r["n_dupes"] for r in rows) == docs.count() - n_distinct


def test_novelty_counts_each_distinct_shingle_once(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.dedup_q import _doc_shingle_hashes

    rows = _q("d_novelty_by_doc")(spark, sf_dir).collect()
    hashed = _doc_shingle_hashes(spark, sf_dir)
    # every distinct shingle is novel in exactly one doc (its first)
    assert sum(r["n_novel"] for r in rows) == hashed.select("h").distinct().count()
    assert sum(r["n_shingles"] for r in rows) == hashed.count()
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_shingles"]
        assert abs(r["novelty_ratio"] - round(r["n_novel"] / r["n_shingles"], 4)) < 1e-9
    # ingestion order: the earliest doc with shingles is fully novel
    first = min((r for r in rows), key=lambda r: r["doc_id"])
    assert first["n_novel"] == first["n_shingles"]


def test_shingle_df_histogram_conserves_postings(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.dedup_q import _doc_shingle_hashes

    rows = _q("d_shingle_df_histogram")(spark, sf_dir).collect()
    hashed = _doc_shingle_hashes(spark, sf_dir)
    assert sum(r["n_postings"] for r in rows) == hashed.count()
    assert sum(r["n_shingles"] for r in rows) == hashed.select("h").distinct().count()
    for r in rows:
        assert r["n_shingles"] <= r["n_postings"]
        if r["df_bucket"] == 0:  # df=1 exactly: one posting per shingle
            assert r["n_shingles"] == r["n_postings"]


def test_source_overlap_bounds(spark):
    rows = _q("d_source_overlap")(spark, _SF001).collect()
    assert rows
    from olympic_athletes_etl_spark.plans.dedup_q import _doc_shingle_hashes

    hs = (
        _doc_shingle_hashes(spark, _SF001)
        .join(
            load(spark, _SF001, "documents").select("doc_id", "source"),
            "doc_id",
        )
        .select("h", "source")
        .distinct()
    )
    per = {
        r.source: r.n
        for r in hs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for r in rows:
        assert r.source_a < r.source_b
        lo = min(per[r.source_a], per[r.source_b])
        assert 0 < r.n_shared <= lo
        assert r.containment_x10000 == (10000 * r.n_shared) // lo


def test_url_dedup_canonical_invariants(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.dedup_q import d_url_dedup
    from olympic_athletes_etl_spark.plans.tables import load

    rows = d_url_dedup(spark, sf_dir).collect()
    n_docs = load(spark, sf_dir, "documents").count()
    # every doc lands in exactly one canonical group
    assert sum(r["n_dups"] for r in rows) == n_docs
    for r in rows:
        u = r["canonical_url"]
        assert u == u.lower()
        assert "#" not in u and "utm" not in u
        assert not u.endswith("/")
        assert "://www." not in u
        assert u.startswith("https://")
        assert r["n_raw_variants"] <= r["n_dups"]
    # the canonicalization actually merges distinct raw variants
    assert max(r["n_raw_variants"] for r in rows) > 1


# --------------------------------------------------------------------------
# Stored LSH postings (batch-vs-corpus near-dup screening)
# --------------------------------------------------------------------------
def test_lsh_postings_append_closes_ingest_loop(spark, sf_dir, tmp_path):
    """Dedup-side loop composition: store corpus postings, screen
    batch1, APPEND batch1's postings, screen batch2 — batch2's
    candidates must equal the in-plan band join against corpus ∪
    batch1 (integer signatures, append is exact union)."""
    from olympic_athletes_etl_spark.plans.dedup_q import (
        _doc_shingle_hashes,
        _minhash_bands,
        lsh_postings_append,
        lsh_postings_load,
        lsh_postings_store,
    )

    bands = _minhash_bands(_doc_shingle_hashes(spark, sf_dir))
    path = str(tmp_path / "postings")
    corpus = F.col("doc_id") < 300
    batch1 = (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
    batch2 = F.col("doc_id") >= 400
    lsh_postings_store(bands.filter(corpus), path)
    lsh_postings_append(bands.filter(batch1), path)
    stored = lsh_postings_load(spark, path).alias("o")
    n = bands.filter(batch2).alias("n")
    got = {
        (r["doc_new"], r["doc_old"])
        for r in n.join(
            stored,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.sig0") == F.col("o.sig0"))
            & (F.col("n.sig1") == F.col("o.sig1")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"),
            F.col("o.doc_id").alias("doc_old"),
        )
        .dropDuplicates()
        .collect()
    }
    inplan = bands.filter(corpus | batch1).alias("o")
    want = {
        (r["doc_new"], r["doc_old"])
        for r in n.join(
            inplan,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.sig0") == F.col("o.sig0"))
            & (F.col("n.sig1") == F.col("o.sig1")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"),
            F.col("o.doc_id").alias("doc_old"),
        )
        .dropDuplicates()
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_neardup_stored_matches_oracle(spark, sf_dir):
    from olympic_athletes_etl_spark.plans import queries

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(con.sql(oracle_sql()["d_neardup_stored"]).fetchall())
    got = sorted(
        tuple(r) for r in queries()["d_neardup_stored"](spark, sf_dir).collect()
    )
    assert got == want
    assert len(got) > 0  # the split actually straddles near-dup pairs


def test_neardup_stored_equals_lsh_pairs_across_split(spark, sf_dir):
    """Consistency with the self-join form: the stored-probe candidates
    are EXACTLY d_minhash_lsh's pairs that straddle the corpus/batch
    split (old < 400 <= new, and lsh emits doc_a < doc_b) — the stored
    index changes where the corpus signatures come from, never which
    collisions exist."""
    from olympic_athletes_etl_spark.plans import queries
    from olympic_athletes_etl_spark.plans.dedup_q import _STORED_SPLIT

    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in queries()["d_minhash_lsh"](spark, sf_dir).collect()
    }
    straddle = {
        (a, b) for a, b in lsh if a < _STORED_SPLIT <= b
    }
    stored = {
        (r["doc_old"], r["doc_new"])
        for r in queries()["d_neardup_stored"](spark, sf_dir).collect()
    }
    assert stored == straddle


def test_lsh_postings_store_rejects_non_bands(spark, sf_dir, tmp_path):
    from olympic_athletes_etl_spark.plans.dedup_q import lsh_postings_store
    from olympic_athletes_etl_spark.plans.tables import load

    with pytest.raises(ValueError, match="missing contract columns"):
        lsh_postings_store(
            load(spark, sf_dir, "documents"), str(tmp_path / "bad")
        )


def test_lsh_postings_load_rejects_foreign_parquet(spark, sf_dir, tmp_path):
    from olympic_athletes_etl_spark.plans.dedup_q import lsh_postings_load
    from olympic_athletes_etl_spark.plans.tables import load

    path = str(tmp_path / "not_postings")
    load(spark, sf_dir, "documents").select("doc_id").write.parquet(path)
    with pytest.raises(ValueError, match="no _STORE manifest"):
        lsh_postings_load(spark, path)


def test_lsh_postings_compact_is_probe_invariant(spark, sf_dir, tmp_path):
    """store + 2 appends → >1 file per band; compact → exactly 1 file
    per band and the probe result is unchanged (content-invariant
    rewrite)."""
    from olympic_athletes_etl_spark.plans.dedup_q import (
        _doc_shingle_hashes,
        _minhash_bands,
        lsh_postings_append,
        lsh_postings_compact,
        lsh_postings_load,
        lsh_postings_store,
        lsh_probe,
    )

    bands = _minhash_bands(_doc_shingle_hashes(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    path = str(tmp_path / "postings")
    lsh_postings_store(bands.filter(F.col("doc_id") < 300), path)
    lsh_postings_append(
        bands.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350)), path
    )
    lsh_postings_append(
        bands.filter((F.col("doc_id") >= 350) & (F.col("doc_id") < 400)), path
    )
    probe_batch = bands.filter(F.col("doc_id") >= 400)
    pre = {
        (r["doc_new"], r["doc_old"])
        for r in lsh_probe(probe_batch, lsh_postings_load(spark, path)).collect()
    }
    before = _parquet_files_by_dir(path)
    assert any(n > 1 for n in before.values()), before  # appends fragmented

    lsh_postings_compact(spark, path)

    after = _parquet_files_by_dir(path)
    assert set(after) == set(before)  # no partition lost
    assert all(n == 1 for n in after.values()), after
    post = {
        (r["doc_new"], r["doc_old"])
        for r in lsh_probe(probe_batch, lsh_postings_load(spark, path)).collect()
    }
    assert post == pre
    assert len(post) > 0
