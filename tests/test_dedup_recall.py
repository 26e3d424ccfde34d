"""Recall audits for the banded/LSH dedup queries against their all-pairs
yardsticks.

The registered queries are candidate-then-verify (band equi-joins — the
only shape that survives 100 TB); the unregistered all-pairs functions in
plans/dedup_q.py exist solely so these tests can measure what the banding
misses. The DuckDB oracles mirror the banding exactly, so the correctness
gate alone can NOT detect recall loss — this file is the independent check.

- d_simhash_banded: pigeonhole argument ⇒ recall must be EXACTLY 1.0
  (hamming ≤ 2 over 4 bands of 4 bits forces ≥ 2 band collisions).
- d_embedding_neardup: probabilistic hyperplane LSH with CORPUS-SIZED
  banding (r = ceil(log2(n/64)) bits per band, b = min(32, b99(r))
  bands — ≈99% expected recall at cos 0.45 up to the band cap);
  asserted ≥ 0.9 with precision 1.0 (verify step is exact cosine).
  Everything is deterministic (fixed planes, fixed data), so these are
  exact pins, not flaky statistical tests.
"""

from __future__ import annotations

from olympic_athletes_etl_spark.plans.dedup_q import (
    d_embedding_neardup,
    d_embedding_neardup_allpairs,
    d_simhash_banded,
    d_simhash_pairs,
)


def _pairs(df, cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def test_simhash_banded_recall_is_exactly_one(spark, sf_dir):
    """4×4-bit banding of a 16-bit simhash at hamming ≤ 2 is lossless:
    the banded join must reproduce the all-pairs answer EXACTLY —
    including the hamming values (both sides verify on the same bits)."""
    banded = _pairs(d_simhash_banded(spark, sf_dir), ("doc_a", "doc_b", "hamming"))
    allp = _pairs(d_simhash_pairs(spark, sf_dir), ("doc_a", "doc_b", "hamming"))
    assert banded == allp
    assert len(allp) > 0  # a vacuous yardstick proves nothing


def test_embedding_neardup_recall_and_precision(spark, sf_dir):
    """Hyperplane-LSH candidates + exact-cosine verify: precision is 1.0
    by construction (every emitted pair passed the exact threshold);
    recall is probabilistic — assert the ≈99%-expected corpus-sized
    banding actually delivers ≥ 0.9 on real data (measured: 7/7 at
    sf0.001, 14/14 at sf0.01, 141/144 at sf0.1)."""
    got = _pairs(d_embedding_neardup(spark, sf_dir), ("vec_a", "vec_b"))
    truth = _pairs(d_embedding_neardup_allpairs(spark, sf_dir), ("vec_a", "vec_b"))
    assert len(truth) > 0
    assert got <= truth  # precision 1.0: no pair below the exact threshold
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.3f} < 0.9 ({len(got)}/{len(truth)})"


def test_embedding_band_params_sql_ladder_matches_python():
    """The oracle derives (r, b) from count(*) via integer CASE ladders;
    the Spark side derives them in Python (_nb_params). A drift between
    the two silently mis-pairs engine and oracle at exactly one corpus
    size — sweep every size class boundary ±1 and a spread of interior
    points through BOTH derivations."""
    import re

    import duckdb

    from olympic_athletes_etl_spark.plans.dedup_q import (
        _NB_MAX_BITS,
        _NB_TARGET_BUCKET,
        _nb_adaptive_oracle,
        _nb_params,
    )

    sql = _nb_adaptive_oracle()
    m = re.search(r"pp AS \(\s*(SELECT .*?FROM \(SELECT .*?\))\s*\)", sql, re.S)
    assert m, "oracle pp CTE not found"
    ladder = m.group(1)
    con = duckdb.connect()
    sizes = {1, 2, 63, 64, 65}
    for k in range(2, _NB_MAX_BITS + 1):
        t = _NB_TARGET_BUCKET * (1 << k)
        sizes |= {t - 1, t, t + 1, t * 3 // 2}
    for n in sorted(sizes):
        r_sql, b_sql = con.execute(
            ladder.replace("FROM nn", f"FROM (SELECT {n} AS n) nn")
        ).fetchone()
        assert (r_sql, b_sql) == _nb_params(n), f"n={n}: sql=({r_sql},{b_sql})"


def test_embedding_band_hash_numpy_equals_jvm_fold(spark, sf_dir):
    """The mapInPandas hasher accumulates plane dots dimension-by-
    dimension in float64 — asserted BIT-IDENTICAL to the JVM
    aggregate/zip_with left fold for every (vec, band) at the corpus's
    own (r, b): a summation-order divergence would flip sign bits on
    knife-edge dots and silently change candidates."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.dedup_q import (
        _DOT_D,
        _EMB_DIM,
        _NB_PLANE_W,
        _emb_norm,
        _nb_params,
        _nb_plane_w_py,
    )

    n_df = _emb_norm(spark, sf_dir).select("vec_id", "v")
    r, b = _nb_params(n_df.count())

    def band_expr(band):
        bits = []
        for j in range(r):
            p = band * r + j
            plane = (
                f"transform(sequence(0, {_EMB_DIM - 1}),"
                f" d -> CAST({_NB_PLANE_W.format(p=p)} AS DOUBLE))"
            )
            dot = _DOT_D.format(a="v", b=plane)
            bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << j}L ELSE 0L END)")
        return " + ".join(bits)

    jvm = {
        (row["vec_id"], band): row[f"bv{band}"]
        for row in n_df.select(
            "vec_id", *[F.expr(band_expr(i)).alias(f"bv{i}") for i in range(b)]
        ).collect()
        for band in range(b)
    }

    import numpy as np

    pl = np.asarray(
        [[float(_nb_plane_w_py(p, d)) for d in range(_EMB_DIM)] for p in range(b * r)]
    )
    got = {}
    for row in n_df.collect():
        v = np.asarray(row["v"], dtype=np.float64)
        acc = np.zeros(pl.shape[0])
        for d in range(_EMB_DIM):
            acc += v[d] * pl[:, d]
        bits = acc > 0.0
        for band in range(b):
            val = 0
            for j in range(r):
                val |= int(bits[band * r + j]) << j
            got[(row["vec_id"], band)] = val
    assert got == jvm


def test_multiprobe_lsh_recall_dominates_single_probe(spark, sf_dir):
    """1-bit multi-probe searches a strict superset of the single bucket,
    so its top-k must overlap the exact brute-force top-k at least as
    much as single-probe LSH does."""
    from olympic_athletes_etl_spark.plans.similarity_q import (
        s_ann_lsh,
        s_ann_lsh_multiprobe,
        s_knn_bruteforce,
    )

    truth = {r["vec_id"] for r in s_knn_bruteforce(spark, sf_dir).collect()}
    single = {r["vec_id"] for r in s_ann_lsh(spark, sf_dir).collect()}
    multi = {r["vec_id"] for r in s_ann_lsh_multiprobe(spark, sf_dir).collect()}
    assert len(multi & truth) >= len(single & truth)


def test_prefix_filter_join_equals_exact_inverted_index(spark, sf_dir):
    """PPJoin-style candidate pruning must be LOSSLESS: the
    prefix-filtered plan and the plain inverted-index plan are two
    physical strategies for the same logical query."""
    from olympic_athletes_etl_spark.plans.dedup_q import (
        d_jaccard_prefix_filter,
        d_ngram_jaccard,
    )

    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in d_ngram_jaccard(spark, sf_dir).collect()
    }
    pruned = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in d_jaccard_prefix_filter(spark, sf_dir).collect()
    }
    assert pruned == exact
    assert exact  # non-vacuous at the test SF


def test_sentence_dedup_recall_vs_stride1_windows(spark, sf_dir):
    """Sentence-segment dedup (d_sentence_dedup's candidate layer) vs
    the EXACT stride-1 window form at the same length (_SENT_LEN):

    - recall: every doc pair sharing ANY 12-token stride-1 window must
      also share an aligned sentence on this corpus (duplicated spans
      in the driver testdata are offset-aligned, so the pigeonhole
      holds empirically; assert >= 0.95 so a segmentation bug — wrong
      stride, dropped tail — fails loudly);
    - precision: every shared FULL-LENGTH sentence IS a stride-1 window
      by construction, so full-sentence pairs ⊆ window pairs EXACTLY
      (shorter trailing segments may legitimately pair docs the window
      form cannot see — they are the tail-boilerplate catches)."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.dedup_q import _SENT_LEN
    from olympic_athletes_etl_spark.plans.tables import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ", -1).alias("toks")
    )
    sent = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(toks)/{_SENT_LEN}.0) AS INT) - 1),"
                f" i -> named_struct("
                f"'h', md5(CAST(array_join(slice(toks, i*{_SENT_LEN}+1, {_SENT_LEN}), ' ') AS BINARY)),"
                f" 'l', size(slice(toks, i*{_SENT_LEN}+1, {_SENT_LEN}))))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.h").alias("h"), F.col("e.l").alias("l"))
    win = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {_SENT_LEN} THEN"
                f" transform(sequence(1, size(toks) - {_SENT_LEN} + 1),"
                f" s -> md5(CAST(array_join(slice(toks, s, {_SENT_LEN}), ' ') AS BINARY)))"
                f" ELSE CAST(array() AS ARRAY<STRING>) END"
            )
        ).alias("h"),
    )

    def pairs(df):
        a = df.select(F.col("doc_id").alias("x"), "h")
        b = df.select(F.col("doc_id").alias("y"), "h")
        return {
            (r["x"], r["y"])
            for r in a.join(b, "h")
            .filter(F.col("x") < F.col("y"))
            .select("x", "y")
            .distinct()
            .collect()
        }

    spairs = pairs(sent.select("doc_id", "h"))
    fullpairs = pairs(sent.filter(F.col("l") == _SENT_LEN).select("doc_id", "h"))
    wpairs = pairs(win)
    assert len(wpairs) > 0  # vacuous yardstick proves nothing
    assert fullpairs <= wpairs  # aligned full segment ⇒ stride-1 window
    recall = len(spairs & wpairs) / len(wpairs)
    assert recall >= 0.95, f"sentence recall {recall:.3f} < 0.95"
