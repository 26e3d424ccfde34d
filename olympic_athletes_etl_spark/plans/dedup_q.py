"""Deduplication operators over ``documents`` / ``embeddings``.

Training-data-pipeline dedup, each as a correctness-gated query:

- exact dedup        — md5 hash-groupBy (d_exact_dup)
- n-gram Jaccard     — bigram-shingle inverted-index pair join (d_ngram_jaccard)
- MinHash + LSH      — shingle→minhash→band→bucket-join (d_minhash_lsh)
- SimHash            — 16/60-bit signatures + banded hamming pairs
                       (d_simhash, d_simhash_wide, d_simhash_banded)
- embedding near-dup — banded hyperplane-LSH candidates + cosine verify
                       (d_embedding_neardup)
- composed pipeline  — LSH → exact-Jaccard verify → connected components
                       (d_neardup_pipeline); cluster ids (d_dup_clusters)
- decontamination    — train×eval shingle overlap (d_contamination)
- stored postings    — batch-vs-persisted-corpus near-dup screening
                       (d_neardup_stored; lsh_postings_store/load —
                       the per-ingestion-batch form: the corpus is a
                       band-partitioned postings read, never re-hashed)

Scale notes: everything is expressed as explode → hash-aggregate → equi-join,
so the shuffles key on (shingle) or (band, signature) — exactly the keys
that stay well-distributed at 100 TB. Every REGISTERED query generates
pairs only from band/bucket collisions — never a full cross product. The
all-pairs forms (d_simhash_pairs, d_embedding_neardup_allpairs) are
deliberately unregistered recall yardsticks used by
tests/test_dedup_recall.py.

All hashes are integer-only polynomial hashes (bit-identical in DuckDB),
so every query here has a full value-hash oracle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.operators.store import GenStore, TableSpec
from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load
from olympic_athletes_etl_spark.plans.textstats import polyhash_duck

_P = 1_000_000_007

# (k, a, b) parameters of the k-th minhash permutation h_k(x) = (a*x+b) mod P.
_MINHASH_PARAMS = [(k, 37 + 2 * k, (1_000_003 * k) % _P) for k in range(8)]

# --- shared shingling (word bigrams, distinct per doc, pre-hashed) ---------
# Two measured optimizations baked in:
# 1. the token array is materialized in a projection first — re-splitting
#    text inside a lambda is O(tokens²) char work (16s → 2s at sf0.1);
# 2. shingles never materialize as strings: each TOKEN is polyhashed once
#    and a bigram's hash is the integer combine (h_i·131 + h_{i+1}) mod P
#    — halves the char work and explodes 8-byte ints instead of ~25-char
#    strings (shuffle bytes drop accordingly). DuckDB computes the
#    identical combine, so every downstream value still hash-matches.
_TOKHASH_SPARK = (
    "transform(split(text, '\\\\s+'),"
    " t -> aggregate(split(t, ''), CAST(0 AS BIGINT),"
    " (acc, c) -> (acc * 31 + ascii(c)) % 1000000007))"
)
_BIGRAM_H_SPARK = (
    "CASE WHEN size(th) >= 2 THEN array_distinct("
    "transform(sequence(0, size(th) - 2),"
    " i -> (element_at(th, i + 1) * 131 + element_at(th, i + 2)) % 1000000007))"
    " ELSE CAST(array() AS ARRAY<BIGINT>) END"
)
_TOKHASH_DUCK = (
    "list_transform(regexp_split_to_array(text, '\\s+'),"
    f" t -> {polyhash_duck('t')})"
)


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, hs) — each document's distinct hashed word bigrams as one
    array, from any frame with (doc_id, text)."""
    return docs.select(
        "doc_id", F.expr(_TOKHASH_SPARK).alias("th")
    ).select("doc_id", F.expr(_BIGRAM_H_SPARK).alias("hs"))


def shingle_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h) — distinct hashed word bigrams per document, from any
    frame with (doc_id, text). Frame-based so streaming micro-batches
    (streaming/pipeline.py:stream_neardup_screen) reuse the exact
    signature definition the batch queries and oracles pin.

    Explodes the bigram expression itself, never shingle_sets' ``hs``
    column: over a column, Catalyst infers ``size(hs) > 0`` from the
    explode and pushes it below both projections, inlining the
    tokenizer into every ``element_at`` of the bigram lambda (measured
    0.7 s -> 34 s on a tier-1 test at sf0.001). A checkpointed ``hs``
    (d_neardup_pipeline) has no projection left to inline."""
    return docs.select(
        "doc_id", F.expr(_TOKHASH_SPARK).alias("th")
    ).select("doc_id", F.explode(F.expr(_BIGRAM_H_SPARK)).alias("h"))


def _spread_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``documents`` table spread_on doc_id (tables.spread, guide
    §2.5): the bench layout's single-row-group file would pin the
    tokenize+hash derivation to ONE populated scan task for every
    consumer; a no-op on any layout that splits."""
    return load(spark, sf_dir, "documents", spread_on="doc_id")


def _doc_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h) over the ``documents`` table — see shingle_hashes.

    Multi-consumer plans (d_ngram_jaccard reads this 4×) share the
    spread's exchange via ReuseExchange, but NOT the tokenize projection
    above it: every consumer re-tokenizes above the shared shuffle read
    (a verify + cluster plan reading this frame 3× tokenized in 4
    places of its final sf0.01 plan). A plan that reads the shingles
    more than once and can afford one eager job materializes
    shingle_sets instead (d_neardup_pipeline). Layout-invariance: every
    consumer aggregates exactly (counts, integer min-hashes, ±1 bit
    votes) or joins on set-shaped output — no result bit depends on
    partitioning."""
    return shingle_hashes(_spread_documents(spark, sf_dir))


_SHINGLE_HASHES_DUCK = f"""
    SELECT doc_id,
           unnest(list_distinct(list_transform(range(1, len(th)),
             i -> (th[i] * 131 + th[i + 1]) % 1000000007))) AS h
    FROM (SELECT doc_id, {_TOKHASH_DUCK} AS th FROM documents) __th
"""


# --------------------------------------------------------------------------
# Exact dedup — hash groupBy
# --------------------------------------------------------------------------
@query(
    "d_exact_dup",
    oracle="""
    SELECT md5(text) AS content_hash, count(*) AS n_docs,
           min(doc_id) AS canonical_doc
    FROM documents GROUP BY 1
    """,
)
def d_exact_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: group on md5(text), keep the min
    doc_id as canonical representative. One hash-aggregate shuffle keyed
    on the digest — uniform by construction, no skew at any scale."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


# --------------------------------------------------------------------------
# n-gram Jaccard — inverted-index pair join
# --------------------------------------------------------------------------
# Stop-shingle cap: a shingle present in ≥ min(frac·corpus, absolute)
# documents is dropped from the index AND the size denominators (jaccard
# over the capped shingle space — standard stop-shingle removal
# semantics). TWO limbs because pair-generation cost per shingle is df²,
# an ABSOLUTE quantity: the fractional limb alone leaves mid-frequency
# shingles whose df² explodes as the corpus grows (the r11 sf1 sweep hit
# exactly that — a tiny-vocabulary corpus where every shingle sits below
# 25% yet df ~ 1000). The absolute limb is the posting-list length cap
# of the similarity-join literature (PPJoin et al.): a shingle shared by
# >500 documents identifies boilerplate, not near-duplication, at any
# corpus size. At ≤2000 docs (the sf0.01 driver gate and every test
# fixture) the fractional limb is the smaller one, so gated results are
# bit-identical to the single-limb form.
_HOT_DF_FRAC = 0.25
_HOT_DF_ABS = 500


@query(
    "d_ngram_jaccard",
    oracle=f"""
    WITH shingles0 AS ({_SHINGLE_HASHES_DUCK}),
    hot AS (
      SELECT h FROM shingles0 GROUP BY h
      HAVING count(*) >= least({_HOT_DF_FRAC} * (SELECT count(*) FROM documents), {_HOT_DF_ABS})
    ),
    shingles AS (
      SELECT * FROM shingles0 WHERE h NOT IN (SELECT h FROM hot)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM shingles a JOIN shingles b
        ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
    """,
)
def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-set Jaccard near-dup pairs via inverted index: explode
    shingles, self-equi-join on the shingle (shuffle keyed on shingle —
    never a cross product), count shared, |A∪B| = |A|+|B|-shared. The
    0.5 threshold gates output to true near-dups.

    Hot-shingle cap (the 100 TB skew guard): a stop-shingle appearing in
    df documents makes the self-join emit O(df²) rows for that key — at
    corpus scale "of the" alone is quadratic death. Shingles with
    df ≥ 25% of the corpus are removed up front via a BROADCAST anti-join.
    The hot set is small by a counting bound: total shingle occurrences
    ≤ n_docs · avg_shingles_per_doc, so at most avg_shingles_per_doc/frac
    distinct shingles can each appear in ≥ frac·n_docs documents (e.g.
    ~4000 at 1000 shingles/doc, frac 0.25) — broadcast-sized, independent
    of corpus row count, so the guard costs one map-side pass with no
    extra shuffle on the big side. Sizes are computed after the cap, so
    jaccard is over the capped shingle space on both engines.

    The join keys on the 8-byte shingle HASH, not the string — shuffle
    volume is fixed per shingle regardless of shingle length.

    Four consumers read the shingle table (hot-set, sizes, both self-join
    sides) and Spark recomputes the projection for each — measured at
    sf0.1, that is FASTER (15-16 s) than materializing the table once via
    localCheckpoint (16-18 s): the recomputed projection pipelines into
    each consumer's codegen stage while a checkpoint pays serialization
    and breaks pipelining. At 100 TB the calculus flips only if shingling
    cost dominates the join — then persist a bucketed shingle table
    shared by the whole dedup suite."""
    shingles_all = _doc_shingle_hashes(spark, sf_dir)
    n_docs = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    hot = (
        shingles_all.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            >= F.least(_HOT_DF_FRAC * F.col("n_total"), F.lit(_HOT_DF_ABS))
        )
        .select("h")
    )
    shingles = shingles_all.join(F.broadcast(hot), "h", "left_anti")
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("c").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("c"))
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH — signature, banding, bucket join
# --------------------------------------------------------------------------
def _minhash_values_sql() -> str:
    rows = ", ".join(f"({k}, {a}, {b})" for k, a, b in _MINHASH_PARAMS)
    return f"(VALUES {rows}) AS perm(k, a, b)"


def _minhash_band_ctes() -> str:
    """Signature→bands CTE chain (expects a ``hashed`` CTE in scope;
    yields ``bands(doc_id, band, sig0, sig1)``). Single source of truth
    for every minhash-banded oracle — d_minhash_lsh / d_neardup_pipeline
    (via _minhash_cand_ctes) and d_neardup_stored's batch-vs-corpus
    probe — so a parameter/banding edit can't desynchronize them."""
    return f"""mh AS (
      SELECT doc_id, k, min((a * h + b) % {_P}) AS mh
      FROM hashed CROSS JOIN {_minhash_values_sql()}
      GROUP BY doc_id, k
    ),
    bands AS (
      SELECT doc_id, k // 2 AS band,
             min(CASE WHEN k % 2 = 0 THEN mh END) AS sig0,
             min(CASE WHEN k % 2 = 1 THEN mh END) AS sig1
      FROM mh GROUP BY 1, 2
    )"""


def _minhash_cand_ctes() -> str:
    """Band chain + the self-join candidate stage (yields
    ``cand(doc_a, doc_b)``) — see _minhash_band_ctes."""
    return f"""{_minhash_band_ctes()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig0 = b.sig0 AND a.sig1 = b.sig1
       AND a.doc_id < b.doc_id
    )"""


def _minhash_bands(hashed: DataFrame) -> DataFrame:
    """(doc_id, band, sig0, sig1) — the banded minhash signature rows,
    factored for d_minhash_lsh (self-join) and the stored-postings path
    (d_neardup_stored). One shuffle: all 8 permutation-mins as aggregate
    columns (map-side partial mins), instead of exploding 8× rows per
    shingle.

    MEASURED REJECTION (sf0.1, median-of-3): the tempting "shuffle-free"
    per-row form — array_min(transform(hs, h -> (a·h+b)%P)) over the
    bigram ARRAY, no explode, no groupBy — runs 54.8 s vs 1.03 s here
    (identical 157 998 output pairs). Catalyst's projection collapse
    inlines the whole shingle-construction expression into each of the
    8 lambdas (no common-subexpression elimination across higher-order
    functions), so tokenization+hashing runs 8× per row. The explode
    materializes shingles ONCE and the groupBy's partial aggregation
    keeps the shuffle tiny — at any scale this plan wins unless the
    array form's input is pre-materialized, which costs the same
    shuffle it saves."""
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % _P).alias(f"mh{k}")
            for k, a, b in _MINHASH_PARAMS
        ]
    )
    n_bands = len(_MINHASH_PARAMS) // 2
    stack_args = ", ".join(
        f"{bnd}, mh{2 * bnd}, mh{2 * bnd + 1}" for bnd in range(n_bands)
    )
    return sig.select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, sig0, sig1)"),
    )


@query(
    "d_minhash_lsh",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()}
    SELECT doc_a, doc_b FROM cand
    """,
)
def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: shingle → 8 minhashes (h_k = (a_k·x+b_k)
    mod P) → 4 bands × 2 rows → docs colliding in any band. Shuffles key
    on (shingle) then (band, sig0, sig1); the band join only ever
    compares docs inside a bucket — the whole point of LSH at scale.
    Candidates feed d_ngram_jaccard-style verification in production."""
    return _band_pairs(_minhash_bands(_doc_shingle_hashes(spark, sf_dir)))


def _band_pairs(bands: DataFrame) -> DataFrame:
    """DISTINCT (doc_a, doc_b), doc_a < doc_b: the docs of ``bands``
    (_minhash_bands rows) sharing any (band, sig0, sig1) bucket — the
    band self-join of d_minhash_lsh and d_neardup_pipeline."""
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig0") == F.col("b.sig0"))
            & (F.col("a.sig1") == F.col("b.sig1"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )


# --------------------------------------------------------------------------
# SimHash — 16-bit signature + hamming-distance pairs
# --------------------------------------------------------------------------
_SIMHASH_DUCK = f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hashed CROSS JOIN (SELECT unnest(range(16)) AS b)
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           -- CAST: DuckDB widens integer sum() to HUGEINT (int128); the
           -- driver's hasher renders HUGEINT differently from BIGINT, so
           -- narrow losslessly (16-bit value) to match Spark's bigint.
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): per-bit ±1 vote over shingle hashes, bit set
    where the vote is positive. 16 bits keeps the bits×shingles explode
    bounded; production would use 64 and the same plan."""
    hashed = _doc_shingle_hashes(spark, sf_dir)
    # One shuffle: per-bit ±1 votes as 16 aggregate columns (map-side
    # partial sums), then assemble the signature arithmetically.
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    simhash = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("bigint").alias("simhash"))


@query("d_simhash", oracle=_SIMHASH_DUCK)
def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (integer-exact oracle)."""
    return _simhash_df(spark, sf_dir)


def d_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs SimHash hamming ≤ 2 — DELIBERATELY UNREGISTERED. The
    O(n²) self-join is a recall yardstick only: d_simhash_banded is the
    registered query and produces the identical answer from an equi-join
    (pigeonhole ⇒ recall 1.0), which tests/test_dedup_recall.py asserts
    against this function. Never ship an all-pairs join as the query."""
    sh = _simhash_df(spark, sf_dir)
    a = sh.alias("a")
    b = sh.alias("b")
    hamming = F.expr("bit_count(a.simhash ^ b.simhash)")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(hamming <= 2)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
    )


# --------------------------------------------------------------------------
# Embedding near-dup — banded hyperplane-LSH candidates + cosine verify
# --------------------------------------------------------------------------
_EMB_DIM = 64
_EMB_THRESHOLD = 0.45
_NB_BANDS = 8
_NB_ROWS = 2  # planes per band; 16 sign bits total

# plane(p, d) weight — integers in [-998, 998], deterministic in (p, d);
# same construction as similarity_q's ANN planes (see the _PLANE_W note
# there: the d² term decorrelates consecutive planes, which for BANDED
# LSH keeps the bands independent — correlated bands agree together and
# inflate the candidate volume without adding recall).
_NB_PLANE_W = "(((({p} + 1) * (d * d * 31 + d * 7919 + 1) + {p} * {p} * 104729) % 1997) - 998)"
_DOT_D = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
)


def _nb_band_val_spark(band: int) -> str:
    """2-bit band value: sign bits of the band's two plane dot products."""
    bits = []
    for j in range(_NB_ROWS):
        p = band * _NB_ROWS + j
        plane = (
            f"transform(sequence(0, {_EMB_DIM - 1}),"
            f" d -> CAST({_NB_PLANE_W.format(p=p)} AS DOUBLE))"
        )
        dot = _DOT_D.format(a="v", b=plane)
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def _nb_band_val_duck(band: int) -> str:
    bits = []
    for j in range(_NB_ROWS):
        p = band * _NB_ROWS + j
        plane = (
            f"list_transform(range(0, {_EMB_DIM}),"
            f" d -> CAST({_NB_PLANE_W.format(p=p)} AS DOUBLE))"
        )
        bits.append(
            f"(CASE WHEN list_dot_product(v, {plane}) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(bits)


def _emb_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    return emb.withColumn("nrm", F.sqrt(F.expr(_DOT_D.format(a="v", b="v"))))


# Corpus-sized banding (r13, replacing the fixed 2-bit form that is
# Θ(n²/4) regardless of data — the r12 sf10 disk-fill): bits-per-band
# follow the bucket rule r = ceil(log2(n / 64)) clamped to [2, 16], so
# expected RANDOM bucket size stays ~64 at any corpus size; bands follow
# the 99%-recall-at-threshold rule b(r) = ceil(ln .01 / ln(1 − p^r))
# with p = 1 − acos(0.45)/π ≈ 0.6485, PRECOMPUTED as integers (both
# engines must derive bit-identical parameters, so no float/libm calls
# at plan time) and capped at 32 bands: past n ≈ 2¹⁶·64 the at-threshold
# guarantee relaxes toward higher-similarity pairs (where recall only
# improves) — the volume/recall trade every LSH deployment makes.
_NB_TARGET_BUCKET = 64
_NB_MIN_BITS = 2
_NB_MAX_BITS = 16
_NB_MAX_BANDS = 32
_NB_B99 = {2: 9, 3: 15, 4: 24}  # r -> b for 99% at cos 0.45; r >= 5 caps at 32
# Broadcast the verify sides only while the measured corpus is bounded
# (~160 MB of vectors at this cap); a cluster-scale corpus falls back to
# the planner's choice — never a blind hint on an SF-scaled table.
_NB_BCAST_MAX_N = 300_000


def _nb_params(n: int) -> tuple[int, int]:
    """(bits_per_band, bands) for a corpus of ``n`` vectors — integer
    arithmetic only (``bit_length`` is exactly ceil(log2) here), mirrored
    by the integer CASE ladders in the oracle SQL."""
    r = min(_NB_MAX_BITS, max(_NB_MIN_BITS, ((max(n, 1) - 1) // _NB_TARGET_BUCKET).bit_length()))
    return r, min(_NB_MAX_BANDS, _NB_B99.get(r, _NB_MAX_BANDS))


def _nb_plane_w_py(p: int, d: int) -> int:
    """Python mirror of _NB_PLANE_W (same integer formula; pinned against
    the SQL form by tests/test_dedup_recall.py)."""
    return (((p + 1) * (d * d * 31 + d * 7919 + 1) + p * p * 104729) % 1997) - 998


def _nb_adaptive_oracle() -> str:
    p_expr = "(band * r + j)"
    w = _NB_PLANE_W.format(p=p_expr)
    plane = f"list_transform(range(0, {_EMB_DIM}), d -> CAST({w} AS DOUBLE))"
    r_ladder = " ".join(
        f"WHEN n <= {_NB_TARGET_BUCKET * (1 << k)} THEN {k}"
        for k in range(_NB_MIN_BITS, _NB_MAX_BITS)
    )
    b_ladder = " ".join(f"WHEN r = {r} THEN {b}" for r, b in sorted(_NB_B99.items()))
    return f"""
    WITH nn AS (SELECT count(*) AS n FROM embeddings),
    pp AS (
      SELECT r, CASE {b_ladder} ELSE {_NB_MAX_BANDS} END AS b
      FROM (SELECT CASE {r_ladder} ELSE {_NB_MAX_BITS} END AS r FROM nn)
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), banded AS (
      SELECT vec_id, band,
             list_sum(list_transform(range(0, r),
               j -> CASE WHEN list_dot_product(v, {plane}) > 0
                         THEN (1 << j) ELSE 0 END)) AS band_val
      FROM n, pp, (SELECT unnest(range({_NB_MAX_BANDS})) AS band) bands
      WHERE band < b
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
      FROM banded a JOIN banded b2
        ON a.band = b2.band AND a.band_val = b2.band_val
       AND a.vec_id < b2.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4) AS cos_sim
    FROM cand c
    JOIN n na ON na.vec_id = c.vec_a
    JOIN n nb ON nb.vec_id = c.vec_b
    WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= {_EMB_THRESHOLD}
    """


@query("d_embedding_neardup", oracle=_nb_adaptive_oracle())
def d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.45), candidate-then-
    verify with CORPUS-SIZED banding: r = ceil(log2(n/64)) sign bits per
    band (so random-pair bucket sizes stay ~64 at any n — the r12 sf10
    lesson: fixed-width bands have Θ(n²/2^bits) bucket density no matter
    the data), b = min(32, b99(r)) bands holding ≈99% recall at the
    threshold up to the 32-band cap. Candidates come from an equi-join
    on (band, band_val) — never a cross product — then exact-cosine
    verification. Parameters derive from one count() by pure integer
    rules mirrored in the oracle's CASE ladders (a real deployment would
    read n from table stats instead of a count job).

    Hashing is one mapInPandas pass: numpy accumulates the plane dot
    products dimension-by-dimension in float64 — the SAME left-fold
    order as the engine-side aggregate/zip_with and DuckDB's
    list_dot_product, so sign bits are bit-identical cross-engine
    (pinned by tests/test_dedup_recall.py). The candidate join carries
    only (vec_id, band, band_val); vectors are re-attached for
    verification by id, broadcast only while the measured corpus is
    bounded (<= {_NB_BCAST_MAX_N} vectors).

    The survey's fixed 2-bit form lives on unregistered as
    d_embedding_neardup_fixed2 (small-corpus yardstick), next to the
    all-pairs yardstick d_embedding_neardup_allpairs; recall of THIS
    banding vs all-pairs is pinned by tests/test_dedup_recall.py."""
    n_df = _emb_norm(spark, sf_dir)
    n_vec = n_df.count()
    r, b = _nb_params(n_vec)
    dim = _EMB_DIM
    planes = [
        [float(_nb_plane_w_py(p, d)) for d in range(dim)] for p in range(b * r)
    ]

    def _hash_bands(batches):
        import numpy as np
        import pandas as pd

        pl = np.asarray(planes, dtype=np.float64)  # (b*r) x dim
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.array(pdf["v"].tolist(), dtype=np.float64)  # rows x dim
            acc = np.zeros((len(pdf), pl.shape[0]), dtype=np.float64)
            for d in range(dim):  # sequential over dims == the fold order
                acc += vm[:, d, None] * pl[None, :, d]
            bits = acc > 0.0
            vals = np.zeros((len(pdf), b), dtype=np.int64)
            for band in range(b):
                for j in range(r):
                    vals[:, band] |= bits[:, band * r + j].astype(np.int64) << j
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), b),
                    "band": np.tile(np.arange(b, dtype=np.int32), len(pdf)),
                    "band_val": vals.reshape(-1),
                }
            )

    banded = n_df.select("vec_id", "v").mapInPandas(
        _hash_bands, "vec_id long, band int, band_val long"
    )
    a = banded.alias("a")
    b2 = banded.alias("b")
    cand = (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates()
    )
    na = n_df.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("nrm_a")
    )
    nb = n_df.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nrm_b")
    )
    if n_vec <= _NB_BCAST_MAX_N:
        na, nb = F.broadcast(na), F.broadcast(nb)
    cos = F.expr(_DOT_D.format(a="va", b="vb")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _EMB_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim"))
    )


_UNREGISTERED_FIXED2_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    ), bv AS (
      SELECT vec_id,
             {", ".join(f"{_nb_band_val_duck(i)} AS bv{i}" for i in range(_NB_BANDS))}
      FROM n
    ), banded AS (
      SELECT vec_id, band,
             CASE band {" ".join(f"WHEN {i} THEN bv{i}" for i in range(_NB_BANDS))} END
               AS band_val
      FROM bv CROSS JOIN (SELECT unnest(range({_NB_BANDS})) AS band)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    )
    SELECT c.vec_a, c.vec_b,
           round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 4) AS cos_sim
    FROM cand c
    JOIN n na ON na.vec_id = c.vec_a
    JOIN n nb ON nb.vec_id = c.vec_b
    WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= {_EMB_THRESHOLD}
    """


def d_embedding_neardup_fixed2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELIBERATELY UNREGISTERED small-corpus yardstick: the survey's
    original fixed 16-bit/8×2-band form of d_embedding_neardup. A FIXED
    2-bit band has only 4 values, so bucket density is Θ(n²/4) per band
    regardless of data — at 200k vectors (r12 sf10) the candidate join
    explodes engine-side. The registered query now sizes bits-per-band
    from the corpus; this form remains as the recall/equivalence
    yardstick at test scale (its DuckDB mirror is
    _UNREGISTERED_FIXED2_ORACLE)."""
    n = _emb_norm(spark, sf_dir)
    band_entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(_nb_band_val_spark(i)).alias("band_val"),
            )
            for i in range(_NB_BANDS)
        ]
    )
    banded = n.select(
        "vec_id", F.explode(band_entries).alias("e")
    ).select("vec_id", F.col("e.band").alias("band"), F.col("e.band_val").alias("band_val"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .dropDuplicates()
    )
    na = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("nrm_a")
    )
    nb = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nrm_b")
    )
    cos = F.expr(_DOT_D.format(a="va", b="vb")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        cand.join(na, "vec_a")
        .join(nb, "vec_b")
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _EMB_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim"))
    )


def d_embedding_neardup_allpairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ 0.45 — DELIBERATELY UNREGISTERED recall
    yardstick for d_embedding_neardup (O(n²) BroadcastNestedLoopJoin;
    fine on a test table, a scale-killer as a real query)."""
    n = _emb_norm(spark, sf_dir)
    a = n.alias("a")
    b = n.alias("b")
    dot_ab = F.expr(_DOT_D.format(a="a.v", b="b.v"))
    cos = dot_ab / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") >= _EMB_THRESHOLD)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("cos_raw", 4).alias("cos_sim"),
        )
    )


@query(
    "d_simhash_banded",
    oracle=f"""
    WITH sh AS ({_SIMHASH_DUCK}),
    banded AS (
      SELECT doc_id, simhash, b AS band, (simhash >> (b * 4)) & 15 AS band_val
      FROM sh CROSS JOIN (SELECT unnest(range(4)) AS b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
                      b.doc_id AS doc_b, b.simhash AS sh_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 2
    """,
)
def d_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production-shape SimHash near-dup join: 4×4-bit bands — any
    pair within hamming ≤ 2 differs in ≤ 2 bands, so it MUST collide on
    ≥ 2 of 4 bands (pigeonhole ⇒ banding here has recall 1.0, unlike
    probabilistic MinHash banding). Candidates come from a band-equality
    HASH join (shuffle keyed on (band, band_val)); the hamming filter
    verifies. Same output as the O(n²) d_simhash_pairs baseline — the
    plan, not the answer, is what changes at 100 TB."""
    sh = _simhash_df(spark, sf_dir)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).withColumn("band_val", F.expr("(simhash >> (band * 4)) & 15"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates()
    )
    hamming = F.expr("bit_count(sh_a ^ sh_b)")
    return (
        cand.filter(hamming <= 2)
        .select("doc_a", "doc_b", hamming.alias("hamming"))
    )


# --------------------------------------------------------------------------
# Wide SimHash (60-bit) — production parameterization of d_simhash
# --------------------------------------------------------------------------
# The 30-bit polyhash is widened to 60 bits by multiplicative mixing so
# every signature bit carries signal; 60 (not 64) keeps the accumulator
# clear of the bigint sign bit in BOTH engines.
_WIDE_H = "(h * 2654435761) & ((CAST(1 AS BIGINT) << 60) - 1)"
_N_WIDE_BITS = 60


@query(
    "d_simhash_wide",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    wide AS (SELECT doc_id, {_WIDE_H} AS wh FROM hashed),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (wh >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM wide CROSS JOIN (SELECT unnest(range({_N_WIDE_BITS})) AS b)
      GROUP BY doc_id, b
    )
    SELECT doc_id,
           -- CAST: DuckDB integer sum() widens to HUGEINT; narrow losslessly
           -- (60-bit value) so the driver hashes it identically to Spark.
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def d_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash — the production-width signature (d_simhash's 16
    bits exist to keep its oracle's bits×shingles explode cheap; this is
    the same single-shuffle plan at full width: 60 ±1-vote aggregate
    columns with map-side partial sums, signature assembled
    arithmetically). Pairs/banding compose exactly as d_simhash_banded,
    with 15 4-bit bands giving recall 1.0 for hamming ≤ 3."""
    wide = _doc_shingle_hashes(spark, sf_dir).select(
        "doc_id", F.expr(_WIDE_H.replace("h", "h", 1)).alias("wh")
    )
    votes = wide.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(wh >> {b}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_N_WIDE_BITS)
        ]
    )
    simhash = None
    for b in range(_N_WIDE_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("bigint").alias("simhash"))


# --------------------------------------------------------------------------
# Dedup clusters — connected components over MinHash candidate pairs
# --------------------------------------------------------------------------
def _closure_ctes(pairs_cte: str = "cand") -> str:
    """Shared transitive-closure CTE chain (expects ``{pairs_cte}(doc_a,
    doc_b)`` in scope; yields ``comp(doc_id, cluster)``). Single source
    of truth for every cluster-producing oracle (d_dup_clusters,
    d_neardup_pipeline's tail, d_cluster_canonical) — same rationale as
    _minhash_cand_ctes: a closure edit can't desynchronize them."""
    return f"""sym AS (
      SELECT doc_a AS a, doc_b AS b FROM {pairs_cte}
      UNION SELECT doc_b, doc_a FROM {pairs_cte}
    ),
    reach(v, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, reach.r FROM sym s JOIN reach ON reach.v = s.b
    ),
    comp AS (SELECT v AS doc_id, min(r) AS cluster FROM reach GROUP BY v)"""


def _intersection_ctes() -> str:
    """Shared exact-intersection CTEs (expects ``hashed`` and ``cand`` in
    scope; yields ``sizes(doc_id, n)`` and ``shared(doc_a, doc_b, i)``).
    Single source of truth for every candidate-verification oracle
    (d_neardup_pipeline, d_jaccard_histogram, d_containment_pairs) —
    same rationale as _minhash_cand_ctes/_closure_ctes: an intersection-
    semantics edit cannot desynchronize the three."""
    return '''sizes AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY 1),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN hashed ha ON ha.doc_id = c.doc_a
      JOIN hashed hb ON hb.doc_id = c.doc_b AND hb.h = ha.h
      GROUP BY 1, 2
    )'''


def _candidate_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, i, na, nb) for every MinHash-LSH candidate pair:
    shared-shingle count plus both docs' shingle-set sizes — the common
    input to Jaccard (i/(na+nb-i)) and containment (i/min(na,nb))
    scoring. Spark twin of _intersection_ctes, factored for the same
    no-drift reason; cost is candidate-bounded (the joins key on doc id
    and shingle hash, never a cross product)."""
    cand = d_minhash_lsh(spark, sf_dir)
    hashed = _doc_shingle_hashes(spark, sf_dir)
    sizes = hashed.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ha = hashed.select(F.col("doc_id").alias("doc_a"), "h")
    hb = hashed.select(F.col("doc_id").alias("b_id"), F.col("h").alias("hb"))
    shared = (
        cand.join(ha, "doc_a")
        .join(hb, (F.col("doc_b") == F.col("b_id")) & (F.col("h") == F.col("hb")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return shared.join(sa, "doc_a").join(sb, "doc_b")


@query(
    "d_dup_clusters",
    oracle=f"""
    WITH RECURSIVE hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()},
    {_closure_ctes()}
    SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
)
def d_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-LSH
    candidate graph via iterative min-label propagation
    (operators/graph.py) — the one genuinely iterative algorithm on the
    surface. The DuckDB oracle computes the same components with a
    recursive transitive-closure CTE (fine at test scale; the iterative
    join is the form that scales). Singleton documents cluster as
    themselves; the cluster id doubles as the canonical doc id."""
    from olympic_athletes_etl_spark.operators.graph import dedup_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = d_minhash_lsh(spark, sf_dir)
    return dedup_clusters(docs, pairs, id_col="doc_id")


@query(
    "d_dup_clusters_star",
    oracle=f"""
    WITH RECURSIVE hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()},
    {_closure_ctes()}
    SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
)
def d_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d_dup_clusters via the LARGE-STAR/SMALL-STAR connected-components
    form (operators/graph.py:connected_components_star, Kiveris et al.)
    — identical output (same oracle as d_dup_clusters), different
    iteration: O(log² n) rounds instead of O(diameter), the 100 TB path
    when the candidate graph's diameter is unbounded (deep near-dup
    chains, kNN graphs). Registering it separately puts the scale path
    itself under the driver's hash gate rather than only under the
    equivalence tests in test_graph."""
    from olympic_athletes_etl_spark.operators.graph import dedup_clusters

    docs = load(spark, sf_dir, "documents")
    pairs = d_minhash_lsh(spark, sf_dir)
    return dedup_clusters(docs, pairs, id_col="doc_id", method="star")


# --------------------------------------------------------------------------
# The composed near-dup pipeline: candidates → verify → cluster
# --------------------------------------------------------------------------
_VERIFY_JACCARD = 0.5


@query(
    "d_neardup_pipeline",
    oracle=f"""
    WITH RECURSIVE hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()},
    {_intersection_ctes()},
    verified AS (
      SELECT s.doc_a, s.doc_b
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.doc_a
      JOIN sizes sb ON sb.doc_id = s.doc_b
      WHERE CAST(s.i AS DOUBLE) / (sa.n + sb.n - s.i) >= {_VERIFY_JACCARD}
    ),
    {_closure_ctes("verified")}
    SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
)
def d_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production near-dup shape, composed end-to-end as one query:

        MinHash-LSH candidates  →  exact-Jaccard verify  →  clusters

    0. Each doc's distinct shingle-hash set (shingle_sets: an array of
       8-byte ints) is tokenized ONCE, into one eager localCheckpoint
       of (doc_id, hs); both later stages read it, so tokenizing runs
       in one stage instead of one per consumer (set once, intersect
       many — the shape of "Highly Efficient String Similarity Search
       and Join over Compressed Indexes", ICDE 2022).
    1. Candidates from d_minhash_lsh's banded signatures over
       explode(hs) — the only pair-generating join (_band_pairs),
       equi-keyed on (band, sig0, sig1).
    2. Verification computes TRUE bigram Jaccard on candidates only:
       candidate pairs fetch the two sets by doc_id and verify in-row
       via array_intersect — per-pair cost is |set a| + |set b|, total
       cost linear in candidates, never in n².
    3. Verified pairs (jaccard ≥ 0.5) feed iterative connected
       components (operators/graph.py); every document gets a cluster
       id (min member id), singletons cluster as themselves.

    This replaces any all-pairs join: at 100 TB stage 1 prunes the pair
    space by orders of magnitude, stage 2 touches only survivors, and
    stage 3's per-round shuffle is keyed on doc ids. The DuckDB oracle
    recomputes the identical pipeline (shared-count Jaccard ≡
    array_intersect on distinct sets; recursive-CTE closure ≡ min-label
    propagation)."""
    from olympic_athletes_etl_spark.operators.graph import (
        _release_checkpoint,
        dedup_clusters,
    )

    docs = load(spark, sf_dir, "documents")
    sets = shingle_sets(_spread_documents(spark, sf_dir)).localCheckpoint(
        eager=True
    )
    cand = _band_pairs(
        _minhash_bands(sets.select("doc_id", F.explode("hs").alias("h")))
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = inter.cast("double") / (F.size("hs_a") + F.size("hs_b") - inter)
    verified = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= _VERIFY_JACCARD)
        .select("doc_a", "doc_b")
    )
    # the labels are a self-contained checkpoint once CC returns
    clusters = dedup_clusters(docs, verified, id_col="doc_id")
    _release_checkpoint(sets)
    return clusters


# --------------------------------------------------------------------------
# Benchmark decontamination — shingle-overlap semi-detection
# --------------------------------------------------------------------------
# Eval membership is a deterministic pseudo-split of the corpus (doc_id %
# 97 == 0, ~1%); production points this at the real benchmark table. A
# train doc is contaminated when it shares ≥ _CONTAM_K distinct shingles
# with any single eval doc.
_CONTAM_MOD = 97
_CONTAM_K = 10


@query(
    "d_contamination",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    hot AS (
      SELECT h FROM hashed GROUP BY h
      HAVING count(*) >= least({_HOT_DF_FRAC} * (SELECT count(*) FROM documents), {_HOT_DF_ABS})
    ),
    sh AS (SELECT * FROM hashed WHERE h NOT IN (SELECT h FROM hot)),
    ov AS (
      SELECT t.doc_id, e.doc_id AS eval_doc, count(*) AS shared
      FROM sh t JOIN sh e ON t.h = e.h
      WHERE e.doc_id % {_CONTAM_MOD} = 0 AND t.doc_id % {_CONTAM_MOD} != 0
      GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_eval_docs,
           max(shared) AS max_overlap
    FROM ov WHERE shared >= {_CONTAM_K}
    GROUP BY doc_id
    """,
)
def d_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination detection by shingle overlap — the
    decontamination pass every pretraining pipeline runs before
    finalizing data. Inverted-index shape: both sides explode to
    (doc_id, shingle-hash), equi-join on the hash (never a cross
    product), count distinct shared shingles per (train, eval) pair,
    keep pairs sharing ≥ K. The same stop-shingle cap as d_ngram_jaccard
    kills quadratic hot keys; the eval side is ~1% of the corpus, so at
    100 TB the join's build side prunes to eval-only shingles (and with
    a real benchmark table the eval side is broadcast-sized)."""
    shingles_all = _doc_shingle_hashes(spark, sf_dir)
    n_docs = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    hot = (
        shingles_all.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            >= F.least(_HOT_DF_FRAC * F.col("n_total"), F.lit(_HOT_DF_ABS))
        )
        .select("h")
    )
    sh = shingles_all.join(F.broadcast(hot), "h", "left_anti")
    ev = sh.filter(F.col("doc_id") % _CONTAM_MOD == 0).select(
        F.col("doc_id").alias("eval_doc"), "h"
    )
    tr = sh.filter(F.col("doc_id") % _CONTAM_MOD != 0)
    ov = (
        tr.join(ev, "h")
        .groupBy("doc_id", "eval_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        ov.filter(F.col("shared") >= _CONTAM_K)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_docs"),
            F.max("shared").alias("max_overlap"),
        )
    )


# --------------------------------------------------------------------------
# MinHash Jaccard ESTIMATION on LSH candidates (sketch-only, no re-shingle)
# --------------------------------------------------------------------------
@query(
    "d_minhash_estimate",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()},
    agree AS (
      SELECT c.doc_a, c.doc_b, count(*) FILTER (ma.mh = mb.mh) AS n_agree
      FROM cand c
      JOIN mh ma ON ma.doc_id = c.doc_a
      JOIN mh mb ON mb.doc_id = c.doc_b AND mb.k = ma.k
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(n_agree AS DOUBLE) / {len(_MINHASH_PARAMS)}, 4)
             AS jaccard_est
    FROM agree
    """,
)
def d_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard ESTIMATED from the minhash sketch itself — E[fraction of
    agreeing permutation-mins] = true Jaccard — instead of re-reading
    documents for exact verification. The estimate consumes only the
    8-column signature table the LSH stage already built, so the verify
    pass costs one join on 64 bytes/doc: at 100 TB this is the cheap
    triage between 'candidates' and 'exact verify' (run exact Jaccard
    only where the estimate is near the decision threshold). Resolution
    is 1/8 with 8 permutations; widen the sketch for finer estimates —
    cost grows linearly, never touches the corpus again."""
    hashed = _doc_shingle_hashes(spark, sf_dir)
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % _P).alias(f"mh{k}")
            for k, a, b in _MINHASH_PARAMS
        ]
    )
    cand = d_minhash_lsh(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{k}").alias(f"a{k}") for k, _, _ in _MINHASH_PARAMS],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{k}").alias(f"b{k}") for k, _, _ in _MINHASH_PARAMS],
    )
    n_agree = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k, _, _ in _MINHASH_PARAMS
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                n_agree.cast("double") / len(_MINHASH_PARAMS), 4
            ).alias("jaccard_est"),
        )
    )


# --------------------------------------------------------------------------
# Exact substring-window dedup (Lee et al. 2022 style, window granularity)
# --------------------------------------------------------------------------
# Window length in tokens. Windows slide at stride 1, so a shared token
# run of length >= _SSW produces an identical window hash in both docs
# regardless of its offset in either (no alignment assumption — the
# reason suffix-style substring dedup can't use strided windows).
_SSW = 8


@query(
    "d_substring_dup",
    oracle=f"""
    WITH th AS (
      SELECT doc_id, {_TOKHASH_DUCK} AS th FROM documents
    ), w AS (
      SELECT doc_id,
             unnest(CASE WHEN len(th) >= {_SSW} THEN
               list_transform(generate_series(1, len(th) - {_SSW} + 1),
                 s -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                                     list_slice(th, s, s + {_SSW} - 1)),
                        (acc, x) -> (acc * 131 + x) % 1000000007))
             ELSE CAST([] AS BIGINT[]) END) AS wh
      FROM th
    ), nd AS (
      SELECT wh, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY 1
    )
    SELECT w.doc_id,
           count(*) AS n_windows,
           count(*) FILTER (WHERE nd.ndocs >= 2) AS n_dup_windows,
           round(CAST(count(*) FILTER (WHERE nd.ndocs >= 2) AS DOUBLE)
                 / count(*), 4) AS dup_ratio
    FROM w JOIN nd USING (wh)
    GROUP BY 1
    """,
)
def d_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup at token-window granularity (the
    ExactSubstr idea of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499 — suffix-array spans
    re-expressed as stride-1 rolling window hashes, which Spark can do
    as a pure explode → hash-aggregate). Per doc: how many of its
    8-token windows also appear verbatim in ANOTHER doc, and the dup
    ratio — the per-document evidence used to cut boilerplate and
    near-verbatim spans.

    Plan shape: tokens are polyhashed once in-row, each window hash is
    an O(window) integer fold (no string materialization), then ONE
    shuffle keyed on the window hash (uniform by construction) for the
    distinct-doc count, and a shuffle back on the hash to tag windows.
    Both shuffles key on the 8-byte hash — never on doc_id with its
    skewed per-doc window counts — so the plan survives 100 TB; the
    stride-1 fan-out (~n_tokens rows/doc) is the algorithm's required
    cardinality, carried as 16-byte rows."""
    docs = load(spark, sf_dir, "documents")
    th = docs.select("doc_id", F.expr(_TOKHASH_SPARK).alias("th"))
    wh_expr = (
        f"CASE WHEN size(th) >= {_SSW} THEN "
        f"transform(sequence(1, size(th) - {_SSW} + 1), "
        f"s -> aggregate(slice(th, s, {_SSW}), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * 131 + x) % 1000000007)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    w = th.select("doc_id", F.explode(F.expr(wh_expr)).alias("wh"))
    nd = w.groupBy("wh").agg(F.count_distinct("doc_id").alias("ndocs"))
    return (
        w.join(nd, "wh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
            F.round(
                F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("dup_ratio"),
        )
    )


# --------------------------------------------------------------------------
# Incremental dedup — new batch vs existing corpus
# --------------------------------------------------------------------------
@query(
    "d_incremental_dedup",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 400
    ),
    inc AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 400
    ),
    firsts AS (SELECT h, min(doc_id) AS doc_id FROM inc GROUP BY h)
    SELECT f.doc_id, f.h AS content_hash
    FROM firsts f
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = f.h)
    """,
)
def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (snapshot) dedup — the shape every continuously-fed
    training corpus needs: an incoming batch (doc_id >= 400 stands in)
    is deduplicated (a) within itself, keeping the first arrival per
    content hash, and (b) against the already-ingested corpus
    (doc_id < 400), via an anti-join on the hash. Both sides reduce to
    hashes BEFORE any join — the corpus side never ships text. At 100 TB
    the corpus hash store is a persisted bucketed table (sources/io.py:
    bucketed_write) so the anti-join co-locates without a shuffle on the
    corpus side; here both derive from one documents scan."""
    docs = load(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") < 400)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    firsts = (
        docs.filter(F.col("doc_id") >= 400)
        .select("doc_id", F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        firsts.join(corpus, "h", "left_anti")
        .select("doc_id", F.col("h").alias("content_hash"))
    )


# --------------------------------------------------------------------------
# Cluster canonicalization — keep the best document per near-dup cluster
# --------------------------------------------------------------------------
@query(
    "d_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()},
    {_closure_ctes()},
    labeled AS (
      SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster, d.n_chars
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ),
    best AS (
      SELECT cluster, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM labeled
    ),
    members AS (SELECT cluster, count(*) AS n_members FROM labeled GROUP BY 1)
    SELECT b.cluster, b.doc_id AS canonical_doc, b.n_chars AS canonical_chars,
           m.n_members
    FROM best b JOIN members m ON m.cluster = b.cluster
    WHERE b.rn = 1
    """,
)
def d_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup completion: after clustering (d_dup_clusters), keep ONE
    canonical document per near-dup cluster — the longest (n_chars), ties
    to the lowest doc_id — plus the member count, i.e. the survivor list
    a dedup pass actually emits. Selection is a row_number window
    partitioned by cluster (deterministic total order per partition on
    both engines — max_by would leave ties engine-defined); member counts
    ride the same shuffle key. Window state per cluster is the cluster
    size — bounded by near-dup cliques, not corpus size."""
    labeled = d_dup_clusters(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    both = labeled.join(docs, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    members = both.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_members"))
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(members, "cluster")
        .select(
            "cluster",
            F.col("doc_id").alias("canonical_doc"),
            F.col("n_chars").alias("canonical_chars"),
            "n_members",
        )
    )


# --------------------------------------------------------------------------
# Candidate-similarity histogram (dedup threshold tuning)
# --------------------------------------------------------------------------
@query(
    "d_jaccard_histogram",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()},
    {_intersection_ctes()}
    SELECT CAST(floor(CAST(s.i AS DOUBLE) / (sa.n + sb.n - s.i) * 10)
                AS BIGINT) AS jacc_decile,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    GROUP BY 1
    """,
)
def d_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity distribution over LSH CANDIDATES: exact Jaccard per
    candidate pair, bucketed into deciles — the histogram an operator
    reads to PICK the dedup threshold (where does the near-dup mass
    separate from the background?) before committing a full pass. Cost
    is bounded by the candidate set (LSH-pruned), never n²; the decile
    is floor() of the identical double on both engines (exact — round()
    would not be). Reuses the shared candidate CTEs, so a banding edit
    re-tunes the histogram automatically."""
    inter = _candidate_intersections(spark, sf_dir)
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.groupBy(F.floor(jac * 10).cast("bigint").alias("jacc_decile"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# Containment similarity over LSH candidates (superset-dup detection)
# --------------------------------------------------------------------------
@query(
    "d_containment_pairs",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_cand_ctes()},
    {_intersection_ctes()}
    SELECT s.doc_a, s.doc_b,
           round(CAST(s.i AS DOUBLE) / least(sa.n, sb.n), 4) AS containment
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE CAST(s.i AS DOUBLE) / least(sa.n, sb.n) >= 0.8
    """,
)
def d_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT similarity (|A∩B| / min(|A|,|B|)) over LSH
    candidates: a short document quoted wholesale inside a long one
    scores near 1.0 here but low on Jaccard (the union is dominated by
    the long doc) — the variant that catches quote-inclusion and
    boilerplate-wrapping duplication. Same candidate-bounded cost shape
    as d_jaccard_histogram; threshold compare on the identical double
    both engines compute from exact integer counts. Caveat documented:
    MinHash bands estimate JACCARD, so extreme size ratios can miss
    high-containment pairs at candidate stage — production adds a
    suffix-array or seed-and-extend pass (d_substring_dup) for those."""
    inter = _candidate_intersections(spark, sf_dir)
    cont = F.col("i").cast("double") / F.least("na", "nb")
    return (
        inter.filter(cont >= 0.8)
        .select("doc_a", "doc_b", F.round(cont, 4).alias("containment"))
    )


# --------------------------------------------------------------------------
# Duplication rate by source (corpus-health report)
# --------------------------------------------------------------------------
@query(
    "d_dup_rate_by_source",
    oracle="""
    WITH h AS (SELECT doc_id, source, md5(text) AS ch FROM documents),
    g AS (SELECT ch, min(doc_id) AS keep FROM h GROUP BY ch)
    SELECT h.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN h.doc_id <> g.keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dupes,
           round(CAST(sum(CASE WHEN h.doc_id <> g.keep THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS dup_rate
    FROM h JOIN g ON g.ch = h.ch
    GROUP BY 1
    """,
)
def d_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health report: per ingest source, how many documents are
    exact duplicates of an earlier doc (first arrival per hash is the
    keeper) — the number that decides which crawl feeds get demoted.
    Two digest-keyed shuffles (hash-group, join-back), then a tiny
    per-source aggregate; the text never shuffles, only (id, source,
    digest). Dup attribution is deterministic: min doc_id holds the
    canonical slot, later copies count against THEIR source."""
    docs = load(spark, sf_dir, "documents")
    h = docs.select("doc_id", "source", F.md5("text").alias("ch"))
    g = h.groupBy("ch").agg(F.min("doc_id").alias("keep"))
    is_dup = (F.col("doc_id") != F.col("keep")).cast("long")
    return (
        h.join(g, "ch")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dup).alias("n_dupes"),
            F.round(F.sum(is_dup).cast("double") / F.count(F.lit(1)), 4).alias(
                "dup_rate"
            ),
        )
    )


# --------------------------------------------------------------------------
# Per-document novelty (share of never-seen-before shingles)
# --------------------------------------------------------------------------
@query(
    "d_novelty_by_doc",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    first_seen AS (SELECT h, min(doc_id) AS first_doc FROM hashed GROUP BY h)
    SELECT h.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE f.first_doc = h.doc_id) AS BIGINT)
             AS n_novel,
           round(CAST(count(*) FILTER (WHERE f.first_doc = h.doc_id) AS DOUBLE)
                 / count(*), 4) AS novelty_ratio
    FROM hashed h JOIN first_seen f ON f.h = h.h
    GROUP BY 1
    """,
)
def d_novelty_by_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY: the share of a doc's shingles whose FIRST
    occurrence (by doc_id = ingestion order) is the doc itself — the
    marginal-content curve a corpus build watches to decide when a
    source stops adding new material (novelty → 0 means you're
    re-crawling what you have). Two shuffles: first-occurrence keyed on
    the shingle hash (min partial-aggregates map-side), then the
    per-doc roll-up keyed on doc_id. The shingle-keyed join inherits
    d_ngram_jaccard's skew note — a stop-shingle's first_seen row is
    one row here (min-aggregated), so unlike the pair self-join there
    is NO quadratic key and no hot-cap needed."""
    hashed = _doc_shingle_hashes(spark, sf_dir)
    first_seen = hashed.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        hashed.join(first_seen, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 4).alias(
                "novelty_ratio"
            ),
        )
    )


# --------------------------------------------------------------------------
# Shingle document-frequency histogram (Zipf / hot-cap diagnostic)
# --------------------------------------------------------------------------
_DF_BUCKET_SQL = """CASE WHEN df = 1 THEN 0
                 WHEN df <= 2 THEN 1
                 WHEN df <= 4 THEN 2
                 WHEN df <= 8 THEN 3
                 WHEN df <= 16 THEN 4
                 WHEN df <= 32 THEN 5
                 WHEN df <= 64 THEN 6
                 WHEN df <= 128 THEN 7
                 ELSE 8 END"""


@query(
    "d_shingle_df_histogram",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    df AS (SELECT h, count(*) AS df FROM hashed GROUP BY h)
    SELECT CAST({_DF_BUCKET_SQL} AS BIGINT) AS df_bucket,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(df) AS BIGINT) AS n_postings
    FROM df GROUP BY 1
    """,
)
def d_shingle_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency histogram of the shingle index (power-of-two
    buckets: 1, 2, 3-4, 5-8, …) — how Zipfian the corpus is, which is
    the number that justifies (or re-tunes) d_ngram_jaccard's hot-cap:
    bucket 8 holds the shingles whose self-join cost is quadratic.
    Buckets are integer CASE compares, never floor(log2(double)) — a
    last-ulp log at a power-of-two boundary would flip buckets between
    engines. One shingle-keyed aggregate (map-side partials) then a
    9-row roll-up."""
    hashed = _doc_shingle_hashes(spark, sf_dir)
    df = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        df.groupBy(F.expr(f"CAST({_DF_BUCKET_SQL} AS BIGINT)").alias("df_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("df").alias("n_postings"),
        )
    )


# --------------------------------------------------------------------------
# Fuzzy (edit-distance) matching — blocked, JVM-side levenshtein
# --------------------------------------------------------------------------
_FUZZY_MAX_DIST = 4


@query(
    "d_fuzzy_block_join",
    oracle=f"""
    WITH dim AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY 1
    ),
    b AS (
      SELECT p_name, n, string_split(p_name, ' ')[1] AS blk FROM dim
    )
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INT) AS dist,
           a.n AS n_a, c.n AS n_b
    FROM b a JOIN b c
      ON a.blk = c.blk AND a.p_name < c.p_name
     AND abs(length(a.p_name) - length(c.p_name)) <= {_FUZZY_MAX_DIST}
    WHERE levenshtein(a.p_name, c.p_name) <= {_FUZZY_MAX_DIST}
    """,
)
def d_fuzzy_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-match join (closes the reference's declared-but-unused
    rapidfuzz capability — pandas_based/requirements.txt:10): candidate
    name pairs within edit distance 4 (_FUZZY_MAX_DIST), BLOCKED by first
    token so pairs come from an equi-join on the block key, never a
    cross join (operators/fuzzy.py scale notes — Fellegi-Sunter
    blocking). Runs on the DISTINCT name dim (sub-linear by Heaps' law)
    with each name's fact-row count carried along; the length-difference
    prefilter bounds the O(len²) distance to survivors. levenshtein is
    the JVM codegen expression — identical unit-cost edit distance in
    DuckDB."""
    from olympic_athletes_etl_spark.operators.fuzzy import fuzzy_block_pairs

    part = load(spark, sf_dir, "part")
    dim = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n"))
    pairs = fuzzy_block_pairs(
        dim, "p_name", F.split(F.col("p_name"), " ").getItem(0), _FUZZY_MAX_DIST
    )
    counts_a = dim.select(F.col("p_name").alias("name_a"), F.col("n").alias("n_a"))
    counts_b = dim.select(F.col("p_name").alias("name_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(counts_a), on="name_a")
        .join(F.broadcast(counts_b), on="name_b")
        .select("name_a", "name_b", "dist", "n_a", "n_b")
    )


@query(
    "d_fuzzy_dedup",
    oracle=f"""
    WITH dim AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts FROM part GROUP BY 1
    ),
    b AS (
      SELECT p_name, n_parts, string_split(p_name, ' ')[1] AS blk FROM dim
    )
    SELECT a.p_name AS name, min(c.p_name) AS canonical, a.n_parts AS n_parts
    FROM b a JOIN b c
      ON a.blk = c.blk
     AND abs(length(a.p_name) - length(c.p_name)) <= {_FUZZY_MAX_DIST}
     AND levenshtein(a.p_name, c.p_name) <= {_FUZZY_MAX_DIST}
    GROUP BY a.p_name, a.n_parts
    """,
)
def d_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy canonicalization: every distinct name maps to the
    lexicographic min over its in-block ≤ 4-edit (_FUZZY_MAX_DIST)
    neighborhood (self included, so isolates map to themselves) — the
    merge-candidate table a curation pipeline reviews before collapsing
    variant spellings. One-hop by design (deterministic, idempotent,
    one equi-join + one hash aggregate); chains needing transitive
    closure compose d_fuzzy_block_join's pairs into d_dup_clusters'
    iterative CC. Fact rows then join back to the canonical by exact
    key — the quadratic step never touches fact scale."""
    from olympic_athletes_etl_spark.operators.fuzzy import fuzzy_canonicalize

    part = load(spark, sf_dir, "part")
    dim = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    canon = fuzzy_canonicalize(
        dim, "p_name", F.split(F.col("p_name"), " ").getItem(0), _FUZZY_MAX_DIST
    )
    return (
        canon.join(
            F.broadcast(dim.select(F.col("p_name").alias("name"), "n_parts")),
            on="name",
        ).select("name", "canonical", "n_parts")
    )


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup: cluster-blocked embedding-cosine canonical)
# --------------------------------------------------------------------------
def _semantic_dedup_oracle() -> str:
    from olympic_athletes_etl_spark.plans.similarity_q import _km_train_ctes

    ctes, _ = _km_train_ctes()
    return f"""{ctes},
    pairs AS (
      SELECT a.vec_id AS aid, min(b.vec_id) AS canon
      FROM asgF a JOIN asgF b
        ON a.list_id = b.list_id AND b.vec_id < a.vec_id
       AND list_dot_product(a.v, b.v) / (a.vnrm * b.vnrm) >= 0.45
      GROUP BY 1
    )
    SELECT a.vec_id, CAST(a.list_id AS BIGINT) AS cluster,
           coalesce(p.canon, a.vec_id) AS canonical_id,
           coalesce(p.canon, a.vec_id) <> a.vec_id AS is_dup
    FROM asgF a LEFT JOIN pairs p ON p.aid = a.vec_id"""


@query("d_semantic_dedup", oracle=_semantic_dedup_oracle())
def d_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup, SemDeDup-style (Abbas et al. 2023): embeddings are
    k-means-clustered (the shared deterministic Lloyd fit of
    s_kmeans_clusters), then exact cosine runs ONLY within a cluster and
    every vector canonicalizes to the min vec_id among its ≥0.45
    neighbors (self included). The cluster is the blocking key — the
    quadratic step is bounded by cluster width, the knob k controls
    (SemDeDup's actual scale design: more clusters → smaller blocks), and
    the pair join is an equi-join on cluster id, never a cross product.
    Same one-hop canonical convention as d_fuzzy_dedup; threshold and
    double-compare discipline shared with d_embedding_neardup (the _DOT
    fold mirrors DuckDB's list_dot_product accumulation order, so the
    ≥ compare cannot flip cross-engine)."""
    from olympic_athletes_etl_spark.plans.similarity_q import (
        _DOT,
        _km_assign_np_col,
        _km_base,
        _km_fit_for,
    )

    n = _km_base(spark, sf_dir)
    cents = _km_fit_for(spark, sf_dir)
    assigned = n.withColumn(
        "cluster", _km_assign_np_col(cents).cast("bigint")
    ).select("vec_id", "cluster", "v", "vnrm")
    a = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("aid"),
        F.col("v").alias("av"),
        F.col("vnrm").alias("anrm"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("bid"),
        F.col("v").alias("bv"),
        F.col("vnrm").alias("bnrm"),
    )
    cos = F.expr(_DOT.format(a="av", b="bv")) / (F.col("anrm") * F.col("bnrm"))
    canon = (
        a.join(b, on="cluster")
        .filter(F.col("bid") < F.col("aid"))
        .filter(cos >= 0.45)
        .groupBy("aid")
        .agg(F.min("bid").alias("canon"))
    )
    return (
        assigned.join(canon, F.col("vec_id") == F.col("aid"), "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce("canon", "vec_id").alias("canonical_id"),
            (F.coalesce("canon", "vec_id") != F.col("vec_id")).alias("is_dup"),
        )
    )


# --------------------------------------------------------------------------
# Prefix-filtered Jaccard join (PPJoin-style) — same answer as
# d_ngram_jaccard, candidate generation from ordered prefixes only
# --------------------------------------------------------------------------
_PF_ORACLE = f"""
    WITH shingles0 AS ({_SHINGLE_HASHES_DUCK}),
    hot AS (
      SELECT h FROM shingles0 GROUP BY h
      HAVING count(*) >= least({_HOT_DF_FRAC} * (SELECT count(*) FROM documents), {_HOT_DF_ABS})
    ),
    shingles AS (
      SELECT * FROM shingles0 WHERE h NOT IN (SELECT h FROM hot)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM shingles a JOIN shingles b
        ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.5
"""


@query("d_jaccard_prefix_filter", oracle=_PF_ORACLE)
def d_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.5 pairs — identical output to d_ngram_jaccard
    (the oracle IS the exact form) — but candidates come from PREFIX
    FILTERING (Chaudhuri et al. SSJoin / Bayardo et al. all-pairs /
    PPJoin): order every doc's shingles by a global canonical order
    (ascending document frequency, shingle hash as tie-break) and
    self-join only the first |x| - ceil(t*|x|) + 1 shingles of each
    doc. Theorem: two sets with J >= t must share at least one
    canonical-prefix token — the suffix is too short to hold the
    required overlap — so the candidate set provably loses no true
    pair. Rare-first ordering makes those prefixes the LEAST-joinable
    tokens in the corpus.

    Why this is the scale path beyond the plain inverted index: the
    self-join's fan-out per token drops from df^2 to (prefix
    occurrences)^2, and at t=0.5 each doc indexes only ~half its
    shingles — on skewed real text the candidate volume falls orders of
    magnitude. A size-ratio prune (min(n) >= t*max(n), necessary for
    J >= t) drops length-mismatched candidates before verification;
    the verify step then computes true intersections ONLY for surviving
    candidate pairs — per pair, one in-row array_intersect of the two
    docs' (distinct) shingle arrays, NOT a re-join through the inverted
    index: re-joining would expand every candidate back into
    |candidates| x doc_size rows (measured 280M intermediate rows at
    sf0.1), while the array form is |candidates| rows of vectorized
    set-intersection work.

    Measured honesty (sf0.1, the synthetic corpus): 36.5M colliding
    index rows shrink to 5.5M candidate pairs — a 6.6x pair reduction —
    but this corpus is near-worst-case for prefix filtering (a ~50-word
    vocabulary means even rare-first prefixes collide constantly), so
    wall-clock lands near the plain form's. On real text, token
    frequencies are Zipfian and the rare-first prefix carries tokens
    with df in the single digits — the candidate count collapses and
    this form wins by orders of magnitude; that regime is what the
    plan is shaped for.

    Plan: dfreq one aggregate; per-doc ordering one doc-partitioned
    row_number window (the e_sessionize discipline); candidate join
    keyed on shingle hash; verify joins keyed on doc ids against the
    doc->shingle-array dim. All shuffles keyed on well-distributed
    columns; the hot-cap broadcast is shared with the exact form."""
    shingles_all = _doc_shingle_hashes(spark, sf_dir)
    n_docs = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_total")
    )
    dfreq = shingles_all.groupBy("h").agg(F.count(F.lit(1)).alias("dfh"))
    hot = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("dfh")
            >= F.least(_HOT_DF_FRAC * F.col("n_total"), F.lit(_HOT_DF_ABS))
        )
        .select("h")
    )
    shingles = shingles_all.join(F.broadcast(hot), "h", "left_anti")
    # doc -> (shingle array, size): consumed three times (prefix lengths
    # + both verify sides) and pref twice (self-join) — materialize both
    # once; they are doc-cardinality frames, so the checkpoint is tiny
    # where re-deriving them re-runs the shingle scan + window per use.
    arrs = shingles.groupBy("doc_id").agg(
        F.collect_list("h").alias("hs"), F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("dfh", "h")
    )
    pref = (
        shingles.join(dfreq, "h")
        .join(arrs.select("doc_id", "n"), "doc_id")
        .withColumn("rn", rn)
        .filter(F.col("rn") <= F.col("n") - F.ceil(0.5 * F.col("n")) + 1)
        .select("doc_id", "h", "n")
        .localCheckpoint(eager=True)
    )
    pa, pb = pref.alias("pa"), pref.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.h") == F.col("pb.h"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            & (
                F.least(F.col("pa.n"), F.col("pb.n"))
                >= 0.5 * F.greatest(F.col("pa.n"), F.col("pb.n"))
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ja = arrs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("n").alias("n_a"),
    )
    jb = arrs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("n").alias("n_b"),
    )
    ver = (
        cand.join(ja, "doc_a")
        .join(jb, "doc_b")
        .withColumn("c", F.size(F.array_intersect("hs_a", "hs_b")))
    )
    jac = F.col("c").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("c")
    )
    return ver.filter(jac >= 0.5).select(
        "doc_a", "doc_b", F.round(jac, 4).alias("jaccard")
    )


# --------------------------------------------------------------------------
# Cross-source shingle overlap — provenance contamination matrix
# --------------------------------------------------------------------------
@query(
    "d_source_overlap",
    oracle=f"""
    WITH sh AS ({_SHINGLE_HASHES_DUCK}),
    hs AS (
      SELECT DISTINCT sh.h, d.source
      FROM sh JOIN documents d USING (doc_id)
    ),
    per AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY 1)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared,
           CAST((10000 * count(*)) // least(pa.n, pb.n) AS BIGINT)
             AS containment_x10000
    FROM hs a
    JOIN hs b ON a.h = b.h AND a.source < b.source
    JOIN per pa ON pa.source = a.source
    JOIN per pb ON pb.source = b.source
    GROUP BY 1, 2, least(pa.n, pb.n)
    """,
)
def d_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE SHINGLE OVERLAP: for every ingest-source pair, the
    distinct word-bigram shingles appearing in BOTH, and the
    containment ratio against the smaller side (x10000 exact) — the
    provenance matrix behind 'crawl B substantially mirrors crawl A'
    and dataset-licensing review. Exact-text overlap is the wrong tool
    here (mirrors rewrap boilerplate; this corpus has zero cross-source
    exact dups), so the screen works at shingle grain like
    d_contamination. It is deliberately an UPPER-bound screen: common
    bigrams inflate it, and pairs it flags graduate to the IDF-weighted
    / minhash pipeline for confirmation.

    Shape: the per-doc shingle set joins the tiny doc→source map,
    collapses to DISTINCT (shingle, source) — at most |sources| rows
    per shingle survive, which is what bounds the self-join fan-out at
    |sources|² per hash — then one hash-keyed equi-join and a
    source-pair rollup; per-source totals broadcast for the
    containment division."""
    sh = _doc_shingle_hashes(spark, sf_dir)
    src_map = load(spark, sf_dir, "documents").select("doc_id", "source")
    hs = (
        sh.join(src_map, "doc_id")
        .select("h", "source")
        .distinct()
    )
    per = hs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = hs.select("h", F.col("source").alias("source_a"))
    b = hs.select(F.col("h").alias("h_b"), F.col("source").alias("source_b"))
    pairs = (
        a.join(
            b,
            (F.col("h") == F.col("h_b"))
            & (F.col("source_a") < F.col("source_b")),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.expr(
                "CAST((10000 * n_shared) div least(na, nb) AS BIGINT)"
            ).alias("containment_x10000"),
        )
    )


# --------------------------------------------------------------------------
# Stored LSH postings — new batch vs a persisted near-dup index
# --------------------------------------------------------------------------
_LSH_POSTINGS_COLS = ("doc_id", "band", "sig0", "sig1")
_STORED_SPLIT = 400  # corpus = doc_id < 400, batch = doc_id >= 400 (the
                     # d_incremental_dedup split, reused so the two stored
                     # paths screen the same batch)


def _lsh_store(path: str) -> GenStore:
    return GenStore(
        path,
        [TableSpec(name="", columns=_LSH_POSTINGS_COLS, partition_by=("band",))],
    )


def lsh_postings_store(bands: DataFrame, path: str) -> None:
    """Persist the banded minhash postings — (doc_id, band, sig0, sig1)
    parquet, partitioned by band — the near-dup twin of the exact-hash
    corpus store d_incremental_dedup's docstring describes. Integer
    signatures round-trip parquet exactly, so a batch probed against the
    stored postings produces the identical candidate set to an in-plan
    rebuild (hash-proven by d_neardup_stored). Partitioning by band
    bounds any one probe task's input to a single band's postings; at
    100 TB the inner layout would additionally bucket by (sig0, sig1)
    (sources/io.py:bucketed_write) so the probe join co-locates without
    shuffling the corpus side. Generation-versioned (operators/store.py):
    a re-store over an existing path is an atomic snapshot replace."""
    _lsh_store(path).create({"": bands})


def lsh_postings_append(bands: DataFrame, path: str) -> None:
    """Append a screened batch's postings to the store so the NEXT
    batch probes old ∪ batch — the step that closes the ingest loop
    (screen → keep survivors → append their postings → repeat).
    Parquet append under the same band partitioning; signatures are
    integers, so the appended store is exactly the union (chain pinned
    across two batches in test_round8_ops). Each append lands one file
    set per batch — run lsh_postings_compact on a cadence to fold them
    back to one file per band (probe-invariant, pinned)."""
    _lsh_store(path).append({"": bands})


def lsh_postings_load(spark: SparkSession, path: str) -> DataFrame:
    return _lsh_store(path).load(spark)[""]


def lsh_postings_compact(spark: SparkSession, path: str) -> None:
    """Rewrite the postings store as one compact file set per band —
    the maintenance pass the append loop needs: every
    lsh_postings_append lands one file set per batch, and after N
    batches a probe opens O(N) small files per band (the classic
    small-files tax). Compaction repartitions by the partition key so
    each band's rows land in ONE task → one file per band directory,
    written as a NEW generation and committed by an atomic manifest
    swap (operators/store.py — a crash at any point leaves the old
    generation serving; tests/test_store.py kills the rewrite
    mid-flight). Content is untouched: a probe against the compacted
    store equals the pre-compaction probe exactly (pinned in
    test_round9_ops, row count re-verified before the commit). At
    100 TB repartition(n_files_per_band, "band", ...) sizes files to
    ~512 MB–1 GB instead of one-per-band (the compacted_write
    guidance, sources/io.py)."""
    _lsh_store(path).compact(spark)


def lsh_probe(batch_bands: DataFrame, stored_bands: DataFrame) -> DataFrame:
    """DISTINCT (doc_new, doc_old) collisions of a batch's band rows
    against a postings frame — the probe join shared by the registered
    d_neardup_stored and the streaming screen
    (streaming/pipeline.py:stream_neardup_screen), keyed on the uniform
    (band, sig0, sig1) bucket key."""
    n, o = batch_bands.alias("n"), stored_bands.alias("o")
    return (
        n.join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.sig0") == F.col("o.sig0"))
            & (F.col("n.sig1") == F.col("o.sig1")),
        )
        .select(
            F.col("n.doc_id").alias("doc_new"),
            F.col("o.doc_id").alias("doc_old"),
        )
        .dropDuplicates()
    )


def lsh_probe_within(bands: DataFrame) -> DataFrame:
    """DISTINCT (doc_new, doc_old) collisions WITHIN one batch's own band
    rows — the self-probe that closes the ingest screen's intra-batch
    blind spot: ``lsh_probe(batch, stored)`` only sees pairs that span
    the store, so two near-duplicates arriving in the SAME micro-batch
    would each miss the other and both be admitted. ``doc_new >
    doc_old`` orients every within-batch pair exactly once (the later
    id flags against the earlier — the d_incremental_dedup convention),
    and drops the trivial self-collisions the self-join necessarily
    produces. Same uniform (band, sig0, sig1) join key as lsh_probe;
    candidate volume is batch-sized on both sides."""
    return lsh_probe(bands, bands).filter(F.col("doc_new") > F.col("doc_old"))


@query(
    "d_neardup_within_batch",
    oracle=f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_band_ctes()}
    SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
    FROM bands n JOIN bands o
      ON n.band = o.band AND n.sig0 = o.sig0 AND n.sig1 = o.sig1
    WHERE n.doc_id >= {_STORED_SPLIT} AND o.doc_id >= {_STORED_SPLIT}
      AND n.doc_id > o.doc_id
    """,
)
def d_neardup_within_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch SELF-probe, driver-gated: within-batch near-dup
    candidates for the same ingest batch d_neardup_stored screens
    against the corpus — together they are the complete per-batch
    screen (the composition the streaming form runs; see
    stream_neardup_screen). Same uniform (band, sig0, sig1) bucket
    key; doc_new > doc_old orients each pair once, later id flagged
    against the earlier. Cost at 100 TB is batch-sized on both sides —
    the corpus never enters this join."""
    bands = _minhash_bands(_doc_shingle_hashes(spark, sf_dir))
    return lsh_probe_within(bands.filter(F.col("doc_id") >= _STORED_SPLIT))


_NEARDUP_STORED_ORACLE = f"""
    WITH hashed AS ({_SHINGLE_HASHES_DUCK}),
    {_minhash_band_ctes()}
    SELECT DISTINCT n.doc_id AS doc_new, o.doc_id AS doc_old
    FROM bands n JOIN bands o
      ON n.band = o.band AND n.sig0 = o.sig0 AND n.sig1 = o.sig1
    WHERE n.doc_id >= {_STORED_SPLIT} AND o.doc_id < {_STORED_SPLIT}
    """


@query("d_neardup_stored", oracle=_NEARDUP_STORED_ORACLE)
def d_neardup_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup screening of a new batch against a PERSISTED corpus
    index — the per-ingestion-batch operation of a continuously-fed
    training corpus (d_incremental_dedup is the exact-hash form; this is
    the MinHash-LSH form for near-verbatim contamination): the corpus's
    banded postings are stored once (lsh_postings_store), and each
    incoming batch computes ONLY ITS OWN signatures, then probes the
    stored postings with a (band, sig0, sig1) equi-join — candidate
    pairs (doc_new, doc_old) for downstream jaccard verification.

    Cost shape at 100 TB: the batch pays shingle→minhash over ITS rows
    only; the corpus side is a columnar read of 4 narrow postings rows
    per document — never re-shingled, never re-hashed (the in-plan
    equivalent re-pays the whole corpus's signature computation every
    batch). Both join inputs key on (band, sig0, sig1) — the uniform
    LSH bucket key — and the oracle proves the stored probe equals the
    in-plan split-join exactly (integer signatures, lossless parquet).
    Shares d_incremental_dedup's batch split; per-call temp dir for
    re-entrancy like the other stored-index queries.

    CONTRACT: this probe screens batch-vs-STORE only — two near-dups
    inside the same batch are invisible to it by construction. Callers
    screening a raw ingest batch compose it with lsh_probe_within
    (the batch self-probe), exactly as the always-on form does
    (streaming/pipeline.py:stream_neardup_screen)."""
    bands = _minhash_bands(_doc_shingle_hashes(spark, sf_dir))
    path = os.path.join(
        tempfile.mkdtemp(prefix="d_neardup_stored_"), "postings"
    )
    lsh_postings_store(bands.filter(F.col("doc_id") < _STORED_SPLIT), path)
    return lsh_probe(
        bands.filter(F.col("doc_id") >= _STORED_SPLIT),
        lsh_postings_load(spark, path),
    )


@query("d_neardup_compacted", oracle=_NEARDUP_STORED_ORACLE)
def d_neardup_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d_neardup_stored through the MAINTAINED store — the full
    ingest-loop lifecycle the streaming screen accumulates: the corpus
    postings arrive as an initial store plus an APPEND (two ingest
    batches, two file sets per band), the store is COMPACTED back to
    one file per band (lsh_postings_compact — the in-place
    checkpoint-staged rewrite), and only then does the new batch
    probe. Shares d_neardup_stored's oracle verbatim: integer
    signatures make append an exact union and compaction an exact
    rewrite, so the maintained store MUST serve the identical
    candidate set — the hash gates store→append→compact→probe
    end-to-end (the compact helper's probe-invariance test pins the
    same thing locally; this is its driver-facing form). Per-call
    temp dir for re-entrancy."""
    bands = _minhash_bands(_doc_shingle_hashes(spark, sf_dir))
    path = os.path.join(
        tempfile.mkdtemp(prefix="d_neardup_compacted_"), "postings"
    )
    half = _STORED_SPLIT // 2
    lsh_postings_store(bands.filter(F.col("doc_id") < half), path)
    lsh_postings_append(
        bands.filter(
            (F.col("doc_id") >= half) & (F.col("doc_id") < _STORED_SPLIT)
        ),
        path,
    )
    lsh_postings_compact(spark, path)
    return lsh_probe(
        bands.filter(F.col("doc_id") >= _STORED_SPLIT),
        lsh_postings_load(spark, path),
    )


# --------------------------------------------------------------------------
# URL canonicalization dedup — the standard web-crawl ingest step: one
# logical page arrives under many raw URLs (scheme/host case, a www.
# prefix, tracking query params, fragments, trailing slashes) and must
# collapse to ONE canonical key before content dedup even starts. The
# driver testdata has no URL column, so the query first constructs the
# raw URL DETERMINISTICALLY from (source, doc_id) with four dirty
# variants, the same way t_unicode_normalize constructs its dirty text —
# the gate then exercises every canonicalization rule instead of hashing
# an identity transform.
# --------------------------------------------------------------------------
_URL_PATH_MOD = 25


def _url_oracle() -> str:
    return f"""
    WITH raw AS (
      SELECT doc_id,
             CASE (doc_id % 7) % 4 WHEN 2 THEN 'HTTPS://' ELSE 'https://' END
             || CASE (doc_id % 7) % 4 WHEN 3 THEN 'www.' ELSE '' END
             || CASE (doc_id % 7) % 4 WHEN 1 THEN upper(source) ELSE source END
             || '.example.com/items/' || (doc_id % {_URL_PATH_MOD})
             || CASE (doc_id % 7) % 4
                  WHEN 1 THEN '/'
                  WHEN 2 THEN '?utm_source=feed&utm_campaign=crawl'
                  WHEN 3 THEN '#section-2'
                  ELSE '' END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id, url,
             -- 'g' on every step: DuckDB replaces only the FIRST match
             -- by default while Spark replaces ALL — equivalence must
             -- not depend on each pattern matching at most once (r12
             -- ADVICE fix; e.g. a URL with two utm_ segments)
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(lower(url), '#.*$', '', 'g'),
                   '\\?utm_[^#]*', '', 'g'),
                 '^(https://)www\\.', '\\1', 'g'),
               '/$', '', 'g') AS curl
      FROM raw
    )
    SELECT curl AS canonical_url,
           count(*) AS n_dups,
           count(DISTINCT url) AS n_raw_variants,
           min(doc_id) AS keep_doc_id
    FROM canon GROUP BY curl
    """


@query("d_url_dedup", oracle=_url_oracle())
def d_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: lowercase, strip fragment, strip
    utm_* tracking params, strip a www. prefix, strip the trailing
    slash, then collapse to one row per canonical URL with the dup
    count, the raw-variant count, and the min-doc_id survivor (the
    usual keep-first policy).

    At 100 TB this is the cheapest dedup pass in the pipeline and runs
    FIRST for exactly that reason: the canonical key is a pure narrow
    map (five JVM regexp/string ops, whole-stage codegen, no Python),
    and the single hash-aggregate shuffles one short string + two longs
    per row — orders of magnitude less than shingling. Skewed hot URLs
    combine map-side before the exchange."""
    docs = load(spark, sf_dir, "documents")
    # variant selector: (doc_id % 7) % 4, NOT doc_id % 4 — canonical
    # groups are arithmetic progressions in doc_id whose stride is a
    # multiple of 4, so a mod-4 selector would pick the SAME dirty
    # variant for every member and the gate would never see two raw
    # variants of one canonical URL; mod 7 is coprime to the stride.
    m4 = (F.col("doc_id") % 7) % 4
    raw = F.concat(
        F.when(m4 == 2, F.lit("HTTPS://")).otherwise(F.lit("https://")),
        F.when(m4 == 3, F.lit("www.")).otherwise(F.lit("")),
        F.when(m4 == 1, F.upper("source")).otherwise(F.col("source")),
        F.lit(".example.com/items/"),
        (F.col("doc_id") % _URL_PATH_MOD).cast("string"),
        F.when(m4 == 1, F.lit("/"))
        .when(m4 == 2, F.lit("?utm_source=feed&utm_campaign=crawl"))
        .when(m4 == 3, F.lit("#section-2"))
        .otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(raw), r"#.*$", ""),
                r"\?utm_[^#]*",
                "",
            ),
            r"^(https://)www\.",
            "$1",
        ),
        r"/$",
        "",
    )
    return (
        docs.select(
            "doc_id", raw.alias("url"), curl.alias("canonical_url")
        )
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.countDistinct("url").alias("n_raw_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


# --------------------------------------------------------------------------
# Sentence-level exact dedup — the CCNet / RefinedWeb LINE-dedup pass
# (Wenzek et al. 2020 §2.1 "deduplicating paragraphs"; Penedo et al.
# 2023 §3.3 line-wise filtering): before any document-level MinHash, a
# crawl pipeline removes the individual sentences/lines that repeat
# across documents (navigation chrome, cookie banners, boilerplate).
# The driver corpus has no newline structure, so a "sentence" is the
# deterministic proxy both engines can compute identically: consecutive
# NON-overlapping 12-token segments (contrast d_substring_dup's
# stride-1 windows — that is the unaligned-substring detector; this is
# the segment-level removal pass with a keep-first policy).
# --------------------------------------------------------------------------
_SENT_LEN = 12


def _sentence_oracle() -> str:
    return f"""
    WITH sp AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(0, CAST(ceil(len(toks)/{_SENT_LEN}.0) AS INT) - 1),
               i -> struct_pack(
                 h := md5(array_to_string(
                        list_slice(toks, i*{_SENT_LEN}+1, i*{_SENT_LEN}+{_SENT_LEN}),
                        ' ')),
                 l := len(list_slice(toks, i*{_SENT_LEN}+1,
                                     i*{_SENT_LEN}+{_SENT_LEN}))))) AS e
      FROM sp
    ),
    x AS (SELECT doc_id, e.h AS h, e.l AS l FROM s),
    g AS (
      SELECT h, count(DISTINCT doc_id) AS ndocs, min(doc_id) AS keeper
      FROM x GROUP BY h
    )
    SELECT x.doc_id,
           count(*) AS n_sentences,
           CAST(count(*) FILTER (WHERE g.ndocs >= 2) AS BIGINT)
             AS n_dup_sentences,
           CAST(sum(CASE WHEN g.ndocs = 1 OR g.keeper = x.doc_id
                         THEN x.l ELSE 0 END) AS BIGINT) AS kept_tokens,
           round(CAST(count(*) FILTER (WHERE g.ndocs >= 2) AS DOUBLE)
                 / count(*), 4) AS dup_sentence_ratio
    FROM x JOIN g USING (h)
    GROUP BY 1
    """


@query("d_sentence_dedup", oracle=_sentence_oracle())
def d_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document sentence-level exact dedup with a keep-first
    policy — the line-dedup pass every crawl pipeline runs BEFORE
    doc-level MinHash (CCNet's paragraph dedup, RefinedWeb's line-wise
    correction). Per document: its sentence count, how many of its
    sentences also occur verbatim in ANOTHER document, the tokens it
    would retain after dropping every cross-doc-duplicated sentence it
    does not own (owner = min doc_id, the registry's keep-first
    survivor convention, cf. d_url_dedup), and the dup-sentence ratio
    (the CCNet signal for chrome-heavy pages).

    Sentences are non-overlapping 12-token segments (see module note:
    the corpus has no newline/punctuation structure, so the segment is
    the deterministic cross-engine sentence proxy); the trailing
    partial segment is kept — dropping it would hide tail boilerplate.
    Within-doc repeats (ndocs == 1) are NOT flagged: this pass targets
    cross-document chrome; d_substring_dup's stride-1 windows cover
    unaligned/intra-doc repetition.

    Plan shape (identical scale story to d_substring_dup): in-row
    segment + md5 (one narrow map, whole-stage codegen), ONE shuffle
    keyed on the 16-byte sentence hash (uniform by construction — never
    on doc_id) for the distinct-doc count + keeper, a hash-keyed join
    back, then the per-doc aggregate. A boilerplate sentence shared by
    millions of docs is ONE group row on the build side and combines
    map-side on the count side, so the hot-key story is the hash-agg
    one, not a pair-join blowup — this pass generates NO pairs, which
    is exactly why it runs first at 100 TB."""
    docs = load(spark, sf_dir, "documents")
    seg = (
        f"transform(sequence(0, CAST(ceil(size(toks)/{_SENT_LEN}.0) AS INT) - 1), "
        f"i -> named_struct("
        f"'h', md5(CAST(array_join(slice(toks, i*{_SENT_LEN}+1, {_SENT_LEN}), ' ') AS BINARY)), "
        f"'l', size(slice(toks, i*{_SENT_LEN}+1, {_SENT_LEN}))))"
    )
    x = (
        docs.select("doc_id", F.split("text", " ", -1).alias("toks"))
        .select("doc_id", F.explode(F.expr(seg)).alias("e"))
        .select("doc_id", F.col("e.h").alias("h"), F.col("e.l").alias("l"))
    )
    g = x.groupBy("h").agg(
        F.count_distinct("doc_id").alias("ndocs"),
        F.min("doc_id").alias("keeper"),
    )
    dup = F.col("ndocs") >= 2
    kept = F.when(~dup | (F.col("keeper") == F.col("doc_id")), F.col("l")).otherwise(
        F.lit(0)
    )
    return (
        x.join(g, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(dup.cast("int")).cast("bigint").alias("n_dup_sentences"),
            F.sum(kept).cast("bigint").alias("kept_tokens"),
            F.round(
                F.sum(dup.cast("int")).cast("double") / F.count(F.lit(1)), 4
            ).alias("dup_sentence_ratio"),
        )
    )
