"""Text-analysis operators over the ``documents`` table.

Beyond-reference extensions for a large-scale training-data pipeline:
token counting, quality scoring, heuristic language-ID, and document
fingerprinting. All are pure JVM-side expressions (higher-order array
functions, no Python UDFs), so at 100 TB they run at scan speed and
whole-stage codegen applies end-to-end.

Tokenization convention shared by this module and dedup_q: whitespace
split via ``\\s+`` regex — identical in Spark (`split`) and DuckDB
(`regexp_split_to_array`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load

# Deterministic polynomial rolling hash over characters, mod 1e9+7.
# Verified bit-identical between Spark `aggregate` and DuckDB `list_reduce`
# (including multibyte codepoints: ascii()==ord()).
_POLYHASH_SPARK = (
    "aggregate(split({col}, ''), CAST(0 AS BIGINT),"
    " (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)"
)
_POLYHASH_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(string_split({col}, ''), c -> CAST(ord(c) AS BIGINT))),"
    " (acc, c) -> (acc * 31 + c) % 1000000007)"
)


def polyhash_spark(col: str) -> F.Column:
    """31-base rolling hash of a string column (JVM-side, codegen)."""
    return F.expr(_POLYHASH_SPARK.format(col=col))


def polyhash_duck(col: str) -> str:
    return _POLYHASH_DUCK.format(col=col)


# --------------------------------------------------------------------------
# Token counting
# --------------------------------------------------------------------------
@query(
    "t_token_count",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks), 4)
             AS avg_token_len
    FROM t
    """,
)
def t_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + char stats (the BPE-ish regex variant is
    t_bpe_token_count)."""
    docs = load(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), r"\s+"))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens,
            4,
        ).alias("avg_token_len"),
    )


# --------------------------------------------------------------------------
# Quality scoring (length / stopword / digit ratios)
# --------------------------------------------------------------------------
_STOPWORDS = ("the", "a", "of", "and", "in")


@query(
    "t_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           round(CAST(len(list_filter(toks,
                 x -> x IN {_STOPWORDS!r})) AS DOUBLE) / len(toks), 4)
             AS stopword_ratio,
           round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                 / length(text), 4) AS digit_ratio,
           length(text) BETWEEN 100 AND 20000
             AND CAST(len(list_filter(toks, x -> x IN {_STOPWORDS!r})) AS DOUBLE)
                 / len(toks) > 0.01 AS passes_quality
    FROM t
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gates for training-data filtering: stopword
    ratio, digit ratio, length band — the C4-style document filter a
    pretraining pipeline applies before dedup.

    spread_on doc_id (tables.spread, guide §2.5): parallelizes the
    per-document regex/split scoring off the bench layout's single
    populated scan task; no-op when the layout splits. Per-row
    deterministic projection — partitioning cannot change any value."""
    docs = load(spark, sf_dir, "documents", spread_on="doc_id")
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    stop_ratio = F.expr(
        f"CAST(size(filter(split(text, '\\\\s+'), x -> x IN ({sw}))) AS DOUBLE)"
        " / size(split(text, '\\\\s+'))"
    )
    digit_ratio = (
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
        / F.length("text")
    )
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        (F.length("text").between(100, 20000) & (stop_ratio > 0.01)).alias(
            "passes_quality"
        ),
    )


# --------------------------------------------------------------------------
# Heuristic language-ID (marker-token scoring, argmax with tie-break)
# --------------------------------------------------------------------------
# Marker lists keyed off the corpus vocabulary; the heuristic is the
# operator under test (deterministic scoring + argmax), not a real model.
_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und", "data", "value"),
    "fr": ("le", "la", "et", "table", "row"),
    "es": ("el", "los", "y", "query", "scan"),
}


def _marker_score_spark(markers: tuple[str, ...]) -> F.Column:
    lst = ", ".join(f"'{m}'" for m in markers)
    return F.expr(f"size(filter(split(text, '\\\\s+'), x -> x IN ({lst})))")


@query(
    "t_lang_id",
    oracle="""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
    ), scores AS (
      SELECT doc_id, s.lang,
             len(list_filter(toks, x -> list_contains(s.markers, x))) AS score
      FROM t CROSS JOIN (
        SELECT * FROM (VALUES
          ('en', ['the', 'a', 'of']),
          ('de', ['der', 'die', 'und', 'data', 'value']),
          ('fr', ['le', 'la', 'et', 'table', 'row']),
          ('es', ['el', 'los', 'y', 'query', 'scan'])
        ) AS v(lang, markers)
      ) s
    ), ranked AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rn
      FROM scores
    )
    SELECT doc_id, lang AS predicted_lang, score AS marker_hits
    FROM ranked WHERE rn = 1
    """,
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/marker language-ID heuristic: score each candidate language
    by marker-token hits, argmax with deterministic (score desc, lang asc)
    tie-break. ONE scan, ZERO shuffles: the per-language scores build an
    in-row struct array; array_sort with an explicit comparator does the
    argmax — no union-per-language, no window (at 100 TB the former plan
    read the table 4× and shuffled every row)."""
    docs = load(spark, sf_dir, "documents")
    entries = F.array(
        *[
            F.struct(
                _marker_score_spark(markers).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in _LANG_MARKERS.items()
        ]
    )
    best = F.element_at(
        F.array_sort(
            entries,
            lambda l, r: F.when(l["score"] != r["score"], r["score"] - l["score"])
            .when(l["lang"] < r["lang"], F.lit(-1))
            .when(l["lang"] > r["lang"], F.lit(1))
            .otherwise(F.lit(0)),
        ),
        1,
    )
    return docs.select(
        "doc_id",
        best["lang"].alias("predicted_lang"),
        best["score"].alias("marker_hits"),
    )


# --------------------------------------------------------------------------
# Document fingerprinting (rolling hash)
# --------------------------------------------------------------------------
@query(
    "t_fingerprint",
    oracle=f"""
    SELECT doc_id, {polyhash_duck('text')} AS fingerprint
    FROM documents
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 31-base rolling-hash fingerprint of the full text —
    the cheap exact-dup key (cf. d_exact_dup's md5 variant). Integer-only
    arithmetic → bit-identical across engines."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", polyhash_spark("text").alias("fingerprint"))


# --------------------------------------------------------------------------
# BPE-ish token counting (regex pre-tokenizer classes)
# --------------------------------------------------------------------------
#: GPT-2-style pre-tokenizer approximation: letter runs, digit runs,
#: punctuation runs — each with an optional leading space. ASCII classes
#: only, so Java (Spark) and RE2 (DuckDB) agree byte-for-byte.
_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


@query(
    "t_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpe_tokens,
           len(regexp_split_to_array(text, '\\s+')) AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS DOUBLE)
                 / greatest(length(text), 1), 4) AS tokens_per_char
    FROM documents
    """,
)
def t_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex beside the
    whitespace count (t_token_count) — the tokens/char ratio is the
    standard LLM-pipeline cost estimator. Single scan, zero shuffle,
    regexp_count stays in codegen."""
    docs = load(spark, sf_dir, "documents")
    n_bpe = F.regexp_count("text", F.lit(_BPE_PATTERN))
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        F.size(F.split(F.col("text"), r"\s+")).alias("n_ws_tokens"),
        F.round(
            n_bpe.cast("double") / F.greatest(F.length("text"), F.lit(1)), 4
        ).alias("tokens_per_char"),
    )


# --------------------------------------------------------------------------
# Deterministic sampling / splitting / packing (training-data pipeline ops)
# --------------------------------------------------------------------------
@query(
    "t_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY (doc_id * 2654435761) % 2147483648, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 50
    """,
)
def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: up to 50 docs per language,
    chosen by a multiplicative hash of the id — reproducible across
    runs/engines (seeded RNG sampling is engine-specific; hash-order
    sampling is the portable form). One shuffle on the stratum key;
    WindowGroupLimit caps per-partition state at k rows."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    h = (F.col("doc_id") * 2654435761) % 2147483648
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "lang")
    )


@query(
    "t_train_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN (doc_id * 2654435761) % 2147483648 % 100 < 80
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def t_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 train/test assignment by id hash — stable
    under re-runs, appends, and repartitioning (row-position or RNG
    splits are not). Pure projection: zero shuffle at any scale."""
    docs = load(spark, sf_dir, "documents")
    bucket = (F.col("doc_id") * 2654435761) % 2147483648 % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 80, "train").otherwise("test").alias("split"),
    )


@query(
    "t_token_pack",
    oracle="""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS shard,
             len(regexp_split_to_array(text, '\\s+')) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, shard, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, shard,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
    FROM c
    """,
)
def t_token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training: assign documents to fixed-size
    (2048-token) packs via a running token count. Packing is inherently
    sequential, so the parallel form shards first (doc_id mod 8) and
    packs WITHIN each shard — one shuffle on the shard key, cumulative
    sum as an ordered window per shard; pack_id = floor(tokens-before /
    capacity). At 1000 executors: shards = O(cores), each packs
    independently; pack boundaries are deterministic."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.col("text"), r"\s+")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "shard",
        ((cum - F.col("n_tokens")) / 2048).cast("bigint").alias("pack_id"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition/structure gates (token-distribution quality)
# --------------------------------------------------------------------------
# Rule constants adapted to the synthetic corpus's ranges (the OPERATOR —
# explode → per-(doc,token) count → per-doc distribution stats — is the
# Gopher/C4 repetition filter shape; production swaps the thresholds).
_G_MIN_TOKENS = 30
_G_TOP_FRAC = 0.12
_G_MEAN_LEN_LO, _G_MEAN_LEN_HI = 3.0, 10.0

# Shared per-doc token-stats pipeline + Gopher gate expressions: single
# source of truth for t_gopher_quality (per-doc report) and
# t_quality_funnel (its cumulative summary) — a tokenization or gate
# edit cannot desynchronize the funnel from the report it summarizes
# (same rationale as events_q._session_ctes / dedup_q._intersection_ctes).
_TOKEN_STATS_CTES = """t AS (
      SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, u AS tok FROM t, unnest(toks) AS x(u)
    ), g AS (
      SELECT doc_id, tok, count(*) AS cnt FROM c GROUP BY 1, 2
    ), s AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(cnt) AS BIGINT) AS top_cnt,
             CAST(sum(length(tok) * cnt) AS BIGINT) AS n_tok_chars
      FROM g GROUP BY 1
    )"""
_G_REP_GATE_SQL = (
    f"CAST(top_cnt AS DOUBLE) / n_tokens <= {_G_TOP_FRAC}"
    f" AND CAST(n_tok_chars AS DOUBLE) / n_tokens"
    f" BETWEEN {_G_MEAN_LEN_LO} AND {_G_MEAN_LEN_HI}"
)


def _doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_distinct, top_cnt, n_tok_chars) — Spark twin
    of _TOKEN_STATS_CTES: explode → (doc, token) count → per-doc stats,
    two doc-keyed shuffles (no token-keyed shuffle, so no stop-word
    skew: the hot key "the" stays bundled with its doc_id)."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("tok")
    )
    g = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return g.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.length("tok") * F.col("cnt")).alias("n_tok_chars"),
    )


def _gopher_rep_gate() -> F.Column:
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    mean_len = F.col("n_tok_chars").cast("double") / F.col("n_tokens")
    return (top_frac <= _G_TOP_FRAC) & mean_len.between(
        _G_MEAN_LEN_LO, _G_MEAN_LEN_HI
    )


@query(
    "t_gopher_quality",
    oracle=f"""
    WITH {_TOKEN_STATS_CTES}
    SELECT doc_id, n_tokens,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 4)
             AS dup_token_ratio,
           round(CAST(top_cnt AS DOUBLE) / n_tokens, 4) AS top_token_frac,
           round(CAST(n_tok_chars AS DOUBLE) / n_tokens, 4) AS mean_token_len,
           n_tokens >= {_G_MIN_TOKENS} AND {_G_REP_GATE_SQL}
             AS passes_gopher
    FROM s
    """,
)
def t_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gates: duplicate-token ratio, most-frequent-
    token dominance, mean token length, token-count floor. Shape: explode
    tokens → count per (doc, token) → per-doc distribution stats — two
    shuffles, both keyed on doc_id(+token), which is uniformly distributed
    at any corpus size (no token-keyed shuffle, so no stop-word skew: the
    hot key "the" stays bundled with its doc_id). All stats are exact
    integer sums; ratios divide only in the output row."""
    s = _doc_token_stats(spark, sf_dir)
    top_frac = F.col("top_cnt").cast("double") / F.col("n_tokens")
    mean_len = F.col("n_tok_chars").cast("double") / F.col("n_tokens")
    return s.select(
        "doc_id",
        "n_tokens",
        F.round(
            F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_tokens"), 4
        ).alias("dup_token_ratio"),
        F.round(top_frac, 4).alias("top_token_frac"),
        F.round(mean_len, 4).alias("mean_token_len"),
        (
            (F.col("n_tokens") >= _G_MIN_TOKENS) & _gopher_rep_gate()
        ).alias("passes_gopher"),
    )


# --------------------------------------------------------------------------
# Corpus mixture statistics (per-source weights for dataset balancing)
# --------------------------------------------------------------------------
@query(
    "t_source_mix",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
               AS total_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM s
    )
    SELECT source, n_docs, total_tokens,
           round(CAST(total_tokens AS DOUBLE) / corpus_tokens, 4)
             AS token_share,
           round(CAST(corpus_tokens AS DOUBLE) / (n_sources * total_tokens), 4)
             AS uniform_weight
    FROM s CROSS JOIN tot
    """,
)
def t_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture statistics for dataset balancing: token share of
    the corpus and the sampling weight that would equalize sources
    (weight = uniform-target share / actual share). THE op behind mixture
    reweighting in pretraining-data assembly. ONE scan + one
    hash-aggregate shuffle keyed on source; the corpus totals come from
    an unpartitioned window over the post-aggregate set — a bounded dim
    (one row per source, 20 here), so the single-partition window is the
    correct plan, not a scale hazard (same accepted convention as
    w_surrogate_key). Token counts are exact integer sums; divisions
    happen once in the output row."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", r"\s+"))).alias("total_tokens"),
    )
    w = Window.partitionBy()
    corpus_tokens = F.sum("total_tokens").over(w)
    n_sources = F.count(F.lit(1)).over(w)
    return s.select(
        "source",
        "n_docs",
        "total_tokens",
        F.round(
            F.col("total_tokens").cast("double") / corpus_tokens, 4
        ).alias("token_share"),
        F.round(
            corpus_tokens.cast("double")
            / (n_sources * F.col("total_tokens")),
            4,
        ).alias("uniform_weight"),
    )


@query(
    "t_balanced_sample",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
               AS total_tokens
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(sum(total_tokens) AS BIGINT) AS corpus_tokens,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM s
    ), w AS (
      SELECT source,
             CAST(floor(least(1.0,
               CAST(corpus_tokens AS DOUBLE) / (n_sources * total_tokens))
               * 1000000) AS BIGINT) AS accept_ppm
      FROM s CROSS JOIN tot
    )
    SELECT d.doc_id, d.source, w.accept_ppm
    FROM documents d JOIN w USING (source)
    WHERE (d.doc_id * 2654435761) % 2147483648 % 1000000 < w.accept_ppm
    """,
)
def t_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t_source_mix applied: subsample over-represented sources down to a
    uniform token mixture. Per-source accept rate = min(1, uniform-target
    share / actual share), quantized to ppm from exact integer token
    counts; acceptance is the same multiplicative id-hash as
    t_train_test_split — reproducible across runs, engines, appends, and
    repartitioning (RNG sampling is none of those). Plan: one
    hash-aggregate for per-source totals (bounded output, one row per
    source), broadcast back onto the fact scan — the sample itself is a
    map-side filter, no shuffle of document rows at any scale."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", r"\s+"))).alias("total_tokens"),
    )
    win = Window.partitionBy()
    weights = s.select(
        "source",
        F.floor(
            F.least(
                F.lit(1.0),
                F.sum("total_tokens").over(win).cast("double")
                / (F.count(F.lit(1)).over(win) * F.col("total_tokens")),
            )
            * 1000000
        )
        .cast("bigint")
        .alias("accept_ppm"),
    )
    keep = ((F.col("doc_id") * 2654435761) % 2147483648 % 1000000) < F.col(
        "accept_ppm"
    )
    return (
        docs.join(F.broadcast(weights), "source")
        .filter(keep)
        .select("doc_id", "source", "accept_ppm")
    )


# --------------------------------------------------------------------------
# Composed corpus-prep pipeline: quality gate → exact dedup → split → pack
# --------------------------------------------------------------------------
@query(
    "t_corpus_prep",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks
      FROM documents
      WHERE length(text) BETWEEN 100 AND 20000
        AND CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                  x -> x IN {_STOPWORDS!r})) AS DOUBLE)
            / len(regexp_split_to_array(text, '\\s+')) > 0.01
    ), canon AS (
      SELECT md5(text) AS content_hash, min(doc_id) AS canonical
      FROM q GROUP BY 1
    ), kept AS (
      SELECT q.doc_id, len(q.toks) AS n_tokens
      FROM q JOIN canon ON md5(q.text) = canon.content_hash
      WHERE q.doc_id = canon.canonical
    ), split AS (
      SELECT doc_id, n_tokens,
             CASE WHEN (doc_id * 2654435761) % 2147483648 % 100 < 80
                  THEN 'train' ELSE 'test' END AS split,
             doc_id % 8 AS shard
      FROM kept
    ), packed AS (
      SELECT doc_id, n_tokens, split, shard,
             sum(n_tokens) OVER (PARTITION BY split, shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM split
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, split,
           CAST(shard AS BIGINT) AS shard,
           CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id
    FROM packed
    """,
)
def t_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE corpus-preparation shape, composed end-to-end as one query:

        quality gate → exact dedup → train/test split → sequence packing

    1. C4-style quality filter (t_quality_score's gate) — a map-side
       filter on the scan, pushed ahead of everything expensive.
    2. Exact dedup on md5(text): one hash-aggregate keyed on the digest;
       only the canonical (min doc_id) copy survives.
    3. Deterministic 80/20 split by multiplicative id hash (zero
       shuffle, stable under appends/repartitioning).
    4. Per-(split, shard) sequence packing into 2048-token packs —
       packing stays sequential only within a shard, shards scale with
       cores.

    Each stage reuses the standalone operator's exact semantics, so the
    composition is regression-pinned by four other oracles. Stage order
    is the 100 TB order: filter first (cheapest, biggest reduction),
    dedup before packing (packs never contain duplicate bytes), split
    before packing (no pack straddles train/test)."""
    from pyspark.sql.window import Window

    docs = load(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    stop_ratio = F.expr(
        f"CAST(size(filter(split(text, '\\\\s+'), x -> x IN ({sw}))) AS DOUBLE)"
        " / size(split(text, '\\\\s+'))"
    )
    q = docs.filter(
        F.length("text").between(100, 20000) & (stop_ratio > 0.01)
    ).select(
        "doc_id",
        "text",
        F.size(F.split("text", r"\s+")).alias("n_tokens"),
        F.md5(F.col("text").cast("binary")).alias("content_hash"),
    )
    canon = q.groupBy("content_hash").agg(F.min("doc_id").alias("canonical"))
    kept = q.join(canon, "content_hash").filter(
        F.col("doc_id") == F.col("canonical")
    )
    split = kept.select(
        "doc_id",
        "n_tokens",
        F.when(
            (F.col("doc_id") * 2654435761) % 2147483648 % 100 < 80, "train"
        )
        .otherwise("test")
        .alias("split"),
        (F.col("doc_id") % 8).alias("shard"),
    )
    w = (
        Window.partitionBy("split", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return split.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "split",
        F.col("shard").cast("bigint").alias("shard"),
        ((cum - F.col("n_tokens")) / 2048).cast("bigint").alias("pack_id"),
    )


# --------------------------------------------------------------------------
# Corpus vocabulary with document frequency / IDF
# --------------------------------------------------------------------------
@query(
    "t_idf",
    oracle="""
    WITH dt AS (
      SELECT DISTINCT doc_id, u AS token
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
            FROM documents), unnest(toks) AS x(u)
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS df,
           round(ln(CAST(n.n_docs AS DOUBLE) / count(*)), 4) AS idf
    FROM dt CROSS JOIN n
    GROUP BY token, n.n_docs
    """,
)
def t_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequency and IDF — the weight
    table behind TF-IDF retrieval, stop-word discovery, and keyword
    scoring. Distinct (doc, token) via in-row array_distinct BEFORE the
    explode (rows crossing the shuffle = vocabulary incidence, not raw
    token count), then one hash-aggregate keyed on the token; the corpus
    doc count broadcasts as a 1-row scalar. IDF's ln() is the one libm
    call on the surface — both engines evaluate it on the identical
    double, and the 4-decimal rounding granule is ~12 orders of
    magnitude wider than a 1-ulp libm divergence."""
    docs = load(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", r"\s+"))).alias("token"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        dt.crossJoin(F.broadcast(n))
        .groupBy("token", "n_docs")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "token",
            "df",
            F.round(
                F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("idf"),
        )
    )


# --------------------------------------------------------------------------
# Fixed-size token chunking (training-example preparation)
# --------------------------------------------------------------------------
_CHUNK = 32


@query(
    "t_chunk_split",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(generate_series(
               0, CAST(ceil(len(toks) / {_CHUNK}.0) AS INT) - 1)) AS chunk_idx
      FROM t
    )
    SELECT doc_id, chunk_idx,
           len(list_slice(toks, chunk_idx * {_CHUNK} + 1,
                          chunk_idx * {_CHUNK} + {_CHUNK})) AS chunk_tokens,
           array_to_string(list_slice(toks, chunk_idx * {_CHUNK} + 1,
                           chunk_idx * {_CHUNK} + {_CHUNK}), ' ') AS chunk_text
    FROM c
    """,
)
def t_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into fixed-size token chunks (the example-
    packing precursor: context-window-sized training rows). The token
    array is materialized once per doc, then `explode(sequence)` fans out
    one row per chunk and `slice` cuts the window — all JVM higher-order
    functions, no shuffle at all (explode is pipelined into the scan;
    output partitioning inherits the input's). At 100 TB this runs at
    scan speed; the 1-to-ceil(n/32) row fan-out is the point, not a
    hazard (it's the required output cardinality), and `slice` keeps peak
    memory per row bounded by one chunk."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("toks"))
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(f"sequence(0, CAST(ceil(size(toks) / {_CHUNK}.0) AS INT) - 1)")
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(f"size(slice(toks, chunk_idx * {_CHUNK} + 1, {_CHUNK}))").alias(
                "chunk_tokens"
            ),
            F.expr(
                f"array_join(slice(toks, chunk_idx * {_CHUNK} + 1, {_CHUNK}), ' ')"
            ).alias("chunk_text"),
        )
    )


# --------------------------------------------------------------------------
# Corpus n-gram frequency (top-k bigrams)
# --------------------------------------------------------------------------
@query(
    "t_ngram_freq",
    oracle="""
    WITH t AS (
      SELECT regexp_split_to_array(text, '\\s+') AS toks FROM documents
    ), b AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t
    )
    SELECT bigram, count(*) AS n
    FROM b GROUP BY 1
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def t_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 bigram counts — the n-gram language-model /
    boilerplate-detection primitive. zip_with pairs adjacent tokens
    in-row (no join), then ONE hash-aggregate keyed on the bigram with
    map-side partial counts: the shuffle carries at most |vocabulary|²
    rows per partition regardless of corpus size. Top-k via
    orderBy().limit() = TakeOrderedAndProject (per-partition heaps, no
    global sort shuffle). Tie-break (n DESC, bigram ASC) is total, so
    the 50-row cut is deterministic cross-engine."""
    docs = load(spark, sf_dir, "documents")
    bigrams = docs.select(
        F.explode(
            F.expr(
                "zip_with(slice(split(text, '\\\\s+'), 1, "
                "size(split(text, '\\\\s+')) - 1), "
                "slice(split(text, '\\\\s+'), 2, "
                "size(split(text, '\\\\s+')) - 1), "
                "(x, y) -> concat(x, ' ', y))"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


# --------------------------------------------------------------------------
# PII scrubbing (regex redaction)
# --------------------------------------------------------------------------
# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): char classes, bounded/unbounded repetition.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9-]{6,}"


@query(
    "t_pii_scrub",
    oracle=f"""
    WITH aug AS (
      -- The synthetic corpus contains no PII-shaped spans (letters-only
      -- word soup), so the fixture plants deterministic contact strings
      -- derived from doc_id; the operator under test is the scrub itself.
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(raw, '{_PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM aug
    """,
)
def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction (emails, phone numbers) with per-doc match
    counts — the compliance scrub every training-data pipeline runs
    before tokenization. Pure JVM regexp_replace/regexp_count inside
    whole-stage codegen: no shuffle, runs at scan speed, and the regexes
    are anchored to character classes shared by Java regex and RE2 so
    both engines see identical matches. Email is scrubbed before phone so
    digit runs inside addresses can't double-match."""
    docs = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    aug = docs.select("doc_id", raw.alias("raw"))
    return aug.select(
        "doc_id",
        F.regexp_count("raw", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("raw", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


# --------------------------------------------------------------------------
# Corpus-frequency commonness score (unigram-LM quality proxy)
# --------------------------------------------------------------------------
@query(
    "t_unigram_commonness",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
      FROM documents
    ),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(f.c) AS BIGINT) AS freq_sum,
           CAST(sum(f.c) AS DOUBLE) / count(*) AS mean_token_freq
    FROM tok t JOIN freq f ON f.w = t.w
    GROUP BY t.doc_id
    """,
)
def t_unigram_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy: each document scored by the mean corpus
    frequency of its tokens — boilerplate/templated docs score high,
    rare-vocabulary docs low (the integer-exact cousin of mean unigram
    log-probability: frequencies sum as exact bigints, ONE double
    division at the end, where a sum of log-doubles would be
    summation-order-dependent across engines).

    Scale shape: the vocabulary table is Heaps'-law-bounded (sublinear in
    corpus size) and carries just (token, count) — so it BROADCASTS, and
    the token→frequency lookup is a map-side hash join. That broadcast is
    also the skew story: joining on the token by shuffle would put every
    "the" on one reducer; the broadcast join has no reduce side at all.
    If the vocab ever outgrows broadcast, split it hot/cold by df
    (hot = tiny + broadcast, cold = shuffle) — same two-tier pattern as
    d_ngram_jaccard's stop-shingle cap."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w"),
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    return (
        tok.join(F.broadcast(freq), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("c").alias("freq_sum"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
                "mean_token_freq"
            ),
        )
    )


# --------------------------------------------------------------------------
# Overlapping context windows (stride < window: sliding chunks)
# --------------------------------------------------------------------------
_WIN = 32
_STRIDE = 16


@query(
    "t_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(1,
               CAST(ceil((len(toks) - {_WIN - _STRIDE}) / {_STRIDE}.0) AS INT))))
               AS win_idx
      FROM t
    )
    SELECT doc_id, win_idx,
           win_idx * {_STRIDE} AS start_tok,
           len(list_slice(toks, win_idx * {_STRIDE} + 1,
                          win_idx * {_STRIDE} + {_WIN})) AS win_tokens,
           array_to_string(list_slice(toks, win_idx * {_STRIDE} + 1,
                           win_idx * {_STRIDE} + {_WIN}), ' ') AS win_text
    FROM c
    """,
)
def t_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context windows: 32-token windows at stride 16
    (50% overlap) — the training-data chunking that preserves context
    across boundaries, vs t_chunk_split's disjoint cut. Window count is
    max(1, ceil((n - overlap)/stride)), so every token is covered and
    the final window is never a strict subset of the previous one. Same
    scale shape as t_chunk_split: tokenize once, explode(sequence) the
    window indices, slice per row — pipelined into the scan, zero
    shuffles, and the deliberate ~2× row fan-out IS the output."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", r"\s+").alias("toks"))
    n_win = (
        f"greatest(1, CAST(ceil((size(toks) - {_WIN - _STRIDE}) / {_STRIDE}.0)"
        " AS INT))"
    )
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(F.expr(f"sequence(0, {n_win} - 1)")).alias("win_idx"),
        )
        .select(
            "doc_id",
            "win_idx",
            (F.col("win_idx") * _STRIDE).alias("start_tok"),
            F.expr(
                f"size(slice(toks, win_idx * {_STRIDE} + 1, {_WIN}))"
            ).alias("win_tokens"),
            F.expr(
                f"array_join(slice(toks, win_idx * {_STRIDE} + 1, {_WIN}), ' ')"
            ).alias("win_text"),
        )
    )


# --------------------------------------------------------------------------
# Quality-gate funnel (pipeline observability)
# --------------------------------------------------------------------------
@query(
    "t_quality_funnel",
    oracle=f"""
    WITH {_TOKEN_STATS_CTES},
    dh AS (SELECT doc_id, md5(text) AS ch FROM documents),
    keep AS (SELECT ch, min(doc_id) AS canon FROM dh GROUP BY ch),
    gated AS (
      SELECT s.doc_id,
             s.n_tokens >= {_G_MIN_TOKENS} AS pass_len,
             {_G_REP_GATE_SQL} AS pass_rep,
             dh.doc_id = k.canon AS pass_dedup
      FROM s JOIN dh ON dh.doc_id = s.doc_id JOIN keep k ON k.ch = dh.ch
    )
    SELECT CAST(count(*) AS BIGINT) AS n_input,
           CAST(count(*) FILTER (WHERE pass_len) AS BIGINT) AS after_len,
           CAST(count(*) FILTER (WHERE pass_len AND pass_rep) AS BIGINT)
             AS after_repetition,
           CAST(count(*) FILTER (WHERE pass_len AND pass_rep AND pass_dedup)
                AS BIGINT) AS after_dedup
    FROM gated
    """,
)
def t_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-observability funnel: documents surviving each curation
    gate in sequence — token-count floor → Gopher repetition/length
    gates → exact dedup (first arrival per hash survives) — as ONE row
    of cumulative counts. This is the report every corpus build watches
    to see which gate is eating the data. All gates evaluate in one
    pass over the per-doc token stats (the same two doc-keyed shuffles
    as t_gopher_quality) plus the digest-keyed dedup aggregate; the
    funnel itself is a map-side conditional count collapsing to one
    row."""
    stats = _doc_token_stats(spark, sf_dir)
    dh = load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("ch")
    )
    keep = dh.groupBy(F.col("ch").alias("kch")).agg(
        F.min("doc_id").alias("canon")
    )
    gated = (
        stats.join(dh, "doc_id")
        .join(keep, F.col("ch") == F.col("kch"))
        .select(
            (F.col("n_tokens") >= _G_MIN_TOKENS).alias("pass_len"),
            _gopher_rep_gate().alias("pass_rep"),
            (F.col("doc_id") == F.col("canon")).alias("pass_dedup"),
        )
    )
    both = F.col("pass_len") & F.col("pass_rep")
    return gated.agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.col("pass_len").cast("long")).alias("after_len"),
        F.sum(both.cast("long")).alias("after_repetition"),
        F.sum((both & F.col("pass_dedup")).cast("long")).alias("after_dedup"),
    )


# --------------------------------------------------------------------------
# Training-sequence packing (document concatenation into context windows)
# --------------------------------------------------------------------------
_PACK_WINDOW = 256


@query(
    "t_sequence_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST((cum - n_tokens) // {_PACK_WINDOW} AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {_PACK_WINDOW} AS BIGINT) AS pack_offset
    FROM c
    """,
)
def t_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING — how LLM pretraining lays documents into fixed
    context windows: per source, docs are concatenated in doc_id order
    and each doc's window assignment is its START offset in the stream
    (pack_id = start DIV 256, pack_offset = start MOD 256); a doc
    spilling past a window boundary continues into the next pack, the
    standard concat-then-chunk regime (contrast t_chunk_split, which
    chunks WITHIN a doc). The per-source token cumsum is the
    partitioned_running_sum operator (operators/windows.py) with
    doc_id-range buckets (``doc_id DIV 100`` — monotone in the order),
    so no window's input grows with corpus size: pass-1 windows see one
    id-range of one source, pass-2 sees per-bucket totals. Token count
    is the whitespace-split convention shared with t_token_count."""
    from olympic_athletes_etl_spark.operators.windows import (
        partitioned_running_sum,
    )

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    c = partitioned_running_sum(
        t,
        bucket=F.expr("doc_id DIV 100"),
        order_cols=["doc_id"],
        value_col="n_tokens",
        out_col="cum",
        group_cols=["source"],
    )
    start = F.col("cum") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"CAST((cum - n_tokens) DIV {_PACK_WINDOW} AS BIGINT)").alias(
            "pack_id"
        ),
        (start % _PACK_WINDOW).cast("bigint").alias("pack_offset"),
    )


# --------------------------------------------------------------------------
# Mixture schedule — epochs-per-source to hit a target sampling mixture
# --------------------------------------------------------------------------
@query(
    "t_mix_schedule",
    oracle="""
    WITH pert AS (
      SELECT source,
             COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)$', 1)
                                AS BIGINT), 0) + 1 AS weight,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(weight) AS BIGINT) AS total_weight
      FROM pert
    )
    SELECT source, n_docs, n_tokens, weight,
           CAST((1000 * CAST(weight AS HUGEINT) * total_tokens)
                // (CAST(total_weight AS HUGEINT) * n_tokens)
                AS BIGINT) AS epochs_milli
    FROM pert, tot
    """,
)
def t_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture scheduling: given a target sampling weight per
    source (here weight = source index + 1 — in production the tuned
    mixture vector), compute how many EPOCHS of each source (x1000,
    integer) realize that mixture over the whole token budget:
    epochs = (weight/total_weight) / (source_tokens/total_tokens).
    epochs_milli > 1000 means the source must repeat (upsample);
    < 1000 means subsample. This is the planning step behind
    Pile/DoReMi-style weighted mixtures — the number every weighted
    dataloader needs per source, derived inside the engine.

    Scale shape: one map-side-combinable groupBy(source) carrying three
    BIGINTs (token counting is size(split) per row, no explode), plus a
    source-cardinality-row broadcast for the totals. Integer epoch
    arithmetic end-to-end — no float mixture share ever materializes,
    so the schedule is bit-reproducible. The
    1000 * weight * total_tokens product is computed in exact wide
    integers (DECIMAL(38,0) Spark-side, HUGEINT oracle-side — the
    a_gini_spend / v_decile_lift widening), so the schedule has no
    overflow bound below 10^34 weighted tokens — beyond any corpus."""
    docs = load(spark, sf_dir, "documents")
    pert = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), r"\s+"))).alias("n_tokens"),
    ).withColumn(
        # try_cast + coalesce: a source with no trailing digits gets
        # weight 1 on BOTH engines (plain CAST('') raises in DuckDB and
        # NULLs in Spark — divergent); only digit-suffixed names carry
        # the synthetic index+1 weight.
        "weight",
        F.coalesce(
            F.regexp_extract(F.col("source"), r"([0-9]+)$", 1).try_cast(
                "bigint"
            ),
            F.lit(0),
        )
        + 1,
    )
    tot = pert.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("weight").alias("total_weight"),
    )
    return pert.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "weight",
        F.expr(
            "CAST((1000 * CAST(weight AS DECIMAL(38,0)) * total_tokens)"
            " div (CAST(total_weight AS DECIMAL(38,0)) * n_tokens)"
            " AS BIGINT)"
        ).alias("epochs_milli"),
    )


# --------------------------------------------------------------------------
# BM25 relevance ranking — integer-exact full-text retrieval scoring
# --------------------------------------------------------------------------
_BM25_TERMS = ("spark", "merge", "window")
_BM25_TOPN = 15
# k1 = 1.5, b = 0.75 folded into one integer-rational term score:
#   tf_sat = tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/L))
#          = 20000*tf*L / (8*L*tf + 3*L + 9*dl*N)   (x1000, multiply by 8L)
# idf     = floor(log2(N/df)) + 1 == length(bin(N div df)), clamped >= 1
# The rational's products (20000*tf*L, 9*dl*N) are computed in exact
# wide integers — {W} is DECIMAL(38,0) Spark-side, HUGEINT in DuckDB
# (the a_gini_spend widening) — so the score has no BIGINT bound; the
# quotient itself is <= 2500 and both engines' integer division agree
# on non-negative operands (Spark's decimal `div` returns BIGINT).
_BM25_SCORE_T = (
    "((20000 * CAST(tf AS {W}) * L)"
    " div (8 * CAST(L AS {W}) * tf + 3 * L + 9 * CAST(dl AS {W}) * N))"
    " * length(bin(greatest(N div df, 1)))"
)
_BM25_SCORE = _BM25_SCORE_T.format(W="DECIMAL(38,0)")


# The WITH-body and the scored aggregate are shared with the hybrid
# retrieval query (plans/similarity_q.py:s_hybrid_search) — ONE
# definition so the two oracles cannot desync.
_BM25_CTES_DUCK = f"""toks AS (
      SELECT doc_id, u AS token
      FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
            FROM documents), unnest(t) AS x(u)
    ),
    dlen AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
    ),
    corpus AS (
      SELECT CAST(sum(dl) AS BIGINT) AS L, CAST(count(*) AS BIGINT) AS N
      FROM dlen
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM toks
      WHERE token IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
      GROUP BY 1, 2
    ),
    docfreq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    bm_scored AS (
      SELECT tf.doc_id,
             CAST(sum({_BM25_SCORE_T.format(W="HUGEINT").replace(" div ", " // ")}) AS BIGINT)
               AS score_x1000
      FROM tf
      JOIN docfreq df USING (token)
      JOIN dlen d USING (doc_id)
      CROSS JOIN corpus c
      GROUP BY 1
    )"""


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score_x1000) for every query-term-matching document —
    the Spark twin of the ``bm_scored`` CTE above; see t_bm25_rank's
    docstring for the integer-BM25 derivation and plan shape."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("token")
    )
    dlen = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dlen.agg(F.sum("dl").alias("L"), F.count(F.lit(1)).alias("N"))
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        tf.join(F.broadcast(docfreq), "token")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", F.expr(_BM25_SCORE).alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").alias("score_x1000"))
    )


@query(
    "t_bm25_rank",
    oracle=f"""
    WITH {_BM25_CTES_DUCK}
    SELECT doc_id, score_x1000
    FROM bm_scored
    ORDER BY score_x1000 DESC, doc_id
    LIMIT {_BM25_TOPN}
    """,
)
def t_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-text relevance ranking: top-15 documents for a fixed
    multi-term query under BM25 (k1=1.5, b=0.75) — the retrieval scorer
    behind every search engine and RAG corpus index, expressed
    relationally.

    Integer-exact BM25: the term-frequency saturation is one rational
    with the length normalization folded in (multiply through by 8L:
    20000*tf*L / (8L*tf + 3L + 9*dl*N), exact x1000 floor division),
    and the IDF is the floor-log2 trick from the HLL sketch —
    length(bin(N div df)) — so the whole score is exact integer
    arithmetic both engines compute bit-identically; no float sums, no
    round() boundary flips. The rational's products are widened to
    DECIMAL(38,0)/HUGEINT (see _BM25_SCORE_T), so 20000*tf*L is exact
    to 10^38 — no corpus-size overflow bound; the per-term quotient
    itself is bounded by 2500 and sums safely in BIGINT.

    Plan shape: the query-term IN filter lands directly on the exploded
    token stream (the posting-list sliver — rows past the filter are
    matches only, the inverted-index access pattern), doc lengths and
    the corpus totals are map-side-combinable aggregates, per-term doc
    frequencies broadcast (bounded by the query's term count), and the
    top-15 is TakeOrderedAndProject. The one full-corpus pass (dl) is
    shared state every BM25 index precomputes once."""
    return (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("score_x1000"), "doc_id")
        .limit(_BM25_TOPN)
    )


# --------------------------------------------------------------------------
# Stored BM25 index — the text-retrieval index's deployed lifecycle
# (build → store → append → compact → serve), the fourth stored index
# family after LSH postings, the IVFPQ index, and the rollup partials.
# --------------------------------------------------------------------------
_BM25_N_BUCKETS = 16
_BM25_POSTINGS_COLS = ["doc_id", "token", "tf", "tbucket"]


def _polyhash_py(s: str) -> int:
    """Driver-side mirror of _POLYHASH_SPARK (31-base rolling hash mod
    1e9+7, char-by-char ``ord``) — used to turn the QUERY's term
    literals into partition-bucket literals without touching the
    cluster, exactly like _km_probe_lists quantizes the ANN probe
    driver-side. Equality with the Spark/DuckDB forms is pinned in
    test_round9_ops over multibyte codepoints."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % 1_000_000_007
    return acc


def bm25_index_build(docs: DataFrame) -> dict[str, DataFrame]:
    """The three frames a BM25 index precomputes at ingest, from a
    (doc_id, text) frame: full postings (doc_id, token, tf) with the
    token's partition bucket, per-document lengths, and the corpus
    stats AS MERGEABLE PARTIALS (n_docs, sum_dl — the rollup-store
    semigroup, so appends add a row and serving merges; never store
    the final average). All integer, so every frame round-trips
    parquet exactly."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("token")
    )
    dlen = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("dl")
    )
    postings = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .withColumn(
            "tbucket",
            (polyhash_spark("token") % _BM25_N_BUCKETS).cast("int"),
        )
    )
    stats = dlen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        # coalesce: an EMPTY batch's sum is NULL; the stored partial must
        # be (0, 0) so the all-integer contract holds without relying on
        # null-skipping in the serve/compact sums
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )
    return {"postings": postings, "dlen": dlen, "stats": stats}


def _bm25_gen_store(path: str):
    from olympic_athletes_etl_spark.operators.store import GenStore, TableSpec

    return GenStore(
        path,
        [
            TableSpec(
                name="postings",
                columns=tuple(_BM25_POSTINGS_COLS),
                partition_by=("tbucket",),
            ),
            TableSpec(name="dlen", columns=("doc_id", "dl")),
            TableSpec(
                name="stats",
                columns=("n_docs", "sum_dl"),
                merge=lambda s: s.agg(
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.sum("sum_dl").cast("long").alias("sum_dl"),
                ),
            ),
        ],
    )


def bm25_index_store(index: dict[str, DataFrame], path: str) -> None:
    """Persist the index: postings partitioned BY token bucket (the
    serve path prunes to the query terms' buckets at the DIRECTORY
    level), doc lengths and stats partials as plain narrow parquet.
    Create-only: re-storing over an existing path is an atomic snapshot
    replace; bm25_index_append is the ingest-batch path.
    One generation manifest spans all three tables (operators/store.py),
    so compaction commits postings + dlen + stats atomically together —
    a crash can't leave merged stats beside unmerged postings."""
    _bm25_gen_store(path).create(index)


def bm25_index_append(docs_batch: DataFrame, path: str) -> None:
    """Fold a new ingest batch into the stored index: the batch pays
    tokenization over ITS rows only, and every write is a pure append —
    postings and doc lengths are disjoint across batches (a doc_id
    lives in exactly one batch), stats land as one more partial row to
    merge at serve time. Document frequencies are NOT stored, so there
    is nothing stale to rebuild: serving recounts df from the postings
    sliver it reads — the reason this index never needs a
    read-modify-write of history."""
    _bm25_gen_store(path).append(bm25_index_build(docs_batch))


def bm25_index_compact(spark: SparkSession, path: str) -> None:
    """Maintenance pass after N appends: re-file postings to one file
    per bucket directory and doc lengths to one file, and MERGE the
    stats partials to a single row (the rollup_compact semigroup fold).
    Content-identical serve pinned in test_round9_ops. Generation-swap
    rewrite with ONE atomic manifest commit across all three tables
    (operators/store.py) — a crash mid-rewrite leaves the previous
    postings/dlen/stats generation serving, consistently."""
    _bm25_gen_store(path).compact(spark)


def bm25_serve(
    spark: SparkSession, path: str, terms: tuple[str, ...], topn: int
) -> DataFrame:
    """Rank from the STORED index alone — the corpus text is never
    re-read, let alone re-tokenized. The query's term literals are
    bucketed DRIVER-side (_polyhash_py), so the postings scan carries
    both a literal PartitionFilter (tbucket IN — directory pruning;
    regex-pinned) and the token IN pushed filter: the scan reads the
    matching buckets' few narrow rows out of however many billion
    postings the corpus has. Document frequency is recounted from the
    sliver (exact under any append history), corpus stats merge the
    stored partials (one broadcast row), and the one data-proportional
    join — postings ⋈ dlen on doc_id — is bounded by the MATCHING
    docs, not the corpus. Top-n is TakeOrderedAndProject."""
    buckets = sorted({_polyhash_py(t) % _BM25_N_BUCKETS for t in terms})
    tables = _bm25_gen_store(path).load(spark)
    postings = (
        tables["postings"]
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("token").isin(*terms))
        .select("doc_id", "token", "tf")
    )
    docfreq = postings.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    dlen = tables["dlen"]
    stats = tables["stats"].agg(
        F.sum("sum_dl").cast("long").alias("L"),
        F.sum("n_docs").cast("long").alias("N"),
    )
    return (
        postings.join(F.broadcast(docfreq), "token")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_SCORE).alias("s"))
        .groupBy("doc_id")
        .agg(F.sum("s").cast("long").alias("score_x1000"))
        .orderBy(F.desc("score_x1000"), "doc_id")
        .limit(topn)
    )


@query(
    "t_bm25_stored",
    oracle=f"""
    WITH {_BM25_CTES_DUCK}
    SELECT doc_id, score_x1000
    FROM bm_scored
    ORDER BY score_x1000 DESC, doc_id
    LIMIT {_BM25_TOPN}
    """,
)
def t_bm25_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t_bm25_rank served from the MAINTAINED text index — the full
    retrieval-index lifecycle driver-gated: half the corpus indexed
    and stored (bm25_index_build/store, postings partitioned by token
    bucket), the other half APPENDED as an ingest batch
    (bm25_index_append — batch-only tokenization, stats as one more
    mergeable partial row), the store COMPACTED (bm25_index_compact),
    and the query served from the index alone (bm25_serve — driver-side
    term bucketing → literal PartitionFilters, df recounted from the
    read sliver, stats merged from partials). Shares t_bm25_rank's
    full-recompute oracle verbatim: integer tf/dl/stats round-trip
    parquet exactly and df/L/N reconstruct exactly under any
    append/compact history, so the hash proves
    build → store → append → compact → serve end-to-end.

    Cost shape at 100 TB: ingest pays one tokenize+aggregate over the
    batch; a query reads |terms| bucket directories of narrow postings
    plus the doc-length rows of the MATCHING documents. Per-call temp
    dir for re-entrancy like the other stored-index queries."""
    import tempfile

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    half = 250  # dense 0-based doc_ids; both halves non-empty at the
    # driver's sf0.01 (500 docs). At sf0.001 (50 docs) the append batch
    # is EMPTY — deliberately kept: an empty-batch append must also
    # serve exactly (same convention as dedup_q._STORED_SPLIT).
    path = tempfile.mkdtemp(prefix="t_bm25_stored_")
    bm25_index_store(bm25_index_build(docs.filter(F.col("doc_id") < half)), path)
    bm25_index_append(docs.filter(F.col("doc_id") >= half), path)
    bm25_index_compact(spark, path)
    return bm25_serve(spark, path, _BM25_TERMS, _BM25_TOPN)


# --------------------------------------------------------------------------
# Feature hashing (the hashing trick) — fixed-dim sparse token vectors
# --------------------------------------------------------------------------
_FHASH_DIMS = 64


@query(
    "t_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    )
    SELECT doc_id,
           CAST(({polyhash_duck('token')}) % {_FHASH_DIMS} AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS cnt
    FROM tok
    WHERE token <> ''
    GROUP BY 1, 2
    """,
)
def t_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE HASHING (Weinberger et al.'s hashing trick): every token
    maps to one of {d} dimensions via the shared 31-base polyhash, and
    each document becomes a sparse (doc_id, dim, count) vector — the
    fixed-width featurizer that needs NO vocabulary: no dictionary to
    build, broadcast, or keep consistent between training and serving,
    which is the whole point at corpus scale (a vocab join is a shuffle
    and a coordination problem; a hash is a map-side expression).

    Plan: explode + hash + one map-side-combinable groupBy on
    (doc_id, dim) — output cardinality is bounded by docs × {d}.
    Collisions are the accepted trade (two tokens sharing a dim add
    their counts); {d} is deliberately small here so collisions OCCUR
    at test scale and the engines must agree on them exactly."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        tok.select(
            "doc_id",
            (polyhash_spark("token") % _FHASH_DIMS).cast("long").alias("dim"),
        )
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


t_feature_hashing.__doc__ = t_feature_hashing.__doc__.format(d=_FHASH_DIMS)


# --------------------------------------------------------------------------
# Collocation extraction — integer-lift scored bigrams
# --------------------------------------------------------------------------
_COLL_MIN_COUNT = 30
_COLL_TOPN = 20


@query(
    "t_collocations",
    oracle=f"""
    WITH t AS (
      SELECT regexp_split_to_array(text, '\\s+') AS toks FROM documents
    ),
    uni AS (
      SELECT unnest(toks) AS tok FROM t
    ),
    u AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_tok FROM uni
      WHERE tok <> '' GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM u),
    b AS (
      SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
               i -> [toks[i], toks[i + 1]])) AS pair
      FROM t
    ),
    bg AS (
      SELECT pair[1] AS w1, pair[2] AS w2, CAST(count(*) AS BIGINT) AS n_xy
      FROM b WHERE pair[1] <> '' AND pair[2] <> ''
      GROUP BY 1, 2
      HAVING count(*) >= {_COLL_MIN_COUNT}
    )
    SELECT w1, w2, n_xy,
           CAST((10000 * CAST(n_xy AS HUGEINT) * n_total)
                // (CAST(u1.n_tok AS HUGEINT) * u2.n_tok) AS BIGINT)
             AS lift_x10000
    FROM bg
    JOIN u u1 ON u1.tok = bg.w1
    JOIN u u2 ON u2.tok = bg.w2
    CROSS JOIN tot
    ORDER BY lift_x10000 DESC, w1, w2
    LIMIT {_COLL_TOPN}
    """,
)
def t_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION EXTRACTION: the top-{n} word bigrams by association
    LIFT n_xy·N / (n_x·n_y) — the PMI ranking without its logarithm
    (log is monotone, so the ordering is identical and the score stays
    an EXACT x10000 integer; float PMIs would make the cut boundary
    engine-dependent). A count floor of {m} filters the
    two-rare-words-once noise PMI is notorious for — the standard
    Manning-Schütze guard.

    Shape: unigram and bigram counts are both map-side-combinable
    aggregates bounded by vocabulary (Heaps-sublinear in corpus size);
    the two unigram joins hit the SURVIVING bigram set only (post
    count-floor), each a vocabulary-sized equi-join Spark can
    broadcast under AQE; the corpus total is a 1-row broadcast; top-{n}
    is TakeOrderedAndProject on a total order. The 10000·n_xy·N lift
    numerator is computed in exact wide integers (DECIMAL(38,0)
    Spark-side, HUGEINT oracle-side — the a_gini_spend widening), so
    the score is exact to 10^38 >> 10000·N² at any corpus size; no
    descale step remains."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.split("text", r"\s+").alias("toks"))
    # empty tokens (leading-whitespace split artifacts) are excluded from
    # unigram totals and bigram pairs — consistent with t_feature_hashing
    # / t_keyword_extraction; the oracle applies the identical filter.
    uni = toks.select(F.explode("toks").alias("tok")).filter(
        F.col("tok") != ""
    )
    u = uni.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    tot = u.agg(F.sum("n_tok").cast("long").alias("n_total"))
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    " slice(toks, 2, size(toks) - 1),"
                    " (x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .filter(F.col("n_xy") >= _COLL_MIN_COUNT)
    )
    u1 = u.select(F.col("tok").alias("w1"), F.col("n_tok").alias("n1"))
    u2 = u.select(F.col("tok").alias("w2"), F.col("n_tok").alias("n2"))
    return (
        bg.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_xy",
            F.expr(
                "CAST((10000 * CAST(n_xy AS DECIMAL(38,0)) * n_total)"
                " div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
            ).alias("lift_x10000"),
        )
        .orderBy(F.desc("lift_x10000"), "w1", "w2")
        .limit(_COLL_TOPN)
    )


t_collocations.__doc__ = t_collocations.__doc__.format(
    n=_COLL_TOPN, m=_COLL_MIN_COUNT
)


# --------------------------------------------------------------------------
# Keyword extraction — top TF-IDF terms per document, integer-ranked
# --------------------------------------------------------------------------
_KW_PER_DOC = 3


@query(
    "t_keyword_extraction",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok WHERE token <> '' GROUP BY 1, 2
    ),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf
      GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST((10000 * tf.tf * n.n_docs) // df.df AS BIGINT) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY (10000 * tf.tf * n.n_docs) // df.df DESC,
                        tf.token) AS rk
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token, score, CAST(rk AS BIGINT) AS rk
    FROM scored WHERE rk <= {_KW_PER_DOC}
    """,
)
def t_keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DOCUMENT KEYWORD EXTRACTION: each document's top-{k} terms by
    a TF-IDF-style score — the auto-tagging / faceting primitive. The
    score is tf·N/df as an EXACT x10000 integer: the usual tf·ln(N/df)
    is monotone in N/df at fixed tf but NOT jointly monotone with the
    integer surrogate across terms, so the registry pins the
    rational-score variant outright (same spirit as t_collocations
    dropping PMI's log) and both engines rank the identical integers —
    no float boundary can flip who makes the top-{k}.

    Shape: per-doc term counts (one map-side-combinable aggregate),
    document frequencies derived FROM that table (no second corpus
    pass), the doc count a 1-row broadcast, and the per-doc top-{k} a
    doc-partitioned row_number window — WindowGroupLimit prunes to {k}
    rows per doc map-side before the shuffle (the F7/O3 machinery).
    The df join is vocabulary-sized; AQE broadcasts it."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    from pyspark.sql.window import Window

    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.expr("CAST((10000 * tf * n_docs) div df AS BIGINT)").alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _KW_PER_DOC)
    )


t_keyword_extraction.__doc__ = t_keyword_extraction.__doc__.format(
    k=_KW_PER_DOC
)


# --------------------------------------------------------------------------
# BPE merge learning — distributed tokenizer training
# --------------------------------------------------------------------------
def _word_freqs(docs: DataFrame) -> DataFrame:
    """(w, freq) — whitespace word-frequency table. BPE iterates on THIS
    table, not the corpus: pair statistics are identical either way
    (each word contributes freq × its pairs), and at 100 TB the vocab
    is orders of magnitude smaller than the text — one corpus scan +
    one uniform hash shuffle, then every Lloyd-style iteration below
    touches only vocab-cardinality rows. This is how every production
    BPE trainer works (word-count first, merge loop on counts)."""
    return (
        docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _adjacent_pairs(syms_col: str = "syms") -> F.Column:
    # The size >= 2 guard is load-bearing: Spark's sequence(1, 0) is the
    # DESCENDING [1, 0] (not empty), so an unguarded transform over a
    # single-symbol word would fabricate pairs at indices 1 and 0 (and
    # ANSI element_at(_, 0) raises). Same guard _BIGRAM_H_SPARK carries.
    return F.expr(
        f"CASE WHEN size({syms_col}) >= 2 THEN "
        f"transform(sequence(1, size({syms_col}) - 1),"
        f" i -> struct(element_at({syms_col}, i) AS a,"
        f" element_at({syms_col}, i + 1) AS b))"
        f" ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) END"
    )


def _apply_merge_expr(arr: F.Column, a: str, b: str) -> F.Column:
    """Left-to-right greedy merge of adjacent (a, b) → a||b over a
    symbol-array COLUMN EXPRESSION, as a single fold — the exact
    semantics every BPE implementation uses (a symbol consumed by a
    merge can't start the next match). Literals go through F.lit so
    arbitrary text symbols (quotes, backslashes) can't break out of
    the expression. Expression-valued so it nests inside higher-order
    functions (bpe_encode folds per word INSIDE a transform over the
    document's word array)."""
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        # try_element_at: ANSI element_at raises on the empty-array
        # index even behind a size(acc) > 0 conjunct (no short-circuit
        # guarantee inside codegen); the try_ form yields NULL and the
        # null-safe comparison then falls to otherwise().
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _apply_merge(a: str, b: str) -> F.Column:
    """_apply_merge_expr over the ``syms`` column (the trainer's vocab
    table shape)."""
    return _apply_merge_expr(F.col("syms"), a, b)


def bpe_learn_merges(
    docs: DataFrame, n_merges: int = 8
) -> list[tuple[str, str, int]]:
    """YARDSTICK-ONLY distributed BPE trainer — NOT the production
    API. Use ``bpe_learn_merges_local`` (pinned bit-identical): it pays
    the same single corpus scan and then runs the merge loop
    driver-local, where this form pays one Spark job + localCheckpoint
    PER MERGE (32k jobs at a real vocab; the measured crossover in
    SCALE.md says local wins from n=1 because the per-merge cost here
    is scheduler latency, not compute). This form exists as the
    all-Spark semantic twin that cross-checks the local trainer's
    incremental-pair-count bookkeeping.

    Learns ``n_merges`` merge rules over (doc_id, text), returning
    [(left, right, pair_count)] in merge order.

    Construction per iteration (the classic word-count formulation —
    Sennrich et al., ACL 2016, "Neural Machine Translation of Rare
    Words with Subword Units"): adjacent symbol pairs of each vocab
    word weighted by word frequency → one hash-aggregate (map-side
    partial sums; keys are symbol pairs — uniform) → the argmax pair
    collected to the driver (1 row; tie-break max count, then
    lexicographic (a, b) — deterministic cross-run and vs the pure-
    Python reference pinned in tests) → the merge applied to the vocab
    as one narrow fold projection, re-checkpointed (superseded
    checkpoints released — the graph-family discipline).

    Scale shape: the corpus is scanned ONCE (word counts); all
    iterations run on the vocab table (≤ distinct words, shrinking in
    row width as symbols merge). Driver traffic is 1 row per merge —
    but each merge is one Spark job + checkpoint, so at production
    vocab sizes (30k–50k merges) use bpe_learn_merges_local: same one
    corpus scan, merge loop driver-local over the collected word table,
    pinned bit-identical (the crossover is measured in SCALE.md).
    Genuinely iterative with data-dependent literals, so there is no
    static SQL oracle — correctness is pinned by exact equality with
    an independent pure-Python implementation (test_round8_ops) and
    the iteration-0 statistic is separately hash-gated
    (t_char_pair_freq)."""
    from olympic_athletes_etl_spark.operators.graph import _release_checkpoint

    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    syms = (
        _word_freqs(docs)
        .select(F.split("w", "").alias("syms"), "freq")
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            syms.select(F.explode(_adjacent_pairs()).alias("p"), "freq")
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()  # bounded: exactly one row per merge
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        nxt = syms.select(_apply_merge(a, b).alias("syms"), "freq").localCheckpoint(
            eager=True
        )
        _release_checkpoint(syms)
        syms = nxt
    _release_checkpoint(syms)
    return merges


_BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("a", "t"),
    ("d", "at"),
    ("dat", "a"),
    ("s", "t"),
]


def _bpe_fixed_oracle() -> str:
    """Greedy left-to-right BPE merging as pure ANSI-ish SQL, by an
    INDEPENDENT mechanism from the Spark fold: each word becomes a
    delimiter-doubled symbol string (chr(31) around every symbol, so
    adjacent symbols share a DOUBLED delimiter: D a DD b D), and each
    merge is one non-overlapping left-to-right ``replace`` of
    ``D a DD b D`` with ``D ab D`` — the single-delimiter overlap
    between consecutive matches is exactly what makes plain replace
    reproduce the fold's consumed-symbol rule (aaa under (a,a) gives
    [aa, a]; abab under (a,b) gives [ab, ab]). chr(31) never occurs in
    the corpus text (lowercase words + spaces), so the delimiter is
    unambiguous.

    ``enc AS MATERIALIZED``: DuckDB's fused pipeline — the 16-deep
    replace projection feeding the ordered string_agg — OOMs past an
    80GB cap at sf10 (27.5M words), while the same aggregate over a
    materialized enc runs in the standard 24GB sweep cap (r13).
    Materialization is a no-op for correctness."""
    d = "chr(31)"

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    enc = (
        f"{d} || array_to_string(list_transform(range(1, len(w) + 1),"
        f" i -> substr(w, CAST(i AS INT), 1)), {d} || {d}) || {d}"
    )
    for a, b in _BPE_FIXED_MERGES:
        enc = (
            f"replace({enc}, ({d} || {lit(a)} || {d} || {d} || {lit(b)}"
            f" || {d}), ({d} || {lit(a + b)} || {d}))"
        )
    return rf"""
    WITH wl AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'),
                         x -> len(x) > 0) AS ws
      FROM documents
    ), words AS (
      SELECT doc_id, unnest(ws) AS w,
             unnest(range(1, len(ws) + 1)) AS pos
      FROM wl
    ), enc AS MATERIALIZED (
      SELECT doc_id, pos,
             array_to_string(list_filter(string_split({enc}, {d}),
                             x -> len(x) > 0), ' ') AS toks
      FROM words
    )
    SELECT doc_id, string_agg(toks, ' ' ORDER BY pos) AS encoded
    FROM enc GROUP BY doc_id
    """


@query("t_bpe_encode_fixed", oracle=_bpe_fixed_oracle())
def t_bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, encoded) — every document tokenized with a FROZEN
    literal merge list, space-joined in document order. The
    static-oracle gate for the JVM encoder, the way t_char_pair_freq
    gates the trainer's iteration-0 statistic: with the merge list
    fixed, the encode is fully SQL-expressible. Since the r11 rewrite
    both engines use the delimiter-doubled replace mechanism (see
    bpe_encode — it is the fastest JVM form by 5×), so this gate pins
    the construction cross-ENGINE (regexp/replace/split semantics,
    whole-doc vs per-word application); the cross-MECHANISM pin moved
    to t_bpe_encode_arrow (Python greedy FOLD vs SQL rewrite) plus the
    per-doc fold-equality pytest pins. The list exercises the hard
    cases: a three-step cascade builds 'data' ((a,t) → (d,at) →
    (dat,a) — later rules consume earlier rules' outputs) plus an
    independent (s,t) rule.

    spread_on doc_id (tables.spread, guide §2.5): parallelizes the
    16-deep per-document replace cascade off the bench layout's single
    populated scan task (measured −38% on this query); no-op when the
    layout splits. Per-row deterministic rewrite — partitioning cannot
    change any value."""
    docs = load(spark, sf_dir, "documents", spread_on="doc_id")
    return bpe_encode(docs, _BPE_FIXED_MERGES).select(
        "doc_id", F.array_join("tokens", " ").alias("encoded")
    )


@query("t_bpe_encode_arrow", oracle=_bpe_fixed_oracle())
def t_bpe_encode_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t_bpe_encode_fixed through the PRODUCTION encoder: the same
    frozen merge list applied by bpe_encode_pandas (Arrow-batched
    mapInPandas, constant plan size — the form that survives real
    vocab sizes; see SCALE.md round-9) instead of the chained fold.
    Shares the fold query's DuckDB oracle verbatim, so the driver gate
    proves all THREE implementations agree on the corpus: the Spark
    fold, the Python fold in the Arrow worker, and the delimiter-
    rewrite SQL — the strongest cross-implementation pin the encoder
    family has.

    spread_on doc_id: same guide-§2.5 redistribution as the fold twin —
    here it additionally parallelizes the Arrow worker pool (one Python
    worker per populated partition; a single-task scan would feed ONE
    worker). Per-row deterministic; no-op when the layout splits."""
    docs = load(spark, sf_dir, "documents", spread_on="doc_id")
    return bpe_encode_pandas(docs, _BPE_FIXED_MERGES).select(
        "doc_id", F.array_join("tokens", " ").alias("encoded")
    )


def _bpe_merges_from_word_freqs(
    wf: dict[str, int], n_merges: int
) -> list[tuple[str, str, int]]:
    """Driver-local BPE merge loop over a word-frequency table — the
    incremental-pair-count formulation every production trainer uses
    (Sennrich's learn_bpe.py, HuggingFace tokenizers): pair counts are
    built once, then each merge touches only the words that contain the
    merged pair, updating counts by delta; the argmax comes from a
    max-heap with lazy invalidation (an entry is valid iff its count
    still matches the live table — stale entries from superseded pushes
    are skipped on pop). Tie-break identical to the distributed loop
    and the pure-Python reference: max count, then lexicographic
    (a, b) — the heap key (-count, a, b) encodes exactly that.

    A later merge can re-create an already-merged pair by string value
    (two different merges can produce equal symbol strings); the delta
    bookkeeping re-inserts its count and heap entry, so the loop stays
    exactly equivalent to recount-from-scratch — pinned against both
    the distributed trainer and the independent reference in
    test_round9_ops."""
    import heapq

    vocab = {w: list(w) for w in wf}
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[str]] = {}
    for w, f in wf.items():
        s = vocab[w]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(w)
    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges and heap:
        negc, a, b = heapq.heappop(heap)
        cur = pair_counts.get((a, b), 0)
        if cur != -negc or cur <= 0:
            continue  # lazy invalidation: count changed since this push
        merges.append((a, b, cur))
        touched: dict[tuple[str, str], int] = {}
        # pop the member set: the merge consumes every live occurrence;
        # if a later merge re-creates the pair, setdefault rebuilds it
        for w in pair_words.pop((a, b), ()):
            s = vocab[w]
            new: list[str] = []
            for x in s:
                if new and new[-1] == a and x == b:
                    new[-1] = a + b
                else:
                    new.append(x)
            if new == s:
                continue  # stale member (pair left this word earlier)
            f = wf[w]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                touched[p] = touched.get(p, 0) - f
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                touched[p] = touched.get(p, 0) + f
                pair_words.setdefault(p, set()).add(w)
            vocab[w] = new
        for p, d in touched.items():
            if d == 0:
                continue
            c2 = pair_counts.get(p, 0) + d
            if c2 > 0:
                pair_counts[p] = c2
                heapq.heappush(heap, (-c2, p[0], p[1]))
            else:
                pair_counts.pop(p, None)
    return merges


def bpe_learn_merges_local(
    docs: DataFrame, n_merges: int = 8, min_freq: int = 1
) -> list[tuple[str, str, int]]:
    """bpe_learn_merges at PRODUCTION merge counts: one distributed
    corpus scan builds the word-frequency table (the only part that
    sees the 100 TB), the table is collected, and the merge loop runs
    driver-local — so n_merges=30k costs one Spark job instead of 30k
    sequential job+checkpoint round trips (the distributed loop's
    documented ceiling; see bpe_learn_merges).

    The collect is vocab-cardinality, not corpus-cardinality: distinct
    whitespace words — tens of millions of short rows at web scale,
    i.e. driver-RAM-sized, which is why every production BPE trainer
    (Sennrich, SentencePiece, HF tokenizers) trains exactly this way.
    ``min_freq`` is the standard vocabulary bound when even that is too
    big: words below the floor are dropped BEFORE the collect (a
    distributed filter), trading exactness for a hard cap — the default
    1 keeps the result bit-identical to bpe_learn_merges (pinned in
    test_round9_ops, plus the measured crossover note in SCALE.md)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if min_freq < 1:
        raise ValueError(f"min_freq must be >= 1, got {min_freq}")
    wfd = _word_freqs(docs)
    if min_freq > 1:
        wfd = wfd.filter(F.col("freq") >= min_freq)
    wf = {r["w"]: int(r["freq"]) for r in wfd.collect()}
    return _bpe_merges_from_word_freqs(wf, n_merges)


def bpe_encode_pandas(
    docs: DataFrame, merges: list[tuple[str, str, int]] | list[tuple[str, str]]
) -> DataFrame:
    """bpe_encode at PRODUCTION merge counts: the fold encoder chains
    one projection per merge, which is scan-bound and shuffle-free but
    grows the Catalyst expression tree linearly in n_merges — analysis/
    codegen cost passes the Arrow-batched Python cost well before
    real-vocab sizes (measured crossover in SCALE.md). This form ships
    the frozen rules into an Arrow-batched mapInPandas worker instead:
    constant-size plan however many merges, same embarrassingly
    parallel scan shape, zero shuffles.

    Per-batch word memoization makes the Python loop pay per DISTINCT
    word, not per token — the corpus's Zipf repetition is the whole
    speedup. Fold semantics are byte-identical to _apply_merge (rules
    in learned order, left-to-right greedy, a consumed symbol can't
    start the next match) — pinned equal to bpe_encode in
    test_round9_ops. The worker closure is self-contained (nested
    function, imports inside), so no pickle-by-value registration is
    needed."""
    rules = [(str(m[0]), str(m[1])) for m in merges]

    def encode_batches(batches):
        import re as _re

        import pandas as _pd

        memo: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            got = memo.get(w)
            if got is None:
                s = list(w)
                for a, b in rules:
                    out: list[str] = []
                    for x in s:
                        if out and out[-1] == a and x == b:
                            out[-1] = a + b
                        else:
                            out.append(x)
                    s = out
                memo[w] = got = s
            return got

        for pdf in batches:
            toks = [
                [t for w in _re.split(r"\s+", txt) if w for t in enc_word(w)]
                for txt in pdf["text"]
            ]
            out = _pd.DataFrame({"doc_id": pdf["doc_id"], "tokens": toks})
            # token-less docs (empty/whitespace-only text) are OMITTED,
            # matching bpe_encode exactly: its posexplode produces no
            # rows for them, so they vanish from the groupBy — without
            # this filter the two encoders disagree on such corpora.
            yield out[out["tokens"].map(len) > 0]

    return docs.select("doc_id", "text").mapInPandas(
        encode_batches, "doc_id long, tokens array<string>"
    )


@query(
    "t_char_pair_freq",
    oracle=r"""
    WITH w AS (
      SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents
    ),
    wf AS (SELECT w, count(*) AS freq FROM w WHERE len(w) > 0 GROUP BY w),
    -- range() rejects lateral column bounds; build the index list in
    -- scalar context and unnest the two substr lists in LOCKSTEP
    -- (DuckDB zips parallel unnests of equal length)
    p AS (
      SELECT unnest(list_transform(range(1, len(w)),
               i -> substr(w, CAST(i AS INT), 1))) AS a,
             unnest(list_transform(range(1, len(w)),
               i -> substr(w, CAST(i + 1 AS INT), 1))) AS b,
             freq
      FROM wf
    )
    SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
    FROM p GROUP BY a, b
    """,
)
def t_char_pair_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted adjacent character-pair frequencies — BPE's
    iteration-0 statistic, hash-gated so the distributed word-count +
    pair-explode machinery under bpe_learn_merges is oracle-proven
    (the merge LOOP itself has data-dependent literals, hence no
    static SQL twin — see bpe_learn_merges). Pair keys are uniform;
    the vocab-table formulation means the corpus is scanned once
    regardless of n_merges."""
    docs = load(spark, sf_dir, "documents")
    pairs = (
        _word_freqs(docs)
        # single-char words contribute no pairs — and MUST be filtered:
        # Spark's sequence(1, 0) is the descending [1, 0], which would
        # fabricate ('c', '') and position-0 pairs (see _adjacent_pairs)
        .filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> struct(substring(w, i, 1) AS a,"
                    " substring(w, i + 1, 1) AS b))"
                )
            ).alias("p"),
            "freq",
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    return pairs.select("a", "b", "cnt")


def bpe_encode(
    docs: DataFrame, merges: list[tuple[str, str, int]] | list[tuple[str, str]]
) -> DataFrame:
    """(doc_id, tokens) — tokenize every document with an already-learned
    merge list: per word, start from characters and apply the merges IN
    LEARNED ORDER, each merge one fold over the word's symbol array.
    The whole encode is ROW-LOCAL — split the document into its word
    array, fold every word in place (transform), flatten — so the plan
    is a single narrow projection over the scan: no explode, no
    shuffle, no per-document regroup. (The pre-r11 form exploded to one
    row per word and reassembled with groupBy + collect_list +
    array_sort — a full token-level shuffle that cost 12× the Arrow
    encoder at sf0.1 even at 4 rules; word order is now simply the
    array order, no position bookkeeping.) This is the serving half of
    bpe_learn_merges: train once on the word-count table, encode any
    corpus with the frozen rules — at 100 TB the encode is scan-bound
    and embarrassingly parallel.

    Mechanism (r11): the delimiter-doubled string rewrite — the same
    construction the DuckDB oracle uses, because it is the FASTEST
    JVM-side form: the whole document becomes one ``\\x1f``-delimited
    symbol string (adjacent symbols share a DOUBLED delimiter; words
    are separated by ``D<space>D``, which no merge pattern can span
    since symbols contain no spaces), and each merge is ONE literal
    ``replace`` whose non-overlapping left-to-right scan reproduces
    the greedy fold's consumed-symbol rule exactly. Zero higher-order
    functions, zero arrays until the final token split, zero shuffle —
    pure whole-stage-codegen string ops. (The pre-r11 explode+fold
    form paid a token-level shuffle plus an interpreted O(len²)
    array fold per word: 12× slower at sf0.1 even at 4 rules.)
    Requires ``\\x1f`` absent from the corpus (docstring contract; the
    cleaning pipeline strips control chars). Exactness vs the
    reference Python FOLD encoder is pinned per-doc in
    test_round8_ops/test_round9_ops — fold semantics vs rewrite
    mechanism is the strongest in-repo cross-implementation pin.
    Token-less documents (empty or whitespace-only text) produce no
    output row, matching bpe_encode_pandas. The chained replaces still
    grow the plan linearly in n_merges — past the measured crossover
    (SCALE.md) use bpe_encode_pandas, the constant-plan-size
    Arrow-batched twin, or bpe_encode_auto which dispatches on the
    rule count."""
    d = "\x1f"
    s = F.regexp_replace(
        F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")),
        r"(?<=\S)(?=\S)",
        d + d,
    )
    s = F.concat(F.lit(d), s, F.lit(d))
    s = F.replace(s, F.lit(" "), F.lit(d + " " + d))
    for m in merges:
        a, b = str(m[0]), str(m[1])
        s = F.replace(s, F.lit(d + a + d + d + b + d), F.lit(d + a + b + d))
    encoded = F.replace(F.replace(s, F.lit(d + d), F.lit(" ")), F.lit(d), F.lit(""))
    tokens = F.filter(
        F.split(encoded, " "), lambda t: F.length(t) > 0
    )
    return docs.select("doc_id", tokens.alias("tokens")).filter(
        F.size("tokens") > 0
    )


#: measured fold-vs-Arrow crossover in rule count (SCALE.md): past this
#: the chained fold's linear plan growth loses to the constant-size
#: Arrow encoder even before worker warmup amortizes.
BPE_FOLD_MAX_MERGES = 16


def bpe_encode_auto(
    docs: DataFrame, merges: list[tuple[str, str, int]] | list[tuple[str, str]]
) -> DataFrame:
    """Dispatching encoder: the JVM fold for small rule lists (≤
    ``BPE_FOLD_MAX_MERGES`` — zero Python, whole-stage codegen), the
    Arrow-batched bpe_encode_pandas past the crossover (constant plan
    size at real vocab counts). Safe to dispatch on because the two
    encoders are pinned byte-identical (test_round9_ops)."""
    if len(merges) > BPE_FOLD_MAX_MERGES:
        return bpe_encode_pandas(docs, merges)
    return bpe_encode(docs, merges)


# --------------------------------------------------------------------------
# Unicode normalization (NFC + mojibake repair) — the standard
# Common-Crawl-style cleaning step: fix UTF-8-as-Windows-1252 mojibake,
# strip zero-width characters, map the NBSP family to plain spaces,
# collapse whitespace, then NFC-compose. Because the driver testdata is
# pure ASCII, the query first constructs the dirty text DETERMINISTICALLY
# from documents.text (decomposed combining accents, mojibake sequences,
# zero-width spaces, NBSPs) with the identical replace-chain in both
# engines, so the gate actually exercises every repair path instead of
# hashing an identity transform.
# --------------------------------------------------------------------------
_UNI_DIRTY: tuple[tuple[str, str], ...] = (
    ("a", "á"),  # decomposed combining acute -> NFC must compose
    ("e", "Ã©"),  # mojibake 'e' (UTF-8 e-acute read as Windows-1252)
    ("o", "o​"),  # zero-width space injection
    ("s ", "s "),  # NBSP after plural/terminal s
)


def _uni_oracle() -> str:
    from olympic_athletes_etl_spark.functions.text import (
        MOJIBAKE_TABLE,
        NBSP_CLASS,
        ZERO_WIDTH_CLASS,
    )

    dirty = "text"
    for bad, good in _UNI_DIRTY:
        dirty = f"replace({dirty}, '{bad}', '{good}')"
    rep = "t"
    for bad, good in MOJIBAKE_TABLE:
        rep = f"replace({rep}, '{bad}', '{good}')"
    clean = (
        f"trim(regexp_replace(regexp_replace(regexp_replace({rep},"
        f" '{ZERO_WIDTH_CLASS}', '', 'g'),"
        f" '{NBSP_CLASS}', ' ', 'g'),"
        " '[ \t\r\n\f]+', ' ', 'g'))"
    )
    return f"""
    WITH d AS (SELECT doc_id, {dirty} AS t FROM documents),
         c AS (SELECT doc_id, length(t) AS n_chars_dirty,
                      nfc_normalize({clean}) AS s
               FROM d)
    SELECT doc_id, n_chars_dirty,
           length(s) AS n_chars_norm,
           md5(s) AS norm_md5
    FROM c
    """


@query("t_unicode_normalize", oracle=_uni_oracle())
def t_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC + mojibake-repair unicode cleaning over documents.text.

    Everything except the NFC composition is JVM-side replace /
    regexp_replace (scan-speed, whole-stage codegen); the NFC step is an
    Arrow-batched pandas UDF (`functions.text.nfc_normalize`) because
    Spark has no built-in UAX#15 normalizer. At 100 TB this is a pure
    narrow map — no shuffle, embarrassingly parallel, Arrow transfer
    only for the one column being normalized."""
    from olympic_athletes_etl_spark.functions.text import clean_unicode, nfc_normalize

    docs = load(spark, sf_dir, "documents")
    dirty = F.col("text")
    for bad, good in _UNI_DIRTY:
        dirty = F.replace(dirty, F.lit(bad), F.lit(good))
    d = docs.select("doc_id", dirty.alias("t"))
    c = d.select(
        "doc_id",
        F.length("t").alias("n_chars_dirty"),
        nfc_normalize(clean_unicode("t")).alias("s"),
    )
    return c.select(
        "doc_id",
        "n_chars_dirty",
        F.length("s").alias("n_chars_norm"),
        F.md5(F.col("s").cast("binary")).alias("norm_md5"),
    )


# --------------------------------------------------------------------------
# Per-document unigram entropy (information-density quality signal)
# --------------------------------------------------------------------------


@query(
    "t_doc_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    cnt AS (
      SELECT doc_id, token, count(*) AS c
      FROM tok GROUP BY doc_id, token
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             CAST(sum(CAST(round(c * log2(CAST(c AS DOUBLE)) * 1000000)
                           AS BIGINT)) AS BIGINT) AS clog_micro
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id,
           n_tokens,
           n_distinct,
           clog_micro,
           round(log2(CAST(n_tokens AS DOUBLE))
                 - (clog_micro / 1000000.0) / n_tokens, 4)
             AS entropy_bits,
           CASE WHEN n_distinct > 1 THEN
             round((log2(CAST(n_tokens AS DOUBLE))
                    - (clog_micro / 1000000.0) / n_tokens)
                   / log2(CAST(n_distinct AS DOUBLE)), 4)
           END AS entropy_norm
    FROM agg
    """,
)
def t_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy — the information-density
    quality signal pretraining filters use alongside the Gopher gates
    (low entropy = boilerplate/spam/keyword stuffing; see Rae et al.
    2021 §A1.2's repetition rationale). Shape: explode tokens → one
    hash-aggregate per (doc, token) → one per-doc aggregate; identical
    to t_gopher_quality's two-shuffle plan, so it scales the same way
    (token explode is a narrow map, both aggregates combine map-side).

    Numeric form (r12, per the registry's integer-exact determinism
    convention): each term c*log2(c) is quantized to MICRO-BIT integers
    at the (doc, token) row — round(c * log2(c) * 1e6) — and summed as
    BIGINT, so the per-doc accumulation is order-independent (a plain
    double sum's value depends on Spark's nondeterministic partition
    merge order, and per-doc error grows with token count — the r11
    ADVICE flake risk). Every log2 argument is an exact integer in BOTH
    engines (single libm call per distinct count, no accumulation);
    clog_micro is gated exactly, and the entropy_bits/entropy_norm
    doubles are single deterministic expressions over the exact
    integers (n_tokens, n_distinct, clog_micro). Quantization bias is
    bounded by 0.5e-6 * n_distinct/N <= 0.5e-6 bits — three orders
    below the 4-decimal output granule. Overflow headroom: a term is
    ~c*log2(c)*1e6 <= N*log2(N)*1e6, so BIGINT holds per-doc sums to
    ~1e8-token documents. entropy_norm (entropy / log2(n_distinct)) is
    null for single-token vocabularies, where normalization is
    undefined."""
    docs = load(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ", -1)).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    clog_q = F.expr(
        "CAST(round(c * log2(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(clog_q).alias("clog_micro"),
    )
    ent = F.log2(F.col("n_tokens").cast("double")) - (
        F.col("clog_micro") / F.lit(1000000.0)
    ) / F.col("n_tokens")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "clog_micro",
        F.round(ent, 4).alias("entropy_bits"),
        F.when(
            F.col("n_distinct") > 1,
            F.round(ent / F.log2(F.col("n_distinct").cast("double")), 4),
        ).alias("entropy_norm"),
    )
