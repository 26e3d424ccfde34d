"""Round-11 pins: unicode normalization (NFC + mojibake repair).

The gated query constructs dirty text deterministically, so these tests
pin the helper semantics directly on hand-written unicode fixtures —
the cases the ASCII testdata cannot exercise on its own.
"""

from __future__ import annotations

import unicodedata

import pytest
from pyspark.sql import Row

from olympic_athletes_etl_spark.functions.text import (
    MOJIBAKE_TABLE,
    clean_unicode,
    nfc_normalize,
    repair_mojibake,
)


def _one(spark, s: str) -> str:
    df = spark.createDataFrame([Row(s=s)])
    return df.select(
        nfc_normalize(clean_unicode("s")).alias("out")
    ).collect()[0]["out"]


def test_nfc_composes_decomposed_accents(spark):
    # a + combining acute -> precomposed á; NFC is idempotent.
    assert _one(spark, "café á") == "café á"
    assert _one(spark, "café") == "café"


def test_mojibake_table_round_trips(spark):
    # every table entry is exactly the UTF-8 encoding of its repair
    # read back as Windows-1252 (the classic mojibake path) — the table
    # can't drift from the real fix.
    for bad, good in MOJIBAKE_TABLE:
        assert bad == good.encode("utf-8").decode("cp1252")
    df = spark.createDataFrame([Row(s="fiancÃ© said â€™hiâ€™")])
    out = df.select(repair_mojibake("s").alias("o")).collect()[0]["o"]
    assert out == "fiancé said ’hi’"


def test_zero_width_and_nbsp_cleanup(spark):
    dirty = "a​b﻿  c d e  f"
    assert _one(spark, dirty) == "ab c d e f"


def test_clean_matches_python_reference(spark):
    # end-to-end vs a pure-Python reference of the same pipeline
    cases = [
        "mixed á Ã© zero​width nb sp   tabs\t\tend ",
        "already clean ascii",
        "﻿bom lead Ã¨ trail‍",
    ]

    def ref(s: str) -> str:
        for bad, good in MOJIBAKE_TABLE:
            s = s.replace(bad, good)
        for z in "​‌‍﻿":
            s = s.replace(z, "")
        for n in "   ":
            s = s.replace(n, " ")
        import re

        s = re.sub("[ \t\r\n\f]+", " ", s).strip()
        return unicodedata.normalize("NFC", s)

    for s in cases:
        assert _one(spark, s) == ref(s)


def test_unicode_normalize_query_shape(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.textstats import t_unicode_normalize

    out = t_unicode_normalize(spark, sf_dir)
    assert out.columns == ["doc_id", "n_chars_dirty", "n_chars_norm", "norm_md5"]
    row = out.orderBy("doc_id").first()
    # normalization only ever shrinks the constructed dirty text
    assert row["n_chars_norm"] < row["n_chars_dirty"]


@pytest.mark.parametrize(
    "module, append, partials, serve, table",
    [
        ("relational", "rollup_append", "_monthly_partials", "rollup_serve", "orders"),
        ("relational", "qhist_rollup_append", "_qhist_partials", "qhist_rollup_serve", "orders"),
        ("sketch_q", "hll_rollup_append", "hll_rollup_partials", "hll_rollup_serve", "events"),
    ],
    ids=["rollup_append", "qhist_rollup_append", "hll_rollup_append"],
)
def test_hll_rollup_store_append_autocreates(
    spark, sf_dir, tmp_path, module, append, partials, serve, table
):
    """An append on a fresh path auto-creates the store, for every rollup
    family: an ingest's first batch may append to a path no store has
    written yet, and GenStore.append alone would raise ValueError."""
    import importlib

    from olympic_athletes_etl_spark.plans.tables import load as load_t

    mod = importlib.import_module(f"olympic_athletes_etl_spark.plans.{module}")
    path = str(tmp_path / "store")
    getattr(mod, append)(getattr(mod, partials)(load_t(spark, sf_dir, table)), path)
    assert getattr(mod, serve)(spark, path).count() > 0


def test_bpe_encode_rewrite_edge_cases(spark):
    """The delimiter-rewrite encoder matches the fold on the hard
    inputs: overlapping merges (aaa under (a,a)), cascades through
    merged symbols, empty/whitespace-only docs omitted."""
    from pyspark.sql import Row

    from olympic_athletes_etl_spark.plans.textstats import (
        bpe_encode,
        bpe_encode_pandas,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaa abab data"),
            Row(doc_id=2, text="   "),
            Row(doc_id=3, text=""),
            Row(doc_id=4, text="t at dat data sat"),
        ]
    )
    merges = [("a", "a"), ("a", "b"), ("a", "t"), ("d", "at"), ("dat", "a")]
    got = {r["doc_id"]: list(r["tokens"]) for r in bpe_encode(docs, merges).collect()}
    want = {
        r["doc_id"]: list(r["tokens"])
        for r in bpe_encode_pandas(docs, merges).collect()
    }
    assert got == want
    assert set(got) == {1, 4}  # token-less docs omitted on both paths
    assert got[1][:2] == ["aa", "a"]  # greedy non-overlapping (a,a)


# --------------------------------------------------------------------------
# Round-11 registrations 2/3: per-doc unigram entropy + URL-canonical
# dedup. The parity gate hashes them against DuckDB; these pins check
# the SEMANTICS against a pure-Python reference / the rule invariants.
# --------------------------------------------------------------------------


def test_doc_entropy_matches_python_reference(spark, sf_dir):
    import math
    from collections import Counter

    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import t_doc_entropy

    out = {
        r["doc_id"]: r
        for r in t_doc_entropy(spark, sf_dir).orderBy("doc_id").limit(8).collect()
    }
    texts = {
        r["doc_id"]: r["text"]
        for r in load(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(8)
        .collect()
    }
    for doc_id, text in texts.items():
        c = Counter(text.split(" "))
        n = sum(c.values())
        # mirror the r12 quantized spec: per-term micro-bit integers
        # (order-independent integer sum), then one double expression
        clog_micro = sum(
            int(
                (lambda x: math.floor(x + 0.5))(v * math.log2(v) * 1000000)
            )
            for v in c.values()
        )
        ent = math.log2(n) - (clog_micro / 1000000.0) / n
        ent_exact = math.log2(n) - sum(
            v * math.log2(v) for v in c.values()
        ) / n
        row = out[doc_id]
        assert row["n_tokens"] == n
        assert row["n_distinct"] == len(c)
        assert row["clog_micro"] == clog_micro
        assert abs(row["entropy_bits"] - round(ent, 4)) < 1e-9
        # quantization bias vs the exact double entropy stays sub-granule
        assert abs(row["entropy_bits"] - ent_exact) < 1e-4 + 1e-6
        if len(c) > 1:
            assert abs(
                row["entropy_norm"] - round(ent / math.log2(len(c)), 4)
            ) < 1e-9
        else:
            assert row["entropy_norm"] is None


def test_doc_entropy_bounds(spark, sf_dir):
    import math

    from olympic_athletes_etl_spark.plans.textstats import t_doc_entropy

    for r in t_doc_entropy(spark, sf_dir).collect():
        assert -1e-9 <= r["entropy_bits"] <= math.log2(r["n_distinct"]) + 1e-4
        if r["entropy_norm"] is not None:
            assert -1e-9 <= r["entropy_norm"] <= 1 + 1e-9


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
