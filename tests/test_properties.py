"""Property-based tests (hypothesis) for the engine's determinism
contracts — the invariants the DuckDB oracle relies on, checked over
generated inputs rather than fixtures.

Spark jobs per example are expensive, so each property batches ALL
generated cases into ONE DataFrame and asserts row-wise (max_examples
kept small; the batch carries the case diversity).
"""

from __future__ import annotations

import datetime
import re

from hypothesis import given, settings, strategies as st

from olympic_athletes_etl_spark.etl.noc import LEGACY_NOC_MAP, _canonicalize
from olympic_athletes_etl_spark.sources.html_source import (
    parse_kv_table,
    parse_results_table,
)

# ---------------------------------------------------------------------------
# Pure-python properties (no Spark session — run per-example, cheap)
# ---------------------------------------------------------------------------
_COUNTRIES = sorted(
    {"germany", "france", "south korea", "united states", "guinea",
     "equatorial guinea", "chad", "niger", "nigeria"},
    key=len,
    reverse=True,
)


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=80))
@settings(max_examples=200, deadline=None)
def test_canonicalize_total_and_idempotent_on_no_match(s):
    """canonicalize never raises, always returns a string, and output
    containing no separators is stable under a second pass."""
    out = _canonicalize(s, _COUNTRIES)
    assert isinstance(out, str)
    # matched outputs are sorted comma-joined subsets of the country list
    if out and all(part in _COUNTRIES for part in out.split(",")):
        assert out.split(",") == sorted(set(out.split(",")))


@given(st.lists(st.sampled_from(_COUNTRIES), min_size=1, max_size=4),
       st.sampled_from([" and ", "/", ", ", ";"]))
@settings(max_examples=100, deadline=None)
def test_canonicalize_finds_all_mentioned_countries(names, sep):
    """Any separator-joined list of known names canonicalizes to exactly
    the sorted distinct set — unless one name is a word-substring of
    another mention (longest-first removal consumes it)."""
    joined = sep.join(names)
    out = _canonicalize(joined, _COUNTRIES)
    got = set(out.split(","))
    want = set(names)
    # 'guinea' inside 'equatorial guinea' is consumed by the longer match:
    # only assert for inputs with no word-substring nesting across DISTINCT names
    nested = any(
        a != b and re.search(rf"(?<!\w){re.escape(a)}(?!\w)", b)
        for a in want
        for b in want
    )
    if not nested:
        assert got == want


@given(st.integers(min_value=0, max_value=10**9))
@settings(max_examples=50, deadline=None)
def test_legacy_map_rewrite_order_is_stable(seed):
    """The legacy map is an ordered tuple — the rewrite cascade depends on
    it; pin the first/last entries so accidental reordering fails loudly."""
    assert LEGACY_NOC_MAP[0] == ("west germany", "germany")
    assert LEGACY_NOC_MAP[-1] == ("viet nam", "vietnam")


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdef ", min_size=1, max_size=10).map(str.strip),
            st.text(alphabet="xyz123 ", max_size=10),
        ),
        max_size=8,
    )
)
@settings(max_examples=100, deadline=None)
def test_parse_kv_table_last_wins_and_skips_blank_keys(pairs):
    rows = [[k, v] for k, v in pairs]
    out = parse_kv_table(rows)
    for k, v in out.items():
        assert k != ""
        # last occurrence of a key wins (dict construction order)
        last = [vv for kk, vv in pairs if kk == k][-1]
        assert v == last


@given(st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=4))
@settings(max_examples=50, deadline=None)
def test_parse_results_header_rows_never_leak(n_sections, rows_per_section):
    """Section-header rows are consumed, never emitted; every emitted row
    carries its section's carry-values."""
    header = ["Games", "Discipline", "NOC", "As", "Event", "Pos"]
    table = [header]
    for s in range(n_sections):
        table.append([f"G{s}", f"D{s}", f"N{s}", f"A{s}", "", ""])
        for r in range(rows_per_section):
            table.append(["", "", "", "", f"event-{s}-{r}", str(r)])
    out = parse_results_table(table)
    assert len(out) == n_sections * rows_per_section
    for rec in out:
        s = int(rec["Event"].split("-")[1])
        assert rec["Games"] == f"G{s}" and rec["NOC"] == f"N{s}"


# ---------------------------------------------------------------------------
# Spark-backed properties — ONE session job over a generated batch
# ---------------------------------------------------------------------------
def test_merge_upsert_key_uniqueness_property(spark):
    """For any (target, updates) with unique keys each: merged keys ==
    (target ∪ updates) minus deleted; updates win on overlap."""
    import random

    from olympic_athletes_etl_spark.operators.relational import merge_upsert

    rnd = random.Random(42)
    for trial in range(5):
        t_keys = rnd.sample(range(100), rnd.randint(0, 20))
        u_keys = rnd.sample(range(100), rnd.randint(0, 20))
        deletes = {k for k in u_keys if rnd.random() < 0.3}
        target = spark.createDataFrame(
            [(k, f"t{k}") for k in t_keys] or [(None, None)], "k int, v string"
        ).filter("k IS NOT NULL")
        updates = spark.createDataFrame(
            [(k, f"u{k}", k in deletes) for k in u_keys] or [(None, None, None)],
            "k int, v string, is_delete boolean",
        ).filter("k IS NOT NULL")
        out = {r["k"]: r["v"] for r in
               merge_upsert(target, updates, ["k"], delete_col="is_delete").collect()}
        want_keys = (set(t_keys) | set(u_keys)) - deletes
        assert set(out) == want_keys, f"trial {trial}"
        for k in want_keys:
            assert out[k] == (f"u{k}" if k in set(u_keys) - deletes else f"t{k}")


def test_polyhash_spark_matches_python(spark):
    """The Spark-side polynomial hash must equal the reference python
    computation for arbitrary ASCII strings (the dedup family's oracle
    identity depends on this)."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.textstats import polyhash_spark

    def py_hash(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % 1_000_000_007
        return acc

    cases = ["", "a", "hello world", "x" * 200, "the quick brown fox", "123 456"]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], ["i", "s"])
    got = {
        r["i"]: r["h"]
        for r in df.select("i", polyhash_spark("s").alias("h")).collect()
    }
    assert got == {i: py_hash(c) for i, c in enumerate(cases)}


def test_parse_date_flexible_matches_python_strptime(spark):
    """For generated valid 'd MMMM yyyy' strings and bare years, the
    Spark parse must equal python's strptime — one batched job."""
    import calendar

    from olympic_athletes_etl_spark.functions.text import parse_date_flexible

    cases = []
    for year in (1896, 1950, 2001, 2024):
        for month in (1, 2, 6, 12):
            for day in (1, 9, 28):
                s = f"{day} {calendar.month_name[month]} {year}"
                cases.append((s, datetime.date(year, month, day)))
        cases.append((str(year), datetime.date(year, 1, 1)))
    cases += [("31 February 2000", None), ("once upon a time", None), ("", None)]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i int, s string"
    )
    got = {
        r["i"]: r["d"]
        for r in df.select("i", parse_date_flexible("s").alias("d")).collect()
    }
    assert got == {i: want for i, (_, want) in enumerate(cases)}


# ---------------------------------------------------------------- codecs
# Round-4 decoders: encode→decode must be the identity for EVERY shape
# and payload, not just the examples in test_multimodal.

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


def _rand_pixels(draw, max_side=16):
    h = draw(st.integers(min_value=1, max_value=max_side))
    w = draw(st.integers(min_value=1, max_value=max_side))
    data = draw(
        st.binary(min_size=h * w * 3, max_size=h * w * 3)
    )
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)


@st.composite
def _pixels(draw):
    return _rand_pixels(draw)


@given(_pixels())
@settings(max_examples=60, deadline=None)
def test_ppm_round_trip_identity(arr):
    from olympic_athletes_etl_spark.multimodal import decode_image, encode_ppm

    w, h, out = decode_image(encode_ppm(arr))
    assert (w, h) == (arr.shape[1], arr.shape[0])
    assert np.array_equal(out, arr)


@given(_pixels())
@settings(max_examples=40, deadline=None)
def test_bmp_round_trip_identity(arr):
    from tests.test_multimodal import _bmp24

    from olympic_athletes_etl_spark.multimodal import decode_image

    w, h, out = decode_image(_bmp24(arr))
    assert (w, h) == (arr.shape[1], arr.shape[0])
    assert np.array_equal(out, arr)


@given(
    st.binary(min_size=2, max_size=400),
    st.sampled_from([1, 2]),
    st.sampled_from([8000, 44100]),
)
@settings(max_examples=60, deadline=None)
def test_wav_round_trip_identity(data, nch, rate):
    from olympic_athletes_etl_spark.multimodal import decode_audio, encode_wav

    n = (len(data) // (2 * nch)) * (2 * nch)
    if n == 0:
        return
    samples = np.frombuffer(data[:n], dtype="<i2").reshape(-1, nch)
    got_rate, got_nch, out = decode_audio(encode_wav(samples, rate))
    assert (got_rate, got_nch) == (rate, nch)
    assert np.array_equal(out, samples)


# ------------------------------------------------- NOC UDF == DF twin
# The round-6 shared oracle for u_noc_canonicalize rests on this
# equivalence: on a name list where no valid name word-boundary-contains
# another (true of the TPC-H nation names), the UDF's longest-first
# remove-and-rescan equals the DF twin's match-all + containment filter.
# Exercise it over a broad generated compound set — all ordered name
# pairs x separator forms, legacy-name rewrites landing on in-list
# targets, casing/whitespace perturbations, noise and no-match rows —
# in ONE batched job per side.


def test_noc_udf_equals_df_twin_on_generated_compounds(spark, sf_dir):
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.etl.noc import (
        canonicalize_noc_df,
        canonicalize_noc_udf,
    )
    from olympic_athletes_etl_spark.plans.tables import load

    nation = load(spark, sf_dir, "nation")
    names = [r[0] for r in nation.select("n_name").collect()]
    assert len(names) == 25
    # precondition for the shared-oracle claim: overlap-free list
    lowered = [n.lower().strip() for n in names]
    for a in lowered:
        for b in lowered:
            if a != b:
                assert not re.search(
                    rf"(?<!\w){re.escape(a)}(?!\w)", b
                ), (a, b)

    seps = [" and ", "/", ", ", "; ", " AND "]
    cases: list[str] = []
    for i, a in enumerate(names):
        for j in (1, 7, 12):  # three partners per name, deterministic
            b = names[(i * 3 + j) % 25]
            cases.append(f"{a}{seps[(i + j) % len(seps)]}{b}")
    # triples, casing, padding, noise
    cases += [f"{names[i]} and {names[(i+5) % 25]}, {names[(i+11) % 25]}"
              for i in range(0, 25, 3)]
    cases += [f"  {n.lower()}  " for n in names[:8]]
    cases += [f"{n.title()} team" for n in names[8:16]]
    cases += [f"the {n} delegation" for n in names[16:24]]
    # legacy rewrites whose targets are in the nation list
    cases += [
        "Viet Nam", "United Arab Republic", "Peoples Republic of China",
        "USSR and France",  # russian federation NOT in list -> partial match
        "Atlantis", "", "   ", "no countries here",
    ]

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id int, NOC string"
    )
    via_df = canonicalize_noc_df(df, nation, noc_col="NOC", name_col="n_name")
    got_df = {r["id"]: r["NOC"] for r in via_df.collect()}
    udf = canonicalize_noc_udf(names)
    got_udf = {
        r["id"]: r["NOC"]
        for r in df.withColumn("NOC", udf(F.col("NOC"))).collect()
    }
    assert got_df == got_udf


def test_dense_ids_permutation_property(spark):
    """dense_ids over random multisets (duplicate keys included) and
    random partition counts: the id column is EXACTLY the set 1..N, and
    walking the rows in id order never decreases the key — together
    these are the whole ROW_NUMBER contract (ties get arbitrary but
    dense ids). A handful of generated cases, each its own job
    (dense_ids is a global operator — cases can't batch into one frame
    like the other Spark properties here)."""
    import random

    from olympic_athletes_etl_spark.operators.scale import dense_ids

    rng = random.Random(0xD15EA5E)
    for _ in range(6):
        n = rng.randint(1, 400)
        keys = [rng.randint(-50, 50) for _ in range(n)]  # heavy ties
        parts = rng.choice([1, 2, 3, 7, 16, 64])  # incl. parts > n
        df = spark.createDataFrame(
            [(k,) for k in keys], "k int"
        ).repartition(rng.choice([1, 4, 9]))
        rows = dense_ids(df, ["k"], num_partitions=parts).collect()
        ids = sorted(r["dense_id"] for r in rows)
        assert ids == list(range(1, n + 1)), (n, parts)
        by_id = sorted(rows, key=lambda r: r["dense_id"])
        ks = [r["k"] for r in by_id]
        assert ks == sorted(keys), (n, parts)
