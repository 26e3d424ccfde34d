"""Driver-contract surface: every registered query analyzes against the
testdata schemas, and a representative subset executes at sf0.001.

Full value-level parity vs DuckDB lives in tools/check_parity.py (run at
sf0.01); this suite is the fast always-on guard.
"""

from __future__ import annotations

import pytest

from olympic_athletes_etl_spark.plans import oracle_sql, queries

EXECUTE_SAMPLE = [
    "flagship_region_top_customers",
    "q1_pricing_summary",
    "a_mode_per_group",
    "w_forward_fill",
    "d_minhash_lsh",
    "s_knn_bruteforce",
    "e_sessionize",
    "t_quality_score",
]


def test_registry_shape():
    qs, osql = queries(), oracle_sql()
    assert len(qs) >= 57
    # every oracle key has a query; column-compare contract needs both
    assert set(osql) <= set(qs)


def test_audit_prefix_composition():
    """Pin the driver audit prefix: names, order, and exactly-50 length.

    plans/__init__ promotes AUDIT_PREFIX to the front of the registry;
    the driver's correctness gate audits that 50-query prefix. promote()
    raises KeyError on unknown names, but nothing else guards ORDER — a
    later registration-order change or a stray promote() call could
    silently rotate a family out of the audited prefix. This pin makes
    that loud. Update AUDIT_PREFIX (and COVERAGE.md's rotation log)
    deliberately each round; this test just restates it.
    """
    from olympic_athletes_etl_spark.plans import AUDIT_PREFIX

    assert len(AUDIT_PREFIX) == 50
    assert len(set(AUDIT_PREFIX)) == 50
    names = list(queries())
    assert names[:50] == AUDIT_PREFIX
    # every prefix entry is hash-oracle-gated (not rows-only)
    missing_oracle = [n for n in AUDIT_PREFIX if n not in oracle_sql()]
    assert not missing_oracle, missing_oracle


@pytest.mark.parametrize("name", sorted(queries()))
def test_query_analyzes(built_query, name):
    df = built_query(name)
    assert len(df.columns) > 0  # forces analysis (schema resolution)


@pytest.mark.parametrize("name", EXECUTE_SAMPLE)
def test_query_executes(built_query, name):
    out = built_query(name).limit(5).collect()
    assert out is not None


@pytest.mark.parametrize("name", sorted(queries()))
def test_no_duplicate_output_columns(built_query, name):
    """The driver's compare sorts columns BY NAME before hashing —
    duplicate names would silently corrupt the comparison."""
    cols = built_query(name).columns
    assert len(cols) == len(set(cols))


# Types whose driver-side rendering diverges from the Spark value even when
# the numeric value is identical: DuckDB widens integer sum() to HUGEINT
# (int128), and nanosecond timestamps stringify with extra precision.
# check_parity.py's fetchall() canonicalizes these away (Python ints), so it
# is structurally blind to the divergence — this lint is the only local
# guard. Cost a driver hash-fail each in r2 (d_simhash, d_simhash_wide,
# e_sessionize); fix is CAST(... AS BIGINT) in the oracle.
_BANNED_DUCK_TYPES = {"HUGEINT", "UHUGEINT", "TIMESTAMP_NS"}

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def test_oracle_output_types_not_widened(sf_dir):
    """No oracle may produce a HUGEINT/UHUGEINT/TIMESTAMP_NS column."""
    import duckdb

    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    offenders = {}
    for name, sql in sorted(oracle_sql().items()):
        rel = con.sql(sql)  # lazy: plans (types resolve) without executing
        types = [str(t) for t in rel.types]
        hits = {
            col: typ
            for col, typ in zip(rel.columns, types)
            if typ in _BANNED_DUCK_TYPES
        }
        if hits:
            offenders[name] = hits
    assert not offenders, (
        f"oracles with driver-hostile output types: {offenders} — "
        "wrap the column in CAST(... AS BIGINT) (lossless for these sums)"
    )


@pytest.mark.parametrize("name", ["t_source_mix", "t_gopher_quality"])
def test_integer_sum_queries_invariant_to_input_layout(spark, sf_dir, name):
    """These queries aggregate exact integer counts, so their output is
    claimed independent of physical layout (double sums would not be).
    Run the same query under a different shuffle-partition setting and
    compare full row sets."""
    fn = queries()[name]
    rows1 = {tuple(r) for r in fn(spark, sf_dir).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        rows2 = {tuple(r) for r in fn(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert rows1 == rows2
