"""_scan_row_groups: short-circuit + spread gating (r14 scale-safety).

At a production layout (many files per table) the spread decision is
known after ~cores/2 row groups; the counter must stop reading footers
there instead of walking every file (VERDICT r13 item 3).
"""
from __future__ import annotations

import os
import uuid
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as real_pq
import pytest

from olympic_athletes_etl_spark.plans import tables


@pytest.fixture()
def many_file_dir(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    tbl = pa.table({"x": [1, 2, 3]})
    for i in range(20):
        real_pq.write_table(tbl, d / f"part-{i:05d}.parquet")
    (d / "_SUCCESS").write_text("")  # non-parquet entries are skipped
    return str(d)


def _counting_parquet_file(counter):
    orig = real_pq.ParquetFile

    class Counting:
        def __init__(self, path):
            counter.append(path)
            self._pf = orig(path)

        @property
        def metadata(self):
            return self._pf.metadata

    return Counting


def test_short_circuits_at_threshold(many_file_dir, monkeypatch):
    reads: list[str] = []
    monkeypatch.setattr(
        real_pq, "ParquetFile", _counting_parquet_file(reads)
    )
    tables._scan_row_groups.cache_clear()
    got = tables._scan_row_groups(many_file_dir, 5)
    assert got == 5  # stopped AT the threshold, not the true 20
    assert len(reads) == 5  # one footer per row group here; 15 unread


def test_counts_all_below_threshold(many_file_dir):
    tables._scan_row_groups.cache_clear()
    # threshold above the true total: must return the exact total
    assert tables._scan_row_groups(many_file_dir, 100) == 20


def test_single_file(tmp_path):
    p = tmp_path / "one.parquet"
    real_pq.write_table(pa.table({"x": list(range(10))}), p)
    tables._scan_row_groups.cache_clear()
    assert tables._scan_row_groups(str(p), 999) == 1


def _session_with_parallelism(par: int):
    """The one thing spread() reads from its session, pinned, so both
    branches are asserted whatever the host's core count."""
    return SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=par))


def test_spread_decision_unchanged(many_file_dir, tmp_path, spark):
    """spread() must no-op on a many-row-group layout and fire on a
    single-row-group one — same behavior as the r13 full-count form.
    It fires when row groups < max(2, par // 2), and then
    hash-repartitions to ``par`` partitions on the key."""
    one = tmp_path / "one.parquet"
    real_pq.write_table(pa.table({"x": list(range(10))}), one)
    df = spark.range(10)
    cases = [
        (many_file_dir, 2, False),  # 20 row groups >= 2
        (many_file_dir, 40, False),  # 20 >= 20
        (many_file_dir, 64, True),  # 20 < 32
        (str(one), 2, True),  # 1 < 2
        (str(one), 64, True),  # 1 < 32
    ]
    for path, par, fires in cases:
        tables._scan_row_groups.cache_clear()
        out = tables.spread(df, _session_with_parallelism(par), path, "id")
        if not fires:
            assert out is df, (path, par)
            continue
        top = out._jdf.queryExecution().analyzed().toString().splitlines()[0]
        assert top.startswith("RepartitionByExpression [id#"), (path, par, top)
        assert top.endswith(f", {par}"), (path, par, top)
    tables._scan_row_groups.cache_clear()


def test_load_infers_each_table_schema_once(tmp_path, spark):
    """load() infers a table's parquet schema with one Spark job the
    first time, then reuses it: a second load launches no job. A file
    rewritten with a different schema is inferred again."""
    sc = spark.sparkContext
    path = tmp_path / "region.parquet"
    real_pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)

    def jobs_of_load():
        group = f"schema-cache-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            df = tables.load(spark, str(tmp_path), "region")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    first, n_first = jobs_of_load()
    assert n_first >= 1  # the footer-inference job
    again, n_again = jobs_of_load()
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(r[0] for r in again.collect()) == [0, 1]

    real_pq.write_table(
        pa.table({"r_regionkey": [2], "r_name": ["x"]}), path
    )
    st = os.stat(path)
    # a rewrite within the filesystem's timestamp granularity keeps the
    # old mtime; move it so the test does not depend on that granularity
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    rewritten, _ = jobs_of_load()
    assert rewritten.columns == ["r_regionkey", "r_name"]
    assert [tuple(r) for r in rewritten.collect()] == [(2, "x")]


def test_schema_cache_keys_on_inference_confs(tmp_path, spark):
    """A read under a different inference conf is inferred again, not
    served the schema cached under the old conf."""
    from pyspark.sql.types import BinaryType, StringType

    conf = "spark.sql.parquet.binaryAsString"
    real_pq.write_table(
        pa.table({"r_regionkey": [0], "r_name": pa.array([b"x"], pa.binary())}),
        tmp_path / "region.parquet",
    )
    assert isinstance(
        tables.load(spark, str(tmp_path), "region").schema["r_name"].dataType,
        BinaryType,
    )
    spark.conf.set(conf, "true")
    try:
        df = tables.load(spark, str(tmp_path), "region")
        assert isinstance(df.schema["r_name"].dataType, StringType)
        assert [tuple(r) for r in df.collect()] == [(0, "x")]
    finally:
        spark.conf.unset(conf)
