"""Invariant tests for the deterministic sketch/layout queries
(plans/sketch_q.py). Each assertion is a property a buggy oracle that
mirrored the bug could not catch: estimator-theory bounds (CMS never
underestimates, Bloom never misses), conservation against the raw
tables, and the z-order locality envelope the layout exists to provide.
The stored HLL rollup's lifecycle (store/append/compact/serve) and its
month-partitioned layout are pinned at the end.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.plans import queries
from olympic_athletes_etl_spark.plans.tables import load
from tests.test_round9_ops import _parquet_files_by_dir
from tests.test_store import jobs_run


def _q(name):
    return queries()[name]


# ------------------------------------------------- KMV cardinality sketch


def test_cardinality_sketch_estimates_within_sampling_error(spark, sf_dir):
    rows = _q("a_cardinality_sketch")(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_exact"] >= 1
        assert r["est_distinct"] >= 0
        # K=16 minima give ~1/sqrt(16) = 25% relative error; allow a
        # generous 4x band so the test pins the ESTIMATOR (not noise)
        # and still catches an off-by-modulus or dropped-permutation bug
        # (which lands orders of magnitude off).
        assert r["est_distinct"] <= 4 * r["n_exact"] + 4
        assert 4 * (r["est_distinct"] + 1) >= r["n_exact"]


def test_cardinality_sketch_covers_every_event_type(spark, sf_dir):
    got = {r["event_type"] for r in _q("a_cardinality_sketch")(spark, sf_dir).collect()}
    want = {
        r["event_type"]
        for r in load(spark, sf_dir, "events").select("event_type").distinct().collect()
    }
    assert got == want


# ------------------------------------------------- count-min heavy hitters


def test_cms_never_underestimates_and_misses_no_heavy_hitter(spark, sf_dir):
    rows = _q("t_heavy_hitters")(spark, sf_dir).collect()
    assert len(rows) > 0  # stopwords clear the 1/200 screen even at sf0.001
    for r in rows:
        # CMS is an upper bound by construction (hash collisions only add).
        assert r["cms_est"] >= r["n_exact"]
    # no false negatives: every token whose EXACT count clears the screen
    # must be in the output (est >= exact >= threshold).
    docs = load(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    )
    tot = tokens.count()
    exact_heavy = {
        r["w"]
        for r in tokens.groupBy("w")
        .count()
        .filter(F.col("count") >= tot // 200)
        .collect()
    }
    got = {r["w"] for r in rows}
    assert exact_heavy <= got


# ------------------------------------------------- z-order layout


def test_zorder_conserves_rows_and_bounds_envelopes(spark, sf_dir):
    rows = _q("r_zorder_layout")(spark, sf_dir).collect()
    cust = load(spark, sf_dir, "customer")
    assert sum(r["n_rows"] for r in rows) == cust.count()
    for r in rows:
        assert 0 <= r["file_id"] <= 63
        # 16 consecutive z-values only vary the low 2 bits of EACH
        # dimension -> every file's envelope spans <= 4 values per axis.
        # This is the pruning guarantee the layout exists for; a
        # non-interleaved (e.g. concatenated-bits) zval would blow it.
        assert r["max_nation"] - r["min_nation"] <= 3
        assert r["max_balbucket"] - r["min_balbucket"] <= 3
        assert 0 <= r["min_balbucket"] <= r["max_balbucket"] <= 31


# ------------------------------------------------- Bloom prefilter


def test_bloom_prefilter_has_no_false_negatives(spark, sf_dir):
    rows = _q("d_bloom_prefilter")(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # Bloom can only over-approximate the eval set.
        assert r["n_shingles"] >= r["n_bloom_hits"] >= r["n_exact_hits"] >= 0
        assert r["n_bloom_hits"] > 0  # the registered screen


def test_histogram_median_brackets_the_lower_median(spark, sf_dir):
    """The histogram targets the LOWER median (first bucket whose
    cumulative count reaches half the group) — for tiny even-sized
    groups the INTERPOLATED exact median can legitimately sit buckets
    away, so the sharp invariant is against the lower median value:
    it must fall inside the reported bucket (midpoint within half a
    bucket width)."""
    rows = _q("a_histogram_median")(spark, sf_dir).collect()
    cust = load(spark, sf_dir, "customer")
    assert sum(r["n_customers"] for r in rows) == cust.count()
    by_nation: dict[int, list[float]] = {}
    for r in cust.select("c_nationkey", "c_acctbal").collect():
        by_nation.setdefault(r["c_nationkey"], []).append(r["c_acctbal"])
    for r in rows:
        assert 0 <= r["med_bucket"] <= 63
        vals = sorted(by_nation[r["c_nationkey"]])
        lower_med = vals[(len(vals) - 1) // 2]
        assert abs(r["est_median"] - lower_med) <= 172.0 / 2


# ------------------------------------------------- exact-moment regression


def test_corr_regression_matches_native_corr(spark, sf_dir):
    rows = _q("a_corr_regression")(spark, sf_dir).collect()
    assert len(rows) == 3  # A/N/R return flags
    native = {
        r["l_returnflag"]: (r["c"], r["s"])
        for r in load(spark, sf_dir, "lineitem")
        .withColumn("di", F.round(F.col("l_discount") * 100, 0))
        .groupBy("l_returnflag")
        .agg(
            F.corr("l_quantity", "di").alias("c"),
            (
                F.covar_pop("l_quantity", "di") / F.var_pop("l_quantity")
            ).alias("s"),
        )
        .collect()
    }
    for r in rows:
        assert -1.0 <= r["corr_qty_disc"] <= 1.0
        nc, ns = native[r["l_returnflag"]]
        # native float partial sums agree with the exact-moment form to
        # well inside the 1e-4 band at these magnitudes
        assert abs(r["corr_qty_disc"] - nc) < 1e-4
        assert abs(r["ols_slope"] - ns) < 1e-4
        # slope and correlation must share a sign (same numerator)
        assert (r["corr_qty_disc"] >= 0) == (r["ols_slope"] >= 0)


# ------------------------------------------------- OHLC bars


def test_ohlc_bars_internally_consistent(spark, sf_dir):
    rows = _q("e_ohlc_bars")(spark, sf_dir).collect()
    assert len(rows) > 0
    ev = load(spark, sf_dir, "events")
    assert sum(r["n"] for r in rows) == ev.count()
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
    # single-event bars must collapse to one value on all four fields
    for r in rows:
        if r["n"] == 1:
            assert r["open"] == r["high"] == r["low"] == r["close"]


# ------------------------------------------------- integer z-score anomalies


def test_anomaly_days_all_beyond_two_sigma(spark):
    # sf0.001's short span yields few/no anomalies; pin at sf0.01
    # (overridable alongside the fixture's env var).
    import os

    sf = os.environ.get(
        "SPARK_GRAFT_TEST_SF01_DIR", "/root/testdata/sf0.01"
    )
    rows = _q("e_anomaly_days")(spark, sf).collect()
    assert len(rows) > 0
    daily = (
        load(spark, sf, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    import statistics

    by_type: dict[str, list[int]] = {}
    for r in daily:
        by_type.setdefault(r["event_type"], []).append(r["n"])
    flagged = {(r["event_type"], r["day"]) for r in rows}
    for r in daily:
        vals = by_type[r["event_type"]]
        mu = statistics.fmean(vals)
        sigma = statistics.pstdev(vals)
        if sigma == 0:
            # zero-variance groups are excluded by the query's
            # var_num > 0 guard — they must never be flagged
            assert (r["event_type"], r["day"]) not in flagged
            continue
        z = (r["n"] - mu) / sigma
        assert ((r["event_type"], r["day"]) in flagged) == (abs(z) > 2), (
            r,
            z,
        )
    for r in rows:
        assert abs(r["zscore"]) > 2.0


# ------------------------------------------------- triangle counting


def test_triangle_count_matches_bruteforce(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.graph_q import _edges

    edge_rows = _edges(spark, sf_dir).collect()
    edges = {(r["pa"], r["pb"]) for r in edge_rows}
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    brute = sum(
        1
        for a, b in edges
        for c in adj[a] & adj[b]
        if b < c  # (a < b) already; a < b < c counts each triangle once
    )
    [row] = _q("g_triangle_count")(spark, sf_dir).collect()
    assert row["n_triangles"] == brute
    assert row["n_edges"] == len(edges)
    assert row["n_nodes"] == len(adj)
    assert 0.0 <= row["global_clustering"] <= 1.0


def test_degree_histogram_conserves_nodes_and_edges(spark, sf_dir):
    rows = _q("g_degree_histogram")(spark, sf_dir).collect()
    [tri] = _q("g_triangle_count")(spark, sf_dir).collect()
    assert sum(r["n_nodes"] for r in rows) == tri["n_nodes"]
    # handshake lemma: sum of degrees = 2 * edges
    assert sum(r["deg"] * r["n_nodes"] for r in rows) == 2 * tri["n_edges"]


def test_bloom_prefilter_screen_keeps_every_exact_contaminated_doc(
    spark, sf_dir
):
    """Every train doc with >= 1 exact eval shingle must survive the
    Bloom screen (no-false-negative at the doc level): compare against
    an independently computed exact overlap."""
    from olympic_athletes_etl_spark.plans.dedup_q import (
        _CONTAM_MOD,
        _doc_shingle_hashes,
    )

    sh = _doc_shingle_hashes(spark, sf_dir)
    ev = sh.filter(F.col("doc_id") % _CONTAM_MOD == 0).select("h").distinct()
    exact_docs = {
        r["doc_id"]
        for r in sh.filter(F.col("doc_id") % _CONTAM_MOD != 0)
        .join(ev, "h", "left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    got = {r["doc_id"] for r in _q("d_bloom_prefilter")(spark, sf_dir).collect()}
    assert exact_docs <= got


# ------------------------------------------------- mixture schedule


def test_mix_schedule_realizes_target_mixture(spark, sf_dir):
    rows = _q("t_mix_schedule")(spark, sf_dir).collect()
    assert len(rows) == 20
    total_tokens = sum(r["n_tokens"] for r in rows)
    total_weight = sum(r["weight"] for r in rows)
    # the scheduled token mass of each source must realize its target
    # share up to the documented millis truncation
    for r in rows:
        scheduled = r["epochs_milli"] * r["n_tokens"]
        target = 1000 * r["weight"] * total_tokens // total_weight
        # floor division in epochs_milli loses < 1 milli-epoch, i.e.
        # at most n_tokens scheduled tokens (+1 for the target's own
        # floor), and never overshoots.
        assert 0 <= target - scheduled <= r["n_tokens"] + 1, (
            r,
            target,
            scheduled,
        )
        assert r["epochs_milli"] > 0


# ------------------------------------------------- centroid outliers


def test_centroid_outliers_match_bruteforce(spark, sf_dir):
    rows = _q("s_centroid_outliers")(spark, sf_dir).collect()
    assert len(rows) > 0
    emb = load(spark, sf_dir, "embeddings").collect()
    by_label: dict[int, list] = {}
    for r in emb:
        q = [round(float(x) * 1_000_000) for x in r["embedding"]]
        by_label.setdefault(r["label"], []).append((r["vec_id"], q))
    expect = set()
    for label, vecs in by_label.items():
        cent = [sum(v[d] for _, v in vecs) for d in range(64)]
        def trunc_div(x, d):
            # Spark div / DuckDB // TRUNCATE toward zero; Python // floors
            return x // d if x >= 0 else -((-x) // d)

        millis = {
            vid: trunc_div(sum(a * b for a, b in zip(v, cent)), 1_000_000)
            for vid, v in vecs
        }
        m = len(millis)
        sx = sum(millis.values())
        sxx = sum(x * x for x in millis.values())
        for vid, x in millis.items():
            if (m * x - sx) ** 2 > 4 * (m * sxx - sx * sx) > 0:
                expect.add((vid, label))
    got = {(r["vec_id"], r["label"]) for r in rows}
    assert got == expect
    for r in rows:
        assert abs(r["zscore"]) > 2.0


# ------------------------------------------------- histogram drift


def test_histogram_drift_matches_bruteforce_tv(spark, sf_dir):
    rows = _q("v_histogram_drift")(spark, sf_dir).collect()
    assert len(rows) > 0
    ev = load(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).collect()
    assert sum(r["n_weekday"] + r["n_weekend"] for r in rows) == len(ev)
    hist: dict[str, dict[int, list[int]]] = {}
    for r in ev:
        b = round(float(r["value"]) * 100) // 2500
        wd = 0 if r["ts"].weekday() < 5 else 1
        hist.setdefault(r["event_type"], {}).setdefault(b, [0, 0])[wd] += 1
    for r in rows:
        cells = hist[r["event_type"]]
        n1 = sum(v[0] for v in cells.values())
        n2 = sum(v[1] for v in cells.values())
        assert (n1, n2) == (r["n_weekday"], r["n_weekend"])
        tv = 1000 * sum(
            abs(v[0] * n2 - v[1] * n1) for v in cells.values()
        ) // (2 * n1 * n2)
        assert tv == r["tv_permille"]
        assert 0 <= tv <= 1000


def test_sketch_algebra_union_bounds_and_merge_property(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.sketch_q import a_sketch_algebra

    r = a_sketch_algebra(spark, sf_dir).collect()[0]
    # exact identities the ride-along columns must satisfy
    assert r["n_union"] == r["n_a"] + r["n_b"] - r["n_inter"]
    assert r["n_inter"] <= min(r["n_a"], r["n_b"])
    # union-sketch estimate can never fall below either side's estimate:
    # elementwise min over mins only shrinks the sum of minima
    assert r["est_union"] >= max(r["est_a"], r["est_b"])
    # 3-sigma-ish sanity band at k=16 (~25% stderr)
    for est, exact in (
        (r["est_a"], r["n_a"]),
        (r["est_b"], r["n_b"]),
        (r["est_union"], r["n_union"]),
    ):
        assert exact * 0.25 < est < exact * 2.5
    assert r["est_inter"] >= 0


def test_join_size_estimate_overestimates_and_is_tight_enough(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.sketch_q import (
        _JS_D,
        _JS_W,
        v_join_size_estimate,
    )

    r = v_join_size_estimate(spark, sf_dir).collect()[0]
    # CMS inner product NEVER underestimates (hash collisions only add)
    assert r["est_rows"] >= r["exact_rows"]
    # additive error bound: <= (total_a * total_b) / w per row, min of d
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.tables import load

    ev = load(spark, sf_dir, "events")
    ta = ev.filter(F.col("event_type") == "view").count()
    tb = ev.filter(F.col("event_type") == "click").count()
    assert r["est_rows"] <= r["exact_rows"] + (ta * tb) // _JS_W + 1


# --------------------------------------------------------------------------
# Stored HLL rollup — mergeable-sketch partials (store/append/compact/serve)
# --------------------------------------------------------------------------
class TestHLLRollup:
    def _store(self, spark, sf_dir, tmp_path, batches):
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_append,
            hll_rollup_partials,
            hll_rollup_store,
        )
        from olympic_athletes_etl_spark.plans.tables import load

        events = load(spark, sf_dir, "events")
        path = str(tmp_path / "regs")
        first, *rest = batches
        hll_rollup_store(hll_rollup_partials(first(events)), path)
        for b in rest:
            hll_rollup_append(hll_rollup_partials(b(events)), path)
        return path, events

    def test_batched_store_equals_one_shot(self, spark, sf_dir, tmp_path):
        """Register merge across batches: user-parity batches put every
        day in both files, so correct serving REQUIRES the max-merge."""
        from olympic_athletes_etl_spark.plans.sketch_q import hll_rollup_serve

        path, _ = self._store(
            spark,
            sf_dir,
            tmp_path / "a",
            [
                lambda e: e.filter(F.col("user_id") % 2 == 0),
                lambda e: e.filter(F.col("user_id") % 2 == 1),
            ],
        )
        one, _ = self._store(spark, sf_dir, tmp_path / "b", [lambda e: e])
        got = sorted(tuple(r) for r in hll_rollup_serve(spark, path).collect())
        want = sorted(tuple(r) for r in hll_rollup_serve(spark, one).collect())
        assert got == want and len(got) > 0

    def test_replayed_batch_cannot_double_count(self, spark, sf_dir, tmp_path):
        """max is idempotent: appending the SAME partials twice leaves
        every estimate unchanged — the robustness the exact (count, sum)
        rollup lacks (its double-append test shows the doubling)."""
        from olympic_athletes_etl_spark.plans.sketch_q import hll_rollup_serve

        odd = lambda e: e.filter(F.col("user_id") % 2 == 1)  # noqa: E731
        once, _ = self._store(spark, sf_dir, tmp_path / "once", [odd])
        twice, _ = self._store(spark, sf_dir, tmp_path / "twice", [odd, odd])
        assert sorted(
            tuple(r) for r in hll_rollup_serve(spark, once).collect()
        ) == sorted(tuple(r) for r in hll_rollup_serve(spark, twice).collect())

    def test_compact_is_serve_invariant(self, spark, sf_dir, tmp_path):
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_compact,
            hll_rollup_load,
            hll_rollup_serve,
        )

        path, _ = self._store(
            spark,
            sf_dir,
            tmp_path,
            [
                lambda e: e.filter(F.col("user_id") % 2 == 0),
                lambda e: e.filter(F.col("user_id") % 2 == 1),
            ],
        )
        before = sorted(tuple(r) for r in hll_rollup_serve(spark, path).collect())
        hll_rollup_compact(spark, path)
        after = sorted(tuple(r) for r in hll_rollup_serve(spark, path).collect())
        assert before == after
        per_key = (
            hll_rollup_load(spark, path).groupBy("day", "b").count().collect()
        )
        assert all(r["count"] == 1 for r in per_key)
        files = _parquet_files_by_dir(path)
        assert files and all(n == 1 for n in files.values()), files

    def test_range_serve_prunes_and_matches_raw(self, spark, sf_dir, tmp_path):
        from olympic_athletes_etl_spark.operators.sketches import (
            hll_cardinality,
        )
        from olympic_athletes_etl_spark.plans.sketch_q import (
            _HLL_RANGE_HI,
            _HLL_RANGE_LO,
            hll_rollup_serve_range,
        )

        path, events = self._store(spark, sf_dir, tmp_path, [lambda e: e])
        df = hll_rollup_serve_range(spark, path, _HLL_RANGE_LO, _HLL_RANGE_HI)
        txt = df._jdf.queryExecution().executedPlan().toString()
        # the month bounds prune partition directories; the day bounds
        # are pushed down to the parquet reader
        assert re.search(
            r"PartitionFilters: \[.*month#\d+[^\]]*>= 2024-01[^\]]*<= 2024-01",
            txt,
        ), txt[:2000]
        assert re.search(
            r"PushedFilters: \[.*GreaterThanOrEqual\(day,2024-01-10\), "
            r"LessThanOrEqual\(day,2024-01-16\)",
            txt,
        ), txt[:2000]
        want = hll_cardinality(
            events.filter(
                F.col("ts")
                .cast("date")
                .cast("string")
                .between(_HLL_RANGE_LO, _HLL_RANGE_HI)
            ),
            "user_id",
        ).collect()[0]["est_distinct"]
        assert df.collect()[0]["est_distinct"] == want

    def test_store_writes_one_file_per_month(self, spark, sf_dir, tmp_path):
        """A write pays per file and per directory it creates: the store
        lands one partition directory per distinct month of events, one
        parquet file each, and an append adds one file per month."""
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_append,
            hll_rollup_partials,
        )

        path, events = self._store(spark, sf_dir, tmp_path, [lambda e: e])
        months = {
            f"month={r['m']}"
            for r in events.select(F.date_format("ts", "yyyy-MM").alias("m"))
            .distinct()
            .collect()
        }
        assert _parquet_files_by_dir(path) == dict.fromkeys(months, 1)
        hll_rollup_append(hll_rollup_partials(events), path)
        assert _parquet_files_by_dir(path) == dict.fromkeys(months, 2)

    def test_load_rejects_day_partitioned_store(self, spark, tmp_path):
        """A store written in the old day-partitioned layout has no month
        column: loading it fails the contract loudly, never serves."""
        from olympic_athletes_etl_spark.operators.store import (
            GenStore,
            TableSpec,
        )
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_load,
            hll_rollup_serve,
        )

        old = spark.createDataFrame(
            [("2024-01-10", 3, 2)], "day string, b long, reg long"
        )
        path = str(tmp_path / "old")
        GenStore(path, [TableSpec("", ("day", "b", "reg"), ("day",))]).create(
            {"": old}
        )
        for read in (hll_rollup_load, hll_rollup_serve):
            with pytest.raises(ValueError, match="month"):
                read(spark, path)

    def test_lifecycle_job_counts(self, spark, sf_dir, tmp_path):
        """The register state folds in one task: a serve and a range
        serve are one Spark job each (no inference job, no exchange),
        and a compaction is its write plus the verify read."""
        from olympic_athletes_etl_spark.plans.sketch_q import (
            _HLL_RANGE_HI,
            _HLL_RANGE_LO,
            hll_rollup_compact,
            hll_rollup_serve,
            hll_rollup_serve_range,
        )

        path, _ = self._store(
            spark,
            sf_dir,
            tmp_path,
            [
                lambda e: e.filter(F.col("user_id") % 2 == 0),
                lambda e: e.filter(F.col("user_id") % 2 == 1),
            ],
        )

        def serve():
            return hll_rollup_serve(spark, path).collect()

        def serve_range():
            return hll_rollup_serve_range(
                spark, path, _HLL_RANGE_LO, _HLL_RANGE_HI
            ).collect()

        n_serve, before = jobs_run(spark, serve)
        assert n_serve == 1
        assert jobs_run(spark, serve_range)[0] == 1
        n_compact, _ = jobs_run(spark, lambda: hll_rollup_compact(spark, path))
        assert n_compact <= 2
        n_serve, after = jobs_run(spark, serve)
        assert n_serve == 1 and sorted(after) == sorted(before)

    def test_append_with_other_types_leaves_store_unchanged(
        self, spark, sf_dir, tmp_path
    ):
        """An append whose register index ``b`` is a string is refused
        naming ``b`` before the lock or any file; the store is as it
        was."""
        import os

        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_append,
            hll_rollup_partials,
        )

        path, events = self._store(spark, sf_dir, tmp_path, [lambda e: e])
        before = sorted(os.walk(path))
        bad = hll_rollup_partials(events).withColumn(
            "b", F.col("b").cast("string")
        )
        with pytest.raises(ValueError, match=r"\['b string \(stored bigint\)'\]"):
            hll_rollup_append(bad, path)
        assert sorted(os.walk(path)) == before

    def test_store_rejects_wrong_frame(self, spark, tmp_path):
        from olympic_athletes_etl_spark.plans.sketch_q import (
            hll_rollup_append,
            hll_rollup_store,
        )

        bad = spark.createDataFrame([("x", 1)], "day string, b long")
        path = tmp_path / "nope"
        for write in (hll_rollup_store, hll_rollup_append):
            with pytest.raises(ValueError, match="reg"):
                write(bad, str(path))
            assert not path.exists()


def test_hll_rollup_serve_range_empty_window_is_empty(spark, sf_dir, tmp_path):
    """A day range with no stored partials serves an EMPTY frame — the
    previous behavior was one row with est_distinct = NULL (global agg
    over empty input)."""
    from olympic_athletes_etl_spark.plans.sketch_q import (
        hll_rollup_partials,
        hll_rollup_serve_range,
        hll_rollup_store,
    )
    from olympic_athletes_etl_spark.plans.tables import load

    events = load(spark, sf_dir, "events").select("ts", "user_id")
    path = str(tmp_path / "regs")
    hll_rollup_store(hll_rollup_partials(events), path)
    # a window far outside the data's day span
    got = hll_rollup_serve_range(spark, path, "1990-01-01", "1990-01-07")
    assert got.count() == 0
    # and a real window still serves a positive estimate
    some_day = events.select(
        F.col("ts").cast("date").cast("string").alias("d")
    ).first()["d"]
    est = hll_rollup_serve_range(spark, path, some_day, some_day).collect()
    assert len(est) == 1 and est[0]["est_distinct"] > 0
