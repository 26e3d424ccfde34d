"""Headline benchmark — the driver's per-round performance gate.

Runs a representative slice of the engine (scan/filter/join/agg, window,
forward-fill, dedup LSH, ANN, sessionization) at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is forced with a noop sink (full pipeline runs, nothing
collected to the driver). One untimed warmup executes the flagship first
so JVM/codegen startup doesn't pollute per-query numbers. Each query is
timed $SPARK_GRAFT_BENCH_ITERS times (default 3) and the MEDIAN per-query
time is reported — single-run numbers at these sub-second scales swing
±15% on JIT/GC/page-cache noise (BENCH_r01 vs r02 showed a uniform +12%
on untouched code), and the median filters that without hiding real
regressions.

Beyond the gated headline set, an EXTENDED section times the heavyweight
LLM-pipeline composites (near-dup pipeline, corpus-wide kNN graph,
triangle counting, corpus prep) so scale regressions in those families
are visible round-over-round; it is reported under separate keys
("extended", "extended_total") and does NOT feed "value", so the
driver's perf gate is unaffected. Skip it with
SPARK_GRAFT_BENCH_EXTENDED=0. Extended timings include DataFrame
construction (see EXTENDED_QUERIES) and default to one pass.

Load-average keys: "load1" is the END-OF-RUN 1-minute load (the quantity
BENCH_r01–r04 recorded under this key — it includes the bench's own
local[32] execution) and "load1_ambient" is the pre-Spark ambient load
(the external-contention flag the BENCH_r03 +45% lesson motivated).
BENCH_r05 briefly reported ambient under "load1"; r6+ restores the
original meaning and gives ambient its own key.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "flagship_region_top_customers",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_supplier_volume",
    "q7_nation_volume",
    "q18_large_orders",
    "q_order_share_window",
    "w_forward_fill",
    "a_mode_per_group",
    "e_tumbling_window",
    "e_sessionize",
    "d_minhash_lsh",
    "s_knn_bruteforce",
    "t_quality_score",
]

# Non-gated heavyweights — the LLM-pipeline composites whose scale shape
# matters most at 100 TB. Timed after the headline set (their page-cache
# warmth then matches round-over-round), reported separately. Unlike the
# headline set these are timed INCLUDING DataFrame construction: the
# iterative ones (d_neardup_pipeline's connected components) do their
# rounds eagerly via localCheckpoint at build time, so a sink-only timer
# would miss nearly all their work. One timed pass each
# ($SPARK_GRAFT_BENCH_EXT_ITERS to change): at multi-second scale the
# relative jitter the headline median filters is much smaller, and these
# exist for round-over-round trend visibility, not the perf gate.
EXTENDED_QUERIES = [
    "d_neardup_pipeline",
    "s_knn_graph",
    "s_knn_graph_multiprobe",
    "s_knn_graph_ivf",
    "s_knn_graph_incr",
    "s_knn_graph_stored",
    "s_ann_ivfpq",
    "s_ann_ivfpq_stored",
    "s_ivfpq_drift",
    "d_neardup_stored",
    "d_dup_clusters_star",
    "g_triangle_count",
    "t_corpus_prep",
    "t_bpe_encode_fixed",
]


def ann_phase_timings(spark, sf_dir: str) -> dict[str, float]:
    """Train-vs-serve split for the learned-index ANN queries.

    Without this split the registered forms' numbers would be
    TRAINING-dominated (~_KM_ITERS coarse + _PQ_M×_PQ_ITERS codebook
    full-corpus passes before the search) — a serving-path regression
    would be invisible under that noise. This section times each phase
    through the same factored helpers the queries call: the fits once,
    cold, through the process memo (they're one-per-index-build at
    deployment; IVFPQ's training is km+pq, reported as the sum), then
    each serving path against the pre-fitted parameters. Because this
    runs BEFORE the extended section (r12), the registered ANN rows
    there inherit the warm memo and report serve cost. Serve timings
    include DataFrame construction (the graph build's eager checkpoint
    IS its work) and end in a noop sink like the extended section."""
    import tempfile

    from olympic_athletes_etl_spark.plans.similarity_q import (
        _ivfpq_search,
        _ivfpq_search_stored,
        _km_ann_search,
        _km_base,
        _km_fit_for,
        _knn_graph_ivf_build,
        _pq_ann_search,
        _pq_fit_for,
        _probe,
        ivfpq_index_build,
        ivfpq_index_load,
        ivfpq_index_store,
    )

    out: dict[str, float] = {}
    n = _km_base(spark, sf_dir)
    # Fit through the harness memo (_FIT_CACHE): ann_phases runs BEFORE
    # the extended section (r12), so the one-per-index-build training
    # cost lands HERE, on the train: rows — and every registered
    # IVF/PQ-family query timed afterwards hits the warm memo and shows
    # its serve cost, which is what it would pay in deployment (the r11
    # verdict's bench-economics item). Cold-cache timing is preserved:
    # this is the process's first fit.
    t0 = time.perf_counter()
    cents = _km_fit_for(spark, sf_dir)
    t_km = time.perf_counter() - t0
    t0 = time.perf_counter()
    books = _pq_fit_for(spark, sf_dir)
    t_pq = time.perf_counter() - t0
    out["train:km_fit"] = round(t_km, 3)
    out["train:pq_fit"] = round(t_pq, 3)
    out["train:ivfpq"] = round(t_km + t_pq, 3)
    serves = [
        ("serve:s_ann_ivf_kmeans", lambda: _km_ann_search(n, cents)),
        ("serve:s_ann_pq", lambda: _pq_ann_search(n, books)),
        ("serve:s_ann_ivfpq", lambda: _ivfpq_search(n, cents, books)),
        ("serve:s_knn_graph_ivf", lambda: _knn_graph_ivf_build(n, cents)),
    ]
    for key, build in serves:
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        out[key] = round(time.perf_counter() - t0, 3)
    # The deployed IVFPQ path split three ways: encode+write the
    # list_id-partitioned index (once per ingest), then serve purely
    # from storage — the cleanest serving number of all (no in-row
    # encode, partition-pruned scan, zero joins).
    path = os.path.join(tempfile.mkdtemp(prefix="bench_ivfpq_index_"), "index")
    t0 = time.perf_counter()
    ivfpq_index_store(ivfpq_index_build(n, cents, books), path)
    out["build:ivfpq_index_store"] = round(time.perf_counter() - t0, 3)
    probe = _probe(n)  # collected outside the timed serve
    t0 = time.perf_counter()
    _ivfpq_search_stored(
        ivfpq_index_load(spark, path), cents, books, probe
    ).write.format("noop").mode("overwrite").save()
    out["serve:s_ann_ivfpq_stored"] = round(time.perf_counter() - t0, 3)
    # The drift diagnostic as it rides along an ingest batch: residual
    # stats from the STORED codes of the index written above — a narrow
    # columnar scan + one integer aggregate, no re-training, no joins.
    from olympic_athletes_etl_spark.plans.similarity_q import ivfpq_drift_stats

    t0 = time.perf_counter()
    ivfpq_drift_stats(ivfpq_index_load(spark, path), books).write.format(
        "noop"
    ).mode("overwrite").save()
    out["diagnose:ivfpq_drift"] = round(time.perf_counter() - t0, 3)
    return out


def bpe_phase_timings(spark, sf_dir: str) -> dict[str, float]:
    """Train/encode split for the BPE tokenizer's production forms
    (SCALE.md round-9): the local trainer pays one distributed
    word-count scan plus a driver-local merge loop (merge count barely
    moves it — the synthetic vocab saturates well under the requested
    2000), and the pandas encoder's plan is constant-size in the rule
    count. The JVM encoder (r11: delimiter-doubled string rewrite —
    the key keeps its historical ``fold`` name for round-over-round
    comparability) is timed at the registered 4-rule form only (one
    replace pass per rule; measured crossover n≈16, SCALE.md r11). The
    registered-query twin of that number is t_bpe_encode_fixed in
    the extended section; ``train:bpe_distributed`` is deliberately
    absent — it is one Spark job per merge and is yardstick-only, not
    the production path."""
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import (
        _BPE_FIXED_MERGES,
        bpe_encode,
        bpe_encode_pandas,
        bpe_learn_merges_local,
    )

    out: dict[str, float] = {}
    docs = load(spark, sf_dir, "documents")
    t0 = time.perf_counter()
    merges = bpe_learn_merges_local(docs, n_merges=2000)
    out["train:bpe_local"] = round(time.perf_counter() - t0, 3)
    out["bpe_learned_merges"] = float(len(merges))
    t0 = time.perf_counter()
    bpe_encode(docs, _BPE_FIXED_MERGES).write.format("noop").mode(
        "overwrite"
    ).save()
    out["encode:bpe_fold_fixed"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    bpe_encode_pandas(docs, merges).write.format("noop").mode(
        "overwrite"
    ).save()
    out["encode:bpe_pandas_learned"] = round(time.perf_counter() - t0, 3)
    return out


def store_phase_timings(spark, sf_dir: str) -> dict[str, float]:
    """Build/append/compact/serve split for the round-9 store families
    (exact rollup partials, BM25 text index, HLL sketch rollup) —
    the same factored helpers their registered lifecycle queries call,
    so a regression in any phase is visible round-over-round without
    the build noise swamping the serve number (the ann_phases
    rationale). Store/append/compact timings are the writes themselves;
    serves end in a noop sink."""
    import tempfile

    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans.relational import (
        _INCR_SPLIT,
        _monthly_partials,
        rollup_append,
        rollup_compact,
        rollup_serve,
        rollup_store,
    )
    from olympic_athletes_etl_spark.plans.sketch_q import (
        _HLL_RANGE_HI,
        _HLL_RANGE_LO,
        hll_rollup_append,
        hll_rollup_compact,
        hll_rollup_partials,
        hll_rollup_serve,
        hll_rollup_serve_range,
        hll_rollup_store,
    )
    from olympic_athletes_etl_spark.plans.tables import load
    from olympic_athletes_etl_spark.plans.textstats import (
        _BM25_TERMS,
        _BM25_TOPN,
        bm25_index_append,
        bm25_index_build,
        bm25_index_compact,
        bm25_index_store,
        bm25_serve,
    )

    out: dict[str, float] = {}

    def timed(key: str, thunk) -> None:
        t0 = time.perf_counter()
        r = thunk()
        if r is not None:  # serve thunks return a DataFrame to sink
            r.write.format("noop").mode("overwrite").save()
        out[key] = round(time.perf_counter() - t0, 3)

    # exact rollup partials
    orders = load(spark, sf_dir, "orders").withColumn(
        "d", F.col("o_orderdate").cast("date")
    )
    rp = os.path.join(tempfile.mkdtemp(prefix="bench_rollup_"), "rollup")
    timed(
        "build:rollup_store",
        lambda: rollup_store(
            _monthly_partials(orders.filter(F.col("d") < _INCR_SPLIT)), rp
        ),
    )
    timed(
        "append:rollup",
        lambda: rollup_append(
            _monthly_partials(orders.filter(F.col("d") >= _INCR_SPLIT)), rp
        ),
    )
    timed("compact:rollup", lambda: rollup_compact(spark, rp))
    timed("serve:r_rollup_stored", lambda: rollup_serve(spark, rp))
    timed(
        "serve:r_rollup_slice",
        lambda: rollup_serve(spark, rp).filter(
            F.col("month").between("1995-01", "1995-12")
        ),
    )

    # BM25 text index
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    bp = tempfile.mkdtemp(prefix="bench_bm25_")
    timed(
        "build:bm25_index_store",
        lambda: bm25_index_store(
            bm25_index_build(docs.filter(F.col("doc_id") % 2 == 0)), bp
        ),
    )
    timed(
        "append:bm25_index",
        lambda: bm25_index_append(docs.filter(F.col("doc_id") % 2 == 1), bp),
    )
    timed("compact:bm25_index", lambda: bm25_index_compact(spark, bp))
    timed(
        "serve:t_bm25_stored",
        lambda: bm25_serve(spark, bp, _BM25_TERMS, _BM25_TOPN),
    )

    # HLL sketch rollup
    events = load(spark, sf_dir, "events")
    hp = os.path.join(tempfile.mkdtemp(prefix="bench_hll_"), "regs")
    timed(
        "build:hll_rollup_store",
        lambda: hll_rollup_store(
            hll_rollup_partials(events.filter(F.col("user_id") % 2 == 0)), hp
        ),
    )
    timed(
        "append:hll_rollup",
        lambda: hll_rollup_append(
            hll_rollup_partials(events.filter(F.col("user_id") % 2 == 1)), hp
        ),
    )
    timed("compact:hll_rollup", lambda: hll_rollup_compact(spark, hp))
    timed("serve:a_hll_rollup_stored", lambda: hll_rollup_serve(spark, hp))
    timed(
        "serve:a_hll_rollup_range",
        lambda: hll_rollup_serve_range(spark, hp, _HLL_RANGE_LO, _HLL_RANGE_HI),
    )

    # quantile-histogram rollup (round 10)
    from olympic_athletes_etl_spark.plans.relational import (
        _qhist_partials,
        qhist_rollup_append,
        qhist_rollup_compact,
        qhist_rollup_serve,
        qhist_rollup_serve_range,
        qhist_rollup_store,
    )

    qp = os.path.join(tempfile.mkdtemp(prefix="bench_qhist_"), "qhist")
    timed(
        "build:qhist_rollup_store",
        lambda: qhist_rollup_store(
            _qhist_partials(orders.filter(F.col("d") < _INCR_SPLIT)), qp
        ),
    )
    timed(
        "append:qhist_rollup",
        lambda: qhist_rollup_append(
            _qhist_partials(orders.filter(F.col("d") >= _INCR_SPLIT)), qp
        ),
    )
    timed("compact:qhist_rollup", lambda: qhist_rollup_compact(spark, qp))
    timed("serve:a_qhist_rollup_stored", lambda: qhist_rollup_serve(spark, qp))
    timed(
        "serve:a_qhist_rollup_range",
        lambda: qhist_rollup_serve_range(spark, qp, "1995-01", "1995-12"),
    )
    return out


def _load1() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except (OSError, AttributeError):  # platform without getloadavg
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from olympic_athletes_etl_spark.plans import queries
    from olympic_athletes_etl_spark.session import get_spark

    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))
    extended_on = os.environ.get("SPARK_GRAFT_BENCH_EXTENDED", "1") != "0"
    # Ambient 1-minute load BEFORE Spark spins up: captured at the end it
    # would include the bench's own local[32] execution (~1-2 even on an
    # otherwise idle box), conflating self-load with the external
    # contention it exists to flag (the BENCH_r03 +45% lesson).
    load1_ambient = _load1()
    spark = get_spark(app_name="bench")
    qs = queries()

    def run(name: str, include_build: bool = False) -> float:
        if include_build:
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
        else:
            df = qs[name](spark, sf_dir)
            t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    spreads: dict[str, dict[str, float]] = {}

    def median_timings(
        names: list[str], n_iters: int, include_build: bool = False
    ) -> dict[str, float]:
        # Round-robin over the query list (not back-to-back repeats of
        # one query) so iteration i of every query sees comparable
        # JVM/GC state. Min/max across iterations land in ``spreads``
        # (reported as "<section>_spread" when n_iters > 1) so a
        # round-over-round delta can be attributed: a regression inside
        # the prior round's spread band is load noise, outside it is
        # real (the r11 d_dup_clusters_star ±30% lesson).
        samples: dict[str, list[float]] = {name: [] for name in names}
        for _ in range(n_iters):
            for name in names:
                samples[name].append(run(name, include_build))
        if n_iters > 1:
            for name, ts in samples.items():
                spreads[name] = {
                    "min": round(min(ts), 3),
                    "max": round(max(ts), 3),
                }
        return {
            name: round(statistics.median(ts), 3)
            for name, ts in samples.items()
        }

    run("flagship_region_top_customers")  # warmup (JVM + codegen + page cache)

    timings = median_timings(BENCH_QUERIES, iters)
    ext_iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_EXT_ITERS", "1")))
    # Phase splits run BEFORE the extended section (r12): the ANN fits
    # land on the train: rows and warm the process-level _FIT_CACHE, so
    # the registered IVF/PQ-family rows below report SERVE cost — the
    # number a deployment pays per query — instead of re-timing the
    # one-per-index-build training under every row (the r11 verdict's
    # bench-economics item; r11 and earlier BENCH records timed the
    # extended rows cold, so compare r12+ extended ANN rows against the
    # r11 serve: keys, not its extended rows).
    ann_phases = ann_phase_timings(spark, sf_dir) if extended_on else {}
    extended = (
        median_timings(EXTENDED_QUERIES, ext_iters, include_build=True)
        if extended_on
        else {}
    )
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else None
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # end-of-run load, same meaning as BENCH_r01-r04's "load1"
        "load1": _load1(),
        "load1_ambient": load1_ambient,
    }
    if spreads:
        out["query_spread"] = dict(spreads)
    if extended:
        out["extended"] = extended
        out["extended_total"] = round(sum(extended.values()), 3)
        out["ann_phases"] = ann_phases
        out["bpe_phases"] = bpe_phase_timings(spark, sf_dir)
        out["store_phases"] = store_phase_timings(spark, sf_dir)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
