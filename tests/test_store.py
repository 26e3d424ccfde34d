"""GenStore — the shared generation-versioned store lifecycle.

The load-bearing property: a compaction (or snapshot replace) that DIES at
any point before its manifest commit leaves the store serving the exact
pre-compaction answer. Before round 10 every family's compactor staged
through a localCheckpoint and overwrote its own path in place — the
crash-kill tests here would have found an empty directory.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from olympic_athletes_etl_spark.operators.store import (
    GenStore,
    TableSpec,
    read_manifest,
    resolve_data_dir,
)


def _orders(spark, sf_dir):
    from olympic_athletes_etl_spark.plans.tables import load

    return load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


def _partials(orders):
    from olympic_athletes_etl_spark.plans.relational import _monthly_partials

    return _monthly_partials(orders)


_SPEC = TableSpec(
    name="",
    columns=("month", "n_orders", "total_cents"),
    partition_by=("month",),
    merge=lambda df: df.groupBy("month").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("total_cents").cast("long").alias("total_cents"),
    ),
)


def _served(spark, store):
    return sorted(
        tuple(r)
        for r in store.load(spark)[""]
        .groupBy("month")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("total_cents").cast("long").alias("total_cents"),
        )
        .collect()
    )


def test_create_append_compact_roundtrip(spark, sf_dir, tmp_path):
    """create → append → compact preserves the served merge exactly, and
    compaction folds multi-row months to one row per month in a NEW
    generation."""
    orders = _orders(spark, sf_dir)
    b1 = F.col("o_orderkey") % 2 == 0  # every month spans both batches
    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(orders.filter(b1))})
    store.append({"": _partials(orders.filter(~b1))})
    want = _served(spark, store)
    pre_rows = store.load(spark)[""].count()
    assert read_manifest(store.path)["gen"] == 0

    store.compact(spark)
    assert read_manifest(store.path)["gen"] == 1
    assert not os.path.exists(os.path.join(store.path, "gen-0"))  # swept
    post = store.load(spark)[""]
    assert post.count() < pre_rows  # overlapping months actually merged
    assert post.groupBy("month").count().filter("count > 1").count() == 0
    assert _served(spark, store) == want


def test_create_over_existing_store_is_atomic_replace(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(orders.limit(100))})
    store.create({"": _partials(orders)})
    assert read_manifest(store.path)["gen"] == 1
    assert _served(spark, store) == sorted(
        tuple(r) for r in _partials(orders).collect()
    )


def test_compact_killed_mid_rewrite_store_still_serves(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill the compaction between stage and commit: monkeypatch the
    commit itself to raise AFTER the new generation is fully written.
    The manifest must still point at the old generation and the store
    must serve the PRE-compaction answer; the next compact succeeds and
    sweeps the orphan."""
    import olympic_athletes_etl_spark.operators.store as store_mod

    orders = _orders(spark, sf_dir)
    b1 = F.col("o_orderkey") % 2 == 0
    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(orders.filter(b1))})
    store.append({"": _partials(orders.filter(~b1))})
    want = _served(spark, store)

    real_commit = store_mod._commit_manifest

    def die(path, manifest):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(store_mod, "_commit_manifest", die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.compact(spark)
    monkeypatch.setattr(store_mod, "_commit_manifest", real_commit)

    # manifest untouched → old generation still current and complete
    assert read_manifest(store.path)["gen"] == 0
    assert _served(spark, store) == want
    # retry sweeps the orphaned staging dir and commits
    store.compact(spark)
    assert read_manifest(store.path)["gen"] == 1
    assert _served(spark, store) == want


def test_compact_killed_mid_write_store_still_serves(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Kill the compaction INSIDE the staged write (before any verify):
    same guarantee, plus the half-written gen dir is swept on retry."""
    from pyspark.sql.readwriter import DataFrameWriter

    orders = _orders(spark, sf_dir)
    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(orders)})
    store.append({"": _partials(orders.limit(500))})
    want = _served(spark, store)

    real_parquet = DataFrameWriter.parquet

    def die(self, path, **kw):
        if "gen-1" in path:
            raise RuntimeError("simulated crash mid-write")
        return real_parquet(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", die)
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.compact(spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    assert read_manifest(store.path)["gen"] == 0
    assert _served(spark, store) == want
    store.compact(spark)
    assert _served(spark, store) == want


def test_refile_only_compact_verifies_row_count(spark, sf_dir, tmp_path):
    """A refile-only table (no merge fn) keeps every row; the compactor
    verifies that before committing."""
    orders = _orders(spark, sf_dir)
    spec = TableSpec(
        name="",
        columns=("month", "n_orders", "total_cents"),
        partition_by=("month",),
    )
    store = GenStore(str(tmp_path / "s"), [spec])
    store.create({"": _partials(orders)})
    store.append({"": _partials(orders.limit(500))})
    pre = _served(spark, store)
    pre_rows = store.load(spark)[""].count()
    store.compact(spark)
    assert store.load(spark)[""].count() == pre_rows
    assert _served(spark, store) == pre


def test_contract_enforced_on_create_and_load(spark, sf_dir, tmp_path):
    orders = _orders(spark, sf_dir)
    store = GenStore(str(tmp_path / "s"), [_SPEC])
    with pytest.raises(ValueError, match="missing contract columns"):
        store.create({"": orders})
    with pytest.raises(FileNotFoundError, match="_STORE"):
        resolve_data_dir(str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="nope has no _STORE manifest"):
        GenStore(str(tmp_path / "nope"), [_SPEC]).load(spark)


def test_rejected_multi_table_append_writes_nothing(spark, sf_dir, tmp_path):
    """Every table's frame is checked before any table is written: an
    append whose SECOND frame breaks the contract must not have appended
    the first (a BM25 append with a bad dlen frame used to land its
    postings), and must release the writer lock."""
    partials = _partials(_orders(spark, sf_dir))
    store = GenStore(
        str(tmp_path / "s"),
        [
            TableSpec(name="rollup", columns=_SPEC.columns),
            TableSpec(name="totals", columns=("n_orders",)),
        ],
    )
    store.create({"rollup": partials, "totals": partials})
    before = store.load(spark)["rollup"].count()
    with pytest.raises(ValueError, match="'totals'.*n_orders"):
        store.append({"rollup": partials, "totals": partials.drop("n_orders")})
    assert store.load(spark)["rollup"].count() == before
    assert not os.path.exists(os.path.join(store.path, "_LOCK"))


def test_random_lifecycles_with_crashes_always_serve_model(
    spark, tmp_path, monkeypatch
):
    """Model-based lifecycle check: a random interleaving of append /
    compact / crash-killed-compact / snapshot-replace against a tiny
    (k, n) sum-store must always serve exactly what a pure-Python dict
    model says — crashes (writes killed inside the staged generation)
    must never change the served answer. Deterministic op sequences
    (seeded) rather than hypothesis: each op costs Spark jobs, so the
    budget goes to op-sequence LENGTH over example count."""
    import random

    import olympic_athletes_etl_spark.operators.store as store_mod
    from pyspark.sql.readwriter import DataFrameWriter

    rng = random.Random(1009)
    spec = TableSpec(
        name="",
        columns=("k", "n"),
        partition_by=("k",),
        merge=lambda df: df.groupBy("k").agg(F.sum("n").cast("long").alias("n")),
    )
    store = GenStore(str(tmp_path / "s"), [spec])
    model: dict[int, int] = {}

    def mk_batch():
        rows = [
            (rng.randrange(4), rng.randrange(1, 100))
            for _ in range(rng.randrange(1, 5))
        ]
        return rows, spark.createDataFrame(rows, "k int, n long")

    def served():
        return {
            r["k"]: r["n"]
            for r in store.load(spark)[""]
            .groupBy("k")
            .agg(F.sum("n").cast("long").alias("n"))
            .collect()
        }

    rows, df = mk_batch()
    store.create({"": df})
    for k, n in rows:
        model[k] = model.get(k, 0) + n

    real_parquet = DataFrameWriter.parquet
    for step in range(14):
        op = rng.choice(["append", "append", "compact", "killed", "replace"])
        if op == "append":
            rows, df = mk_batch()
            store.append({"": df})
            for k, n in rows:
                model[k] = model.get(k, 0) + n
        elif op == "compact":
            store.compact(spark)
        elif op == "killed":
            gen = store.manifest()["gen"]

            def die(self, p, **kw):
                if f"gen-{gen + 1}" in p:
                    raise RuntimeError("killed")
                return real_parquet(self, p, **kw)

            monkeypatch.setattr(DataFrameWriter, "parquet", die)
            with pytest.raises(RuntimeError, match="killed"):
                store.compact(spark)
            monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)
        else:  # replace: re-snapshot the whole model state
            snap = spark.createDataFrame(
                [(k, n) for k, n in model.items()] or [(0, 0)], "k int, n long"
            )
            store.create({"": snap})
            if not model:
                model[0] = 0
        assert served() == model, f"step {step} op {op}"


# --------------------------------------------------------------------------
# Round 11: multi-writer refusal (writer lock + commit-time CAS),
# durable/corrupt manifests, and the keep_last retention window.
# --------------------------------------------------------------------------


def test_append_during_compaction_refuses_loudly(spark, sf_dir, tmp_path):
    """The r10 write-skew, now DETECTED: an append attempted while a
    compaction holds the writer lock raises ConcurrentWriteError (it
    previously landed in the generation about to be swept — silent
    loss). The compaction itself completes and serves the pre-append
    answer; the refused append can then be retried and survives."""
    from olympic_athletes_etl_spark.operators.store import ConcurrentWriteError

    orders = _orders(spark, sf_dir)
    store = GenStore(str(tmp_path / "s"), [_SPEC])
    b1 = F.col("o_orderkey") % 2 == 0
    store.create({"": _partials(orders.filter(b1))})
    want = _served(spark, store)
    late = _partials(orders.filter(~b1))
    hit = {}

    def merge_and_interleave(df):
        # runs INSIDE compact's staging, writer lock held
        with pytest.raises(ConcurrentWriteError):
            store.append({"": late})
        hit["raised"] = True
        return _SPEC.merge(df)

    store.compact(spark, merge_overrides={"": merge_and_interleave})
    assert hit["raised"]
    assert _served(spark, store) == want  # nothing lost, nothing doubled
    store.append({"": late})  # retry after the compaction: survives
    assert _served(spark, store) == _served_frames(spark, orders)


def _served_frames(spark, orders):
    return sorted(tuple(r) for r in _partials(orders).collect())


def test_concurrent_compactions_refuse(spark, sf_dir, tmp_path):
    from olympic_athletes_etl_spark.operators.store import ConcurrentWriteError

    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(_orders(spark, sf_dir))})

    def merge_and_reenter(df):
        with pytest.raises(ConcurrentWriteError):
            store.compact(spark)
        return _SPEC.merge(df)

    store.compact(spark, merge_overrides={"": merge_and_reenter})
    assert read_manifest(store.path)["gen"] == 1


def test_dead_pid_lock_is_broken(spark, sf_dir, tmp_path):
    """A lock left by a crashed writer (dead pid) must not brick the
    store: the next writer breaks it and proceeds."""
    import json

    from olympic_athletes_etl_spark.operators.store import LOCK_NAME

    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(_orders(spark, sf_dir))})
    # pid 2**22+5 is far above pid_max defaults; ensure it's dead anyway
    dead_pid = 2**22 + 5
    with pytest.raises(ProcessLookupError):
        os.kill(dead_pid, 0)
    with open(os.path.join(store.path, LOCK_NAME), "w") as f:
        json.dump({"pid": dead_pid, "op": "compact"}, f)
    store.compact(spark)  # breaks the stale lock and commits
    assert read_manifest(store.path)["gen"] == 1
    assert not os.path.exists(os.path.join(store.path, LOCK_NAME))


def test_live_lock_refuses_and_is_released_on_error(spark, sf_dir, tmp_path):
    """A lock held by a LIVE pid refuses; a failed write releases its
    lock so the next writer is not blocked."""
    import json

    from olympic_athletes_etl_spark.operators.store import (
        ConcurrentWriteError,
        LOCK_NAME,
    )

    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(_orders(spark, sf_dir))})
    lock = os.path.join(store.path, LOCK_NAME)
    with open(lock, "w") as f:
        json.dump({"pid": os.getpid(), "op": "append"}, f)  # alive: us
    with pytest.raises(ConcurrentWriteError):
        store.compact(spark)
    os.unlink(lock)
    # now make the compact itself die mid-write: the lock must not leak
    def boom(df):
        raise RuntimeError("killed mid-staging")

    with pytest.raises(RuntimeError, match="killed mid-staging"):
        store.compact(spark, merge_overrides={"": boom})
    assert not os.path.exists(lock)
    store.compact(spark)  # and the store still works


def test_commit_cas_refuses_when_generation_moved(spark, sf_dir, tmp_path):
    """Defense-in-depth under the lock: if the manifest generation moves
    between a writer's read and its commit (lock bypassed/broken by
    hand), the commit refuses rather than overwriting the other
    writer's result."""
    from olympic_athletes_etl_spark.operators import store as store_mod
    from olympic_athletes_etl_spark.operators.store import ConcurrentWriteError

    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(_orders(spark, sf_dir))})

    def move_gen(df):
        # simulate a foreign writer landing a commit mid-staging
        man = read_manifest(store.path)
        store_mod._commit_manifest(store.path, {**man, "gen": man["gen"] + 7})
        os.makedirs(os.path.join(store.path, f"gen-{man['gen'] + 7}"), exist_ok=True)
        return _SPEC.merge(df)

    with pytest.raises(ConcurrentWriteError, match="generation moved"):
        store.compact(spark, merge_overrides={"": move_gen})


def test_corrupt_manifest_raises_distinct_error(spark, sf_dir, tmp_path):
    """A truncated/corrupt manifest is a LOUD, recoverable error naming
    the gen-N recovery path — not FileNotFoundError (which would let
    the next create() write gen-0 beside real data)."""
    from olympic_athletes_etl_spark.operators.store import StoreCorruptError

    store = GenStore(str(tmp_path / "s"), [_SPEC])
    store.create({"": _partials(_orders(spark, sf_dir))})
    with open(os.path.join(store.path, "_STORE"), "w") as f:
        f.write('{"gen": 0')  # power loss mid-write without fsync
    with pytest.raises(StoreCorruptError, match="newest complete"):
        store.load(spark)
    with pytest.raises(StoreCorruptError):
        store.create({"": _partials(_orders(spark, sf_dir))})


def test_keep_last_retains_reader_window(spark, sf_dir, tmp_path):
    """keep_last=2 keeps the superseded generation through one
    maintenance pass — a lazy reader resolved pre-compact still
    materializes afterwards — and sweeps it on the NEXT pass."""
    orders = _orders(spark, sf_dir)
    store = GenStore(str(tmp_path / "s"), [_SPEC], keep_last=2)
    store.create({"": _partials(orders)})
    reader = store.load(spark)[""]  # lazy, pinned to gen-0 files
    store.compact(spark)
    assert os.path.exists(os.path.join(store.path, "gen-0"))  # retained
    assert reader.count() > 0  # in-flight reader survives the swap
    store.compact(spark)
    assert not os.path.exists(os.path.join(store.path, "gen-0"))  # aged out
    assert os.path.exists(os.path.join(store.path, "gen-1"))


def test_keep_last_reader_survives_concurrent_compact_midscan(
    spark, sf_dir, tmp_path
):
    """The r11 ADVICE reader-vs-GC contract, driven end-to-end: a reader
    that is MID-MATERIALIZATION when a concurrent maintenance process
    (a second GenStore handle on the same path — its own lock cycle,
    like a real compactor) commits gen-1 must still drain to exactly
    the gen-0 content under keep_last=2; and once the retention window
    ages gen-0 out, re-materializing that stale plan fails LOUDLY
    (missing files), which is the documented size-keep_last-to-your-
    longest-reader contract — not silent wrong answers."""
    import pytest

    orders = _orders(spark, sf_dir)
    store = GenStore(str(tmp_path / "s"), [_SPEC], keep_last=2)
    store.create({"": _partials(orders)})
    reader = store.load(spark)[""]  # lazy plan pinned to gen-0 files
    expected = sorted(tuple(r) for r in reader.collect())
    assert len(expected) > 1

    it = reader.toLocalIterator()  # partition-at-a-time materialization
    first = tuple(next(it))  # gen-0 scan is now in flight
    # a SEPARATE handle compacts mid-scan (merge folds partials, so the
    # new generation's content layout differs from gen-0's)
    GenStore(str(tmp_path / "s"), [_SPEC], keep_last=2).compact(spark)
    assert os.path.exists(os.path.join(store.path, "gen-1"))
    drained = sorted([first] + [tuple(r) for r in it])
    assert drained == expected  # mid-scan reader saw ONLY gen-0

    # the same lazy plan fully re-materializes inside the window...
    assert sorted(tuple(r) for r in reader.collect()) == expected
    # ...and fails loudly once the window moves past gen-0
    store.compact(spark)
    assert not os.path.exists(os.path.join(store.path, "gen-0"))
    with pytest.raises(Exception):
        reader.count()
    # new loads are unaffected: they resolve the current generation
    fresh = store.load(spark)[""]
    assert fresh.count() > 0
