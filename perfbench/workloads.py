"""The three workloads as lists of operations.

An operation's ``run`` is its build phase, timed as a whole.  It returns
a DataFrame (then forced through the noop sink as the operation's sink
phase), a plain value (a fitted model, compared with ``reference``), or
None (a store write).  ``oracle`` names the registered query whose DuckDB
answer the operation's DataFrame must equal; answers are checked in the
set-up pass, outside the timed passes.

The ``layer`` says where the operation's time is charged:

- ``query``: build to ``plans``, sink to ``engine``;
- ``fit``: the whole call to ``similarity`` (an uncached Lloyd fit);
- ``write`` / ``compact``: the whole call to ``store``;
- ``serve``: build to ``plans``, the whole operation to ``store``.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

WORKLOADS = ("headline", "composites", "store")

COMPOSITE_QUERIES = ("d_neardup_pipeline",)

# Timed passes per run at least, whatever --seconds asks, so that every
# run takes its medians over the same pass positions.  A store pass is
# the shortest (about 6 CPU seconds), so it gets more passes.
MIN_PASSES = {"headline": 3, "composites": 3, "store": 5}


@dataclass
class Op:
    name: str
    layer: str
    run: Callable[[], Any]
    oracle: str | None = None
    check: Callable[[], Any] | None = None  # set-up form of a fit
    reference: Any = None
    source: str | None = None  # table a store write ingests


def _headline_names() -> list[str]:
    # bench.py's own headline list, so the two cannot drift apart.
    from bench import BENCH_QUERIES

    return list(BENCH_QUERIES)


def query_ops(spark, sf_dir: str, names) -> list[Op]:
    from olympic_athletes_etl_spark.plans import queries

    qs = queries()
    return [
        Op(n, "query", (lambda f=qs[n]: f(spark, sf_dir)), oracle=n) for n in names
    ]


def fit_ops(spark, sf_dir: str) -> list[Op]:
    """Uncached k-means and PQ fits.  ``_km_fit_for``/``_pq_fit_for``
    memoize per process, so every pass after the first would time a dict
    lookup; the set-up pass fits through the memo, and the timed
    operations call the fits directly and must equal that set-up fit."""
    from olympic_athletes_etl_spark.plans.similarity_q import (
        _km_base,
        _km_fit,
        _km_fit_for,
        _pq_fit,
        _pq_fit_for,
    )

    return [
        Op("km_fit", "fit", lambda: _km_fit(_km_base(spark, sf_dir)),
           check=lambda: _km_fit_for(spark, sf_dir)),
        Op("pq_fit", "fit", lambda: _pq_fit(_km_base(spark, sf_dir)),
           check=lambda: _pq_fit_for(spark, sf_dir)),
    ]


@dataclass(frozen=True)
class StoreSplit:
    """How the seed splits the store's input into a build batch and an
    append batch.  The served answer is split-invariant, so the oracles
    hold for any split."""

    hll_mod: int
    hll_lt: int  # user_id % hll_mod < hll_lt is the build batch

    @classmethod
    def from_seed(cls, seed: int) -> "StoreSplit":
        rng = random.Random(f"store-split:{seed}")
        m = rng.randint(2, 7)
        return cls(m, rng.randint(1, m - 1))


def store_ops(spark, sf_dir: str, root: str, split: StoreSplit) -> list[Op]:
    """One pass of the store workload under ``root``: the HLL rollup
    store's lifecycle -- build, append, compact, then two serves."""
    from pyspark.sql import functions as F

    from olympic_athletes_etl_spark.plans import sketch_q as hll
    from olympic_athletes_etl_spark.plans.tables import load

    p = os.path.join(root, "hll")
    events = load(spark, sf_dir, "events")
    old = F.col("user_id") % split.hll_mod < split.hll_lt
    return [
        Op("hll.build", "write", lambda: hll.hll_rollup_store(
            hll.hll_rollup_partials(events.filter(old)), p), source="events"),
        Op("hll.append", "write", lambda: hll.hll_rollup_append(
            hll.hll_rollup_partials(events.filter(~old)), p)),
        Op("hll.compact", "compact", lambda: hll.hll_rollup_compact(spark, p)),
        Op("hll.serve", "serve", lambda: hll.hll_rollup_serve(spark, p),
           oracle="a_hll_rollup_stored"),
        Op("hll.range", "serve", lambda: hll.hll_rollup_serve_range(
            spark, p, hll._HLL_RANGE_LO, hll._HLL_RANGE_HI),
           oracle="a_hll_rollup_range"),
    ]


def store_oracles() -> list[str]:
    return ["a_hll_rollup_stored", "a_hll_rollup_range"]


def oracle_names(workload: str) -> list[str]:
    if workload == "headline":
        return _headline_names()
    if workload == "composites":
        return list(COMPOSITE_QUERIES)
    return store_oracles()


class Workload:
    """Builds each pass's operation list; query passes differ only in
    order, store passes only in their fresh directory."""

    def __init__(self, name: str, spark, sf_dir: str, seed: int, work_dir: str):
        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
        self.name, self.spark, self.sf_dir, self.seed = name, spark, sf_dir, seed
        self.work_dir = work_dir
        self.split = StoreSplit.from_seed(seed)
        self.min_passes = MIN_PASSES[name]
        self._fixed: list[Op] | None = None

    def ops(self, pass_id: str) -> tuple[list[Op], str | None]:
        """(operations, store directory or None) for one pass."""
        if self.name == "store":
            root = os.path.join(self.work_dir, f"store-{pass_id}")
            os.makedirs(root)
            return store_ops(self.spark, self.sf_dir, root, self.split), root
        if self._fixed is None:
            if self.name == "headline":
                self._fixed = query_ops(self.spark, self.sf_dir, _headline_names())
            else:
                self._fixed = query_ops(
                    self.spark, self.sf_dir, COMPOSITE_QUERIES
                ) + fit_ops(self.spark, self.sf_dir)
        ops = list(self._fixed)
        random.Random(f"{self.name}:{self.seed}:{pass_id}").shuffle(ops)
        return ops, None
