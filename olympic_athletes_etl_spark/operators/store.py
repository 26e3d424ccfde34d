"""Generation-versioned parquet store — the shared lifecycle under every
maintained index / rollup family (LSH postings, IVFPQ index, kNN graph,
exact rollup, quantile histogram, HLL register rollup, BM25 index, dense
identity columns).

Each family follows the same deployed loop::

    create (history)  ->  append (ingest batches)  ->  compact (maintenance)
                                   \\-> load / serve (reads only the store)

``GenStore`` owns that loop for a root path and its ``TableSpec``s, and
owns the family's column contract: ``create``/``append`` check every
table's frame before taking the writer lock or writing a file, and
``load`` checks the stored data with the same helper.  The three
mergeable rollups (exact (count, sum), quantile histogram, HLL registers)
are one more level up: a ``Rollup`` declares partials + merge + columns +
partition key once, and serves both the batch store (``at``) and the
streaming fold's ``batch_id``-partitioned store (``stream_at``).

A compaction must never rewrite a store in place: a crash (or executor
loss, when the read is staged through a ``localCheckpoint``) between the
delete and the rewrite would permanently lose the store.  At 100 TB that
is the primary copy of an index that took hours to build.  Every write
here is a GENERATION SWAP:

* a store root holds numbered generation directories ``gen-0``, ``gen-1``,
  … plus a tiny ``_STORE`` manifest (JSON: the current generation number
  and optional family metadata such as the streaming replay high-water
  mark);
* every read resolves the manifest and touches only the current
  generation's directory;
* ``compact`` (and snapshot ``create`` over an existing store) writes the
  NEW generation to a fresh directory — the old one is still fully
  readable the whole time, so no ``localCheckpoint`` staging is needed at
  all — verifies the new files (schema contract + row-count invariant),
  then COMMITS by atomically replacing the manifest (``os.replace``; on an
  object store, a conditional PUT of the manifest key or a metastore
  pointer swap — the same commit protocol Delta/Iceberg stores use for
  their log tip), and only then garbage-collects superseded generations.

There is no window in which the only copy of the data is executor RAM or a
half-deleted directory: a crash at ANY point leaves the manifest pointing
at a complete, verified generation, and the next compaction sweeps the
orphaned half-written directory.  ``tests/test_store.py`` kills the
rewrite mid-flight and proves the store still serves the pre-compaction
answer.

Scale notes (100 TB): the manifest is O(bytes) and written driver-side
once per maintenance pass; generations add one directory level, which
changes no partition pruning (partition directories live INSIDE the
generation, so literal PartitionFilters are untouched).  The transient 2×
disk during a compaction is the standard cost of any copy-on-write
rewrite (Delta OPTIMIZE, Iceberg rewrite_data_files); it buys crash
safety and lets readers proceed against the old generation throughout.

WRITER MUTUAL EXCLUSION (round 11): writes are serialized by a ``_LOCK``
file taken with O_EXCL — the portable translation is the same as the
manifest commit's (S3 If-None-Match PUT / GCS generation precondition).
Before this the write-skew was only documented: an append that landed in
the current generation AFTER a concurrent compaction had read its input
was missing from the new generation and silently swept with the old one.
Now any append/create/compact attempted while another writer holds the
lock raises ``ConcurrentWriteError`` instead — loud refusal, never
silent loss. A lock left by a crashed LOCAL process (dead pid) is broken
automatically; a live holder is never pre-empted. As defense-in-depth
(manual lock removal, cross-host writers the pid probe can't see),
``create``/``compact`` ALSO re-read the manifest immediately before
commit and refuse if the generation moved — the optimistic conflict
check Delta/Iceberg run at log-append time.

READER LIFETIME: ``_gc`` sweeps superseded generations at commit, so a
lazy DataFrame obtained from ``load``/a ``*_load`` helper is INVALIDATED
by the next create/compact on the same store (missing-file errors on the
next action) — resolve-then-read-promptly, or construct the store with
``keep_last > 1`` to retain N generations for in-flight readers (the
Delta/Iceberg retention-window model; sweeping then lags by
``keep_last - 1`` maintenance passes).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from collections.abc import Callable, Mapping, Sequence
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

MANIFEST_NAME = "_STORE"
LOCK_NAME = "_LOCK"
_GEN_RE = re.compile(r"^gen-(\d+)$")

MergeFn = Callable[[DataFrame], DataFrame]


class StoreCorruptError(RuntimeError):
    """The manifest exists but cannot be parsed — NOT the same as "no
    store here": the data generations are likely intact and manual
    recovery means pointing a fresh manifest at the newest complete
    ``gen-N`` directory."""


class ConcurrentWriteError(RuntimeError):
    """Another writer holds the store lock (or committed between this
    writer's read and its commit). The attempted write did NOT commit;
    retry after the other writer finishes."""


@dataclass(frozen=True)
class TableSpec:
    """One parquet table inside a store generation.

    ``name``          subdirectory under the generation dir ("" = the
                      generation dir itself — the single-table layout).
    ``columns``       stored schema contract (partition columns included);
                      None = free-form (dense-id stores carry caller
                      schemas).
    ``partition_by``  physical partition key — the directory layout serve
                      paths prune on (band / list_id / month / day /
                      tbucket / batch_id).
    ``merge``         compaction fold for mergeable state (sum the
                      (count,sum) semigroup, max HLL registers). None =
                      refile-only compaction: rows are untouched and just
                      re-clustered to one file set per partition directory
                      (``repartition(partition_by)``; ``coalesce(1)`` when
                      unpartitioned) — row count is verified unchanged.
    """

    name: str
    columns: tuple[str, ...] | None = None
    partition_by: tuple[str, ...] = ()
    merge: MergeFn | None = None


def _subdir(root: str, name: str) -> str:
    return os.path.join(root, name) if name else root


def gen_dir(path: str, gen: int) -> str:
    return os.path.join(path, f"gen-{gen}")


def read_manifest(path: str) -> dict | None:
    """The store's commit record, or None for a path with no store yet.

    A PRESENT but unparseable manifest raises ``StoreCorruptError``
    rather than masquerading as "no store" — auto-treating it as absent
    would let the next ``create`` write gen-0 beside real data."""
    try:
        with open(os.path.join(path, MANIFEST_NAME), encoding="utf-8") as f:
            return json.load(f)
    except FileNotFoundError:
        return None
    except (json.JSONDecodeError, UnicodeDecodeError) as exc:
        raise StoreCorruptError(
            f"{path}/{MANIFEST_NAME} exists but is unreadable ({exc}); "
            "the gen-N data directories are likely intact — recover by "
            "writing a fresh manifest pointing at the newest complete "
            "generation"
        ) from exc


def _commit_manifest(path: str, manifest: Mapping) -> None:
    """Atomic, DURABLE pointer swap: write-temp + fsync + rename IS the
    commit, then the directory entry is fsynced so a power loss cannot
    roll back (or truncate) an acknowledged commit. os.replace is atomic
    on POSIX; the object-store equivalent is a conditional PUT (S3
    If-None-Match / GCS generation precondition) or a metastore row."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, MANIFEST_NAME + ".tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(dict(manifest), f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(path, MANIFEST_NAME))
    dfd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def resolve_data_dir(path: str, table: str = "") -> str:
    """Current generation's directory for ``table`` — the ONLY path reads
    should touch. Raises on a path that is not a store."""
    man = read_manifest(path)
    if man is None:
        raise FileNotFoundError(
            f"{path} has no {MANIFEST_NAME} manifest; not a GenStore"
        )
    return _subdir(gen_dir(path, man["gen"]), table)


class GenStore:
    """One family's store: a root path + its table specs.

    ``keep_last`` retains the newest N generations at sweep time
    (default 1 = sweep everything superseded at commit; raise it when
    long-lived lazy readers must survive a concurrent maintenance
    pass — see the module docstring's READER LIFETIME note)."""

    def __init__(
        self, path: str, tables: Sequence[TableSpec], keep_last: int = 1
    ):
        self.path = path
        self.tables = tuple(tables)
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        self.keep_last = keep_last
        names = [t.name for t in self.tables]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate table names in store spec: {names}")

    # -- writer lock -------------------------------------------------------
    def _try_lock(self) -> int | None:
        """One O_EXCL attempt; fd on success, None when held."""
        try:
            return os.open(
                os.path.join(self.path, LOCK_NAME),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            return None

    @contextmanager
    def _writer_lock(self, op: str):
        """Serialize writers via O_EXCL lock-file creation. A lock whose
        recorded pid is a DEAD local process (crashed writer) is broken
        and re-taken once; a live (or unidentifiable) holder raises
        ``ConcurrentWriteError`` — loud refusal instead of the silent
        append-during-compact write-skew."""
        os.makedirs(self.path, exist_ok=True)
        lock = os.path.join(self.path, LOCK_NAME)
        fd = self._try_lock()
        if fd is None:
            holder: dict = {}
            try:
                with open(lock, encoding="utf-8") as f:
                    holder = json.load(f)
            except (OSError, json.JSONDecodeError):
                pass  # racing holder mid-write; treat as live
            pid = holder.get("pid")
            dead = False
            if isinstance(pid, int) and pid > 0:
                try:
                    os.kill(pid, 0)
                except ProcessLookupError:
                    dead = True
                except PermissionError:
                    pass  # alive, different user
            if dead:
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass
                fd = self._try_lock()
            if fd is None:
                raise ConcurrentWriteError(
                    f"store {self.path!r}: another writer holds {LOCK_NAME}"
                    f" ({holder.get('op', '?')} by pid {pid}); refusing"
                    f" {op} — retry after it completes"
                )
        try:
            os.write(
                fd, json.dumps({"pid": os.getpid(), "op": op}).encode()
            )
            os.close(fd)
            yield
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    def _check_unmoved(self, expected_gen: int | None, op: str) -> None:
        """Optimistic conflict check at commit time (defense-in-depth
        under the lock): refuse if another writer moved the generation
        pointer since this writer read it."""
        man = self.manifest()
        actual = None if man is None else man["gen"]
        if actual != expected_gen:
            raise ConcurrentWriteError(
                f"store {self.path!r}: generation moved "
                f"{expected_gen} -> {actual} during {op}; refusing to "
                "commit over the concurrent writer's result"
            )

    # -- manifest ----------------------------------------------------------
    def manifest(self) -> dict | None:
        return read_manifest(self.path)

    def _require(self) -> dict:
        man = self.manifest()
        if man is None:
            raise ValueError(
                f"{self.path} has no {MANIFEST_NAME} manifest; not a "
                "GenStore (write it with the family's store function)"
            )
        return man

    def data_dir(self, table: str = "") -> str:
        """Current generation's directory for ``table``."""
        return _subdir(gen_dir(self.path, self._require()["gen"]), table)

    def ensure(self, extra: Mapping | None = None) -> str:
        """Create an EMPTY store (manifest + gen-0 dir) if none exists —
        the streaming writer's first-batch path. Returns the current
        generation dir either way."""
        man = self.manifest()
        if man is None:
            try:
                with self._writer_lock("ensure"):
                    man = self.manifest()  # may exist by now
                    if man is None:
                        os.makedirs(gen_dir(self.path, 0), exist_ok=True)
                        man = {"gen": 0, **(extra or {})}
                        _commit_manifest(self.path, man)
            except ConcurrentWriteError:
                man = self.manifest()  # a racing writer created it
                if man is None:
                    raise
        return gen_dir(self.path, man["gen"])

    # -- frame validation ----------------------------------------------------
    def _contract(self, t: TableSpec, df: DataFrame, what: str) -> DataFrame:
        """``df`` projected to ``t``'s contract columns; raises naming the
        missing ones (``what`` says whose: an incoming frame or stored
        data)."""
        if t.columns is None:
            return df
        missing = [c for c in t.columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"store {self.path!r} table {t.name!r}: {what} is "
                f"missing contract columns {missing}"
            )
        return df.select(*t.columns)

    def check(self, frames: Mapping[str, DataFrame]) -> dict[str, DataFrame]:
        """Every table's frame checked against its spec and projected to
        its contract — all of them before any write, so a rejected
        multi-table write writes nothing."""
        return {
            t.name: self._contract(t, frames[t.name], "frame") for t in self.tables
        }

    def _write(self, root: str, frames: Mapping[str, DataFrame], mode: str) -> None:
        for t in self.tables:
            w = frames[t.name].write.mode(mode)
            if t.partition_by:
                w = w.partitionBy(*t.partition_by)
            w.parquet(_subdir(root, t.name))

    # -- lifecycle -----------------------------------------------------------
    def create(self, frames: Mapping[str, DataFrame], extra: Mapping | None = None) -> None:
        """Write a full snapshot as a NEW generation and commit it.

        On a fresh path this writes gen-0. Over an EXISTING store it is an
        atomic snapshot REPLACE: the next generation is written beside the
        current one, the manifest flips, then the old generation is
        swept — a crash mid-write leaves the previous snapshot intact and
        served (the plain ``mode("overwrite")`` it replaces deleted the
        old copy before the new one existed)."""
        frames = self.check(frames)
        with self._writer_lock("create"):
            man = self.manifest()
            expected = None if man is None else man["gen"]
            nxt = 0 if man is None else man["gen"] + 1
            dst = gen_dir(self.path, nxt)
            if os.path.exists(dst):  # leftover from a crashed attempt
                shutil.rmtree(dst)
            self._write(dst, frames, mode="errorifexists")
            self._check_unmoved(expected, "create")
            _commit_manifest(
                self.path,
                {**({} if man is None else man), "gen": nxt, **(extra or {})},
            )
            self._gc(keep=nxt)

    def append(self, frames: Mapping[str, DataFrame]) -> None:
        """Fold an ingest batch in: plain parquet appends into the CURRENT
        generation — no history is read or rewritten. Holds the writer
        lock for the duration, so an append can no longer land in a
        generation a concurrent compaction is about to sweep (it refuses
        with ConcurrentWriteError instead)."""
        frames = self.check(frames)
        with self._writer_lock("append"):
            self._write(
                gen_dir(self.path, self._require()["gen"]), frames, mode="append"
            )

    def load(self, spark: SparkSession) -> dict[str, DataFrame]:
        """Read every table of the current generation (contract-projected).

        The returned DataFrames are LAZY and pinned to this generation's
        files: a subsequent create/compact sweeps those files (unless
        ``keep_last > 1``), failing any still-unmaterialized action with
        missing-file errors — resolve-then-act promptly, or size
        ``keep_last`` to the longest reader you run concurrently."""
        root = gen_dir(self.path, self._require()["gen"])
        return {
            t.name: self._contract(
                t, spark.read.parquet(_subdir(root, t.name)), "stored data"
            )
            for t in self.tables
        }

    def compact(
        self,
        spark: SparkSession,
        merge_overrides: Mapping[str, MergeFn] | None = None,
        extra: Mapping | None = None,
    ) -> None:
        """Copy-on-write maintenance rewrite with an atomic commit.

        Stage: each table's current generation is read (and stays readable
        throughout — no localCheckpoint, no in-place delete), folded by its
        ``merge`` fn (or refiled to one file set per partition directory),
        and written to the NEXT generation directory.

        Verify: the new files are re-read and checked — contract columns
        present; for refile-only tables the row count must be UNCHANGED
        (parquet-footer count, metadata-only even at scale).

        Commit: one atomic manifest replace flips every reader to the new
        generation; superseded generations are swept afterwards. A crash
        before the commit leaves the old generation current and complete;
        the orphan staging dir is removed by the next attempt."""
        with self._writer_lock("compact"):
            self._compact_locked(spark, merge_overrides, extra)

    def _compact_locked(
        self,
        spark: SparkSession,
        merge_overrides: Mapping[str, MergeFn] | None,
        extra: Mapping | None,
    ) -> None:
        man = self._require()
        cur, nxt = man["gen"], man["gen"] + 1
        src_root, dst_root = gen_dir(self.path, cur), gen_dir(self.path, nxt)
        if os.path.exists(dst_root):  # crashed prior attempt, unreferenced
            shutil.rmtree(dst_root)
        for t in self.tables:
            src = self._contract(
                t, spark.read.parquet(_subdir(src_root, t.name)), "stored data"
            )
            fn = (merge_overrides or {}).get(t.name, t.merge)
            if fn is not None:
                out = fn(src)
            elif t.partition_by:
                out = src.repartition(*[c for c in t.partition_by])
            else:
                out = src.coalesce(1)
            w = out.write.mode("errorifexists")
            if t.partition_by:
                w = w.partitionBy(*t.partition_by)
            dst = _subdir(dst_root, t.name)
            w.parquet(dst)
            # verify before the commit — a compaction that can't re-read
            # its own output must not become current
            chk = spark.read.parquet(dst)
            missing = [c for c in (t.columns or ()) if c not in chk.columns]
            if missing:
                raise RuntimeError(
                    f"compact verify failed for table {t.name!r}: new "
                    f"generation is missing {missing}"
                )
            if fn is None and chk.count() != src.count():
                raise RuntimeError(
                    f"compact verify failed for table {t.name!r}: refile "
                    "changed the row count"
                )
        self._check_unmoved(cur, "compact")
        _commit_manifest(self.path, {**man, "gen": nxt, **(extra or {})})
        self._gc(keep=nxt)

    def _gc(self, keep: int) -> None:
        """Sweep generation dirs older than the retained window
        ``(keep - keep_last, keep]`` — best-effort (failure leaves
        unreferenced garbage, never a correctness problem). Dirs numbered
        ABOVE ``keep`` are always swept: they are crashed staging
        attempts, not history."""
        try:
            entries = os.listdir(self.path)
        except FileNotFoundError:
            return
        lo = keep - self.keep_last + 1
        for name in entries:
            m = _GEN_RE.match(name)
            if m and not (lo <= int(m.group(1)) <= keep):
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)


@dataclass(frozen=True)
class Rollup:
    """One mergeable rollup family, declared once: how a batch reduces to
    partial rows (``partials``), how partial rows fold to one row per key
    (``merge``), the stored ``columns`` and the ``partition_by`` key serves
    prune on.  The batch lifecycle (create / append / load / compact) and
    the streaming exactly-once fold (streaming/pipeline.py:
    stream_fold_batch / stream_fold_compact) both run off this one
    declaration."""

    name: str
    partials: Callable[[DataFrame], DataFrame]
    merge: MergeFn
    columns: tuple[str, ...]
    partition_by: str

    def at(self, path: str) -> GenStore:
        """The batch store: partitioned by the family key, compaction
        folds by ``merge``."""
        return GenStore(
            path,
            [TableSpec("", self.columns, (self.partition_by,), self.merge)],
        )

    def stream_at(self, path: str) -> GenStore:
        """The streaming fold's store: one ``batch_id`` partition per
        micro-batch, so a replayed batch overwrites only its own rows."""
        return GenStore(
            path, [TableSpec("", (*self.columns, "batch_id"), ("batch_id",))]
        )

    def create(self, partials: DataFrame, path: str) -> None:
        self.at(path).create({"": partials})

    def append(self, partials: DataFrame, path: str) -> None:
        """Append a batch's partials; a fresh path gets an empty store
        first (the contract is checked before that, so a rejected frame
        leaves the path untouched)."""
        store = self.at(path)
        store.check({"": partials})
        store.ensure()
        store.append({"": partials})

    def load(self, spark: SparkSession, path: str) -> DataFrame:
        return self.at(path).load(spark)[""]

    def compact(self, spark: SparkSession, path: str) -> None:
        """Fold the partial rows to one per key (generation swap).

        Batch stores only: a streaming store is ``batch_id``-partitioned
        and carries a replay high-water mark, and folding it here would
        merge the batch partitions WITHOUT raising the mark — a checkpoint
        replay of a batch committed since the last streaming compaction
        would then re-materialize its partition and double-count.  The
        layout is read from the directory listing, not a schema read."""
        store = self.at(path)
        if any(e.startswith("batch_id=") for e in os.listdir(store.data_dir())):
            raise ValueError(
                f"{path} is a streaming {self.name} store (batch_id-"
                "partitioned); use streaming.pipeline.stream_fold_compact "
                "so replayed micro-batches can't double-count folded "
                "partials"
            )
        store.compact(spark)
