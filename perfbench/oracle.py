"""Answer checks: DuckDB oracle answers, cached per data directory.

An answer is compared the way ``tools/check_parity.py`` compares: row
count, sorted column names, and an order-insensitive multiset of the
rows' canonical values (columns ordered by name).  The cache keeps only
a digest of that multiset, keyed by the data directory's checksum file
and by a hash of each oracle's SQL text, so an edited oracle or an
edited table is recomputed rather than trusted.
"""

from __future__ import annotations

import hashlib
import json
import os

from check_parity import TABLES, _multiset


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def answer(names: list[str], rows: list[tuple]) -> dict:
    """Canonical form of one result: row count, sorted columns, digest."""
    ms = _multiset(rows, names)
    body = json.dumps(sorted(ms.items()), separators=(",", ":"))
    return {"rows": len(rows), "cols": sorted(names), "digest": _sha(body)}


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they agree."""
    if got["rows"] != want["rows"]:
        return f"rowcount {got['rows']} != {want['rows']}"
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} != {want['cols']}"
    if got["digest"] != want["digest"]:
        return "values differ"
    return None


def verify_data(sf_dir: str) -> str:
    """Check every table against the directory's SHA256SUMS; return the
    checksum file's own digest, which names the data for the cache."""
    with open(os.path.join(sf_dir, "SHA256SUMS")) as fh:
        sums = fh.read()
    listed = {}
    for line in sums.splitlines():
        digest, name = line.split()
        listed[name] = digest
    for t in TABLES:
        name = f"{t}.parquet"
        h = hashlib.sha256()
        with open(os.path.join(sf_dir, name), "rb") as fh:
            h.update(fh.read())
        if listed.get(name) != h.hexdigest():
            raise RuntimeError(f"{sf_dir}/{name} does not match SHA256SUMS")
    return _sha(sums)


class OracleCache:
    """Oracle answers for one data directory, computed once with DuckDB
    and kept in a JSON file under ``cache_dir``."""

    def __init__(self, sf_dir: str, data_digest: str, cache_dir: str) -> None:
        self.sf_dir = sf_dir
        self.path = os.path.join(cache_dir, f"oracle-{data_digest[:16]}.json")
        self.entries: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.entries = json.load(fh)

    def fill(self, names: list[str]) -> None:
        """Compute the answers that are missing or whose SQL changed."""
        from olympic_athletes_etl_spark.plans import oracle_sql

        sqls = oracle_sql()
        stale = [
            n for n in names
            if self.entries.get(n, {}).get("sql") != _sha(sqls[n])
        ]
        if not stale:
            return
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for n in stale:
                res = con.execute(sqls[n])
                cols = [d[0] for d in res.description]
                self.entries[n] = {"sql": _sha(sqls[n]), **answer(cols, res.fetchall())}
        finally:
            con.close()
        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(self.entries, fh, sort_keys=True)
        os.replace(tmp, self.path)

    def check(self, names: list[str]) -> None:
        """Set-up check: every needed answer is present and current."""
        from olympic_athletes_etl_spark.plans import oracle_sql

        sqls = oracle_sql()
        for n in names:
            if self.entries.get(n, {}).get("sql") != _sha(sqls[n]):
                raise RuntimeError(f"oracle answer for {n} is missing or stale")

    def __getitem__(self, name: str) -> dict:
        return self.entries[name]
