"""worker_daemon — Python workers that import pyspark from a directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from olympic_athletes_etl_spark import worker_daemon as wd

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _archived_matches_unpacked() -> bool:
    import pyspark

    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip")
    return wd.archived_pyspark_version([lib]) == pyspark.__version__


def _worker_report(batches):
    import sys
    import zipimport

    import pandas as pd
    import pyspark

    f = pyspark.__file__
    parents = []
    d = os.path.dirname(f)
    while d != os.path.dirname(d):
        parents.append(d)
        d = os.path.dirname(d)
    for _ in batches:
        yield pd.DataFrame({
            "file": [f],
            "in_archive": [any(os.path.isfile(p) for p in parents)],
            "zipimporters": [sum(
                isinstance(v, zipimport.zipimporter)
                for v in sys.path_importer_cache.values()
            )],
        })


_REPORT_SCHEMA = "file string, in_archive boolean, zipimporters long"


def test_worker_path_drops_files_only_on_a_version_match(tmp_path):
    archive = tmp_path / "pyspark.zip"
    archive.write_bytes(b"")
    lib = tmp_path / "site"
    lib.mkdir()
    path = [str(tmp_path), str(archive), str(lib)]
    assert wd.worker_path(path, "4.1.2", "4.1.2") == [str(tmp_path), str(lib)]
    assert wd.worker_path(path, "4.1.2", "4.0.0") == path
    assert wd.worker_path(path, None, "4.1.2") == path
    assert wd.worker_path(path, "4.1.2", None) == path


def test_versions_read_from_archive_and_directory(tmp_path):
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", '__version__: str = "9.9.1"\n')
    other = tmp_path / "other.jar"
    with zipfile.ZipFile(other, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    lib = tmp_path / "site"
    (lib / "pyspark").mkdir(parents=True)
    (lib / "pyspark" / "__init__.py").write_text("")
    (lib / "pyspark" / "version.py").write_text("__version__ = '9.9.2'\n")
    path = [str(other), str(archive), str(lib)]
    assert wd.archived_pyspark_version(path) == "9.9.1"
    # no py4j beside the unpacked pyspark: not usable
    assert wd.unpacked_pyspark_version(path) is None
    (lib / "py4j").mkdir()
    (lib / "py4j" / "__init__.py").write_text("")
    assert wd.unpacked_pyspark_version(path) == "9.9.2"
    # 9.9.2 unpacked vs 9.9.1 archived: the daemon keeps the path
    assert wd.worker_path(
        path, wd.unpacked_pyspark_version(path), wd.archived_pyspark_version(path)
    ) == path


@pytest.mark.skipif(
    not _archived_matches_unpacked(),
    reason="the installed pyspark is not the version in $SPARK_HOME's pyspark.zip",
)
def test_python_tasks_import_pyspark_outside_archives(spark):
    rows = (
        spark.range(0, 8, numPartitions=8)
        .mapInPandas(_worker_report, _REPORT_SCHEMA)
        .collect()
    )
    assert len(rows) == 8
    for r in rows:
        assert not r["in_archive"], r["file"]
        assert r["zipimporters"] == 0


_OUTSIDE_SCRIPT = """
import json, os, sys
import pandas as pd
import pyspark
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from olympic_athletes_etl_spark.session import get_spark
spark = get_spark(app_name="outside-repo", shuffle_partitions=2)
try:
    plus = F.udf(lambda x: x + 1, "long")
    total = spark.range(0, 10, numPartitions=2).select(plus("id").alias("y")).agg(F.sum("y")).first()[0]
    files = sorted({{
        r[0] for r in spark.range(0, 2, numPartitions=2)
        .mapInPandas(lambda it: (pd.DataFrame({{"f": [pyspark.__file__]}}) for _ in it), "f string")
        .collect()
    }})
    print("RESULT " + json.dumps({{"total": total, "files": files}}))
finally:
    spark.stop()
"""


def test_python_udfs_run_from_outside_the_repo_without_pythonpath(tmp_path):
    """The daemon is a package module: workers must import it even when
    the session starts in another directory and PYTHONPATH is unset."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_SCRIPT.format(root=_REPO_ROOT)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    got = json.loads(lines[-1][len("RESULT "):])
    assert got["total"] == sum(range(1, 11))
    assert got["files"]
    if _archived_matches_unpacked():
        assert all(os.path.isfile(f) for f in got["files"]), got["files"]
