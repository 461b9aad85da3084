"""The Python worker daemon (``serverless_mapreduce_spark.worker_daemon``).

Every task of a pooled Python worker starts with
``importlib.invalidate_caches()``. On Python < 3.13 each zipimporter then
re-reads its archive's directory (pyspark.zip under 12 path entries,
Spark's core jar, py4j); the daemon that ``get_spark`` configures keeps a
directory while its archive's identity is unchanged, and still reads a
new, rewritten or removed archive again.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from serverless_mapreduce_spark import worker_daemon
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pooled_workers_keep_the_pyspark_zip_directory(spark):
    """Every task of a second Python job finds the same directory object
    for pyspark.zip before and after ``invalidate_caches()``."""

    def probe(_):
        import importlib
        import os
        import zipimport

        import pyspark

        archive = pyspark.__file__.split(".zip")[0] + ".zip"
        before = zipimport._zip_directory_cache.get(archive)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache.get(archive)
        yield os.getpid(), archive, before is not None and before is after

    rdd = spark.sparkContext.parallelize(range(8), 8)
    rdd.mapPartitions(probe).collect()
    tasks = rdd.mapPartitions(probe).collect()
    assert len(tasks) == 8
    assert all(archive.endswith("pyspark.zip") for _, archive, _ in tasks), tasks
    assert all(same for _, _, same in tasks), tasks


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_zip_directory_is_read_again_only_when_the_archive_changes(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches)
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"zd_probe_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zd_probe_a").A == 1
        importer = sys.path_importer_cache[archive]

        importlib.invalidate_caches()  # first read of this process: recorded
        kept = zipimport._zip_directory_cache[archive]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is kept
        assert importer._files is kept

        # rewritten in place: new size and mtime, one new module
        st = os.stat(archive)
        _write_zip(archive, {"zd_probe_a": "A = 2\n", "zd_probe_b": "B = 3\n"})
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[archive] is not kept
        assert importlib.import_module("zd_probe_b").B == 3

        os.unlink(archive)
        importlib.invalidate_caches()
        assert archive not in zipimport._zip_directory_cache
        assert importer._files == {}
    finally:
        for name in ("zd_probe_a", "zd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        worker_daemon._read_at.pop(archive, None)


CHILD = """
import json, sys
{path_setup}
from serverless_mapreduce_spark import registry, session
from tests.oracle import assert_matches_oracle

spark = session.get_spark(app_name="worker-daemon-cwd", master="local[2]", shuffle_partitions=4)
rows = assert_matches_oracle(
    registry.all_queries()["facade_word_count"](spark, {sf!r}),
    registry.all_oracles()["facade_word_count"],
    {sf!r},
)
print(json.dumps({{"rows": rows, "daemon": spark.conf.get("spark.python.daemon.module")}}))
"""


@pytest.mark.parametrize("package_on", ["sys.path", "PYTHONPATH"])
def test_facade_runs_from_any_cwd(tmp_path, package_on):
    """Spark starts the daemon with ``python -m`` from the driver's cwd;
    the session puts the package's parent on the workers' PYTHONPATH, so
    a driver run from elsewhere still finds the daemon and the facade's
    callbacks."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    if package_on == "sys.path":
        path_setup = f"sys.path.insert(0, {REPO!r})"
        env.pop("PYTHONPATH", None)
    else:
        path_setup = ""
        env["PYTHONPATH"] = REPO
    child = subprocess.run(
        [sys.executable, "-c", CHILD.format(path_setup=path_setup, sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert child.returncode == 0, child.stderr[-3000:]
    result = json.loads(child.stdout.strip().splitlines()[-1])
    assert result["rows"] >= 1
    assert result["daemon"] == worker_daemon.__name__
