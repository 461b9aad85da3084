"""The Python processes Spark launches for a ``get_spark`` session.

Spark puts pyspark.zip, its py4j zip and its core jar at the front of the
path of every Python process it starts. The start-up hook the session
puts on the workers' PYTHONPATH (``worker_site/sitecustomize.py``) drops
the archives the installed environment provides, so the streaming source
runner of each ``start()`` and the pooled workers import the installed
pyspark, with its bytecode, instead of compiling pyspark from the zip.
The hook's rules are unit-tested in ``test_worker_site.py``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from serverless_mapreduce_spark.session import WORKER_SITE
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _assert_installed_pyspark(seen: dict) -> None:
    assert os.path.basename(seen["pyspark"]) == "__init__.py", seen
    assert os.path.isfile(seen["pyspark"]), seen  # a file in a directory, not in a zip
    assert seen["archives"] == [], seen


def test_stream_runner_imports_the_installed_pyspark(spark, tmp_path):
    """One drain of a test-only Python stream source: its ``latestOffset``
    runs in the runner process Spark spawns for ``start()`` and reports
    where that process imported pyspark from and which archives are left
    on its path."""

    class Reader(DataSourceStreamReader):
        def initialOffset(self) -> dict:
            return {"n": 0}

        def latestOffset(self) -> dict:
            import os
            import sys

            import pyspark

            archives = [p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)]
            return {"n": 1, "pyspark": pyspark.__file__, "archives": archives}

        def partitions(self, start: dict, end: dict):
            return [InputPartition(0)]

        def read(self, partition):
            yield (1,)

    class RunnerProbe(DataSource):
        @classmethod
        def name(cls) -> str:
            return "runner_probe"

        def schema(self) -> str:
            return "n INT"

        def streamReader(self, schema):
            return Reader()

    spark.dataSource.register(RunnerProbe)
    query = (
        spark.readStream.format("runner_probe").load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(300)
    progress = [json.loads(p.json) for p in query.recentProgress]
    assert progress and progress[0]["numInputRows"] == 1
    _assert_installed_pyspark(progress[0]["sources"][0]["endOffset"])


def test_pooled_workers_import_the_installed_pyspark(spark):
    """The same check in the daemon's workers, on a second job (pooled
    workers that already ran a task)."""

    def probe(_):
        import os
        import sys

        import pyspark

        archives = [p for p in sys.path if p.endswith((".zip", ".jar")) and os.path.isfile(p)]
        yield {"pyspark": pyspark.__file__, "archives": archives}

    rdd = spark.sparkContext.parallelize(range(8), 8)
    rdd.mapPartitions(probe).collect()
    tasks = rdd.mapPartitions(probe).collect()
    assert len(tasks) == 8
    for seen in tasks:
        _assert_installed_pyspark(seen)


CHILD = """
import json, sys
{path_setup}
from serverless_mapreduce_spark import registry, session
from tests.oracle import assert_matches_oracle

spark = session.get_spark(app_name="worker-site-cwd", master="local[2]", shuffle_partitions=4)
rows = assert_matches_oracle(
    registry.all_queries()["facade_word_count"](spark, {sf!r}),
    registry.all_oracles()["facade_word_count"],
    {sf!r},
)
print(json.dumps({{
    "rows": rows,
    "pythonpath": spark.conf.get("spark.executorEnv.PYTHONPATH"),
    "daemon": spark.conf.get("spark.python.daemon.module", None),
}}))
"""


@pytest.mark.parametrize("package_on", ["sys.path", "PYTHONPATH"])
def test_facade_runs_from_any_cwd(tmp_path, package_on):
    """Spark starts its Python processes from the driver's cwd; the
    session puts the package's parent on their PYTHONPATH, then the
    start-up hook's directory, so a driver run from elsewhere still finds
    the facade's callbacks, and Spark runs its own worker daemon."""
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
    assert result["pythonpath"].split(os.pathsep) == [REPO, WORKER_SITE]
    assert os.path.isfile(os.path.join(WORKER_SITE, "sitecustomize.py"))
    assert result["daemon"] is None
