"""The driver JVM's class-data archive (``session._archive_flags``).

Each session below is a child process on its own temporary scratch root,
so it starts its own driver JVM: the first session of a key records the
archive at exit, the next one checks and promotes the recording and maps
it, and no partial, foreign or unusable archive ever stops a session from
starting. A session that does not record kills its JVM before exit to skip
the dump.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from serverless_mapreduce_spark import paths, session
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = """
import json, os, sys
sys.path.insert(0, {repo!r})
from serverless_mapreduce_spark import paths
paths.SCRATCH = sys.argv[1]
from pyspark import SparkContext
from serverless_mapreduce_spark import registry, session
from tests.oracle import assert_matches_oracle

spark = session.get_spark(app_name="jvm-archive", master="local[2]", shuffle_partitions=4)
proc = SparkContext._gateway.proc
with open(f"/proc/{{proc.pid}}/maps") as fh:
    maps = fh.read()
rows = assert_matches_oracle(
    registry.all_queries()["tpch_q1"](spark, {sf!r}), registry.all_oracles()["tpch_q1"], {sf!r}
)
print(json.dumps({{
    "jvm": proc.pid,
    "state": session.jvm_archive_state(),
    "maps_archive": any(
        line.endswith(".jsa") and line.split()[-1].startswith(os.path.realpath(sys.argv[1]))
        for line in maps.splitlines()
    ),
    "cp": session._cmdline(proc.pid)[session._cmdline(proc.pid).index("-cp") + 1],
    "rows": rows,
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
}}))
sys.stdout.flush()
if sys.argv[2] == "kill":
    proc.kill()
    proc.wait()
""".format(repo=REPO, sf=SF_DIR)


def _env() -> dict:
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env.pop("SPARK_CONF_DIR", None)  # each child picks its own
    return env


def _start(root, end: str = "stay") -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, str(root), end],
        cwd=REPO,
        env=_env(),
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
    )


def _finish(child: subprocess.Popen) -> tuple[dict, str]:
    out, err = child.communicate(timeout=600)
    assert child.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1]), err


def _alive(pid: int) -> bool:
    return session._proc_start(pid) is not None


def _files(root, suffix: str) -> list[str]:
    return sorted(n for n in os.listdir(root / "jvm") if n.endswith(suffix))


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """Two first sessions at once on one scratch root, then a third."""
    root = tmp_path_factory.mktemp("jvm-archive")
    first = [_start(root), _start(root)]
    results = [_finish(c)[0] for c in first]
    after_first = {"tmp": _files(root, ".tmp"), "jsa": _files(root, ".jsa")}
    # an archive of an older key, which the promotion supersedes
    (root / "jvm" / "0123456789abcdef.jsa").write_bytes(b"older")
    third, err = _finish(_start(root, end="kill"))
    third["superseded"] = "jvm archive: removed 0123456789abcdef.jsa, superseded" in err
    yield root, results, after_first, third
    shutil.rmtree(root, ignore_errors=True)


def test_concurrent_first_sessions_record_one_archive(recorded):
    root, results, after_first, _ = recorded
    assert sorted(r["state"] for r in results) == ["off", "recording"]
    assert all(r["rows"] >= 1 for r in results)
    assert len(after_first["tmp"]) == 1 and after_first["jsa"] == []


def test_no_jvm_outlives_a_recording_session(recorded):
    _, results, _, _ = recorded
    assert not [r["jvm"] for r in results if _alive(r["jvm"])]


def test_next_session_maps_the_archive(recorded):
    root, _, _, third = recorded
    assert third["state"] == "mapped" and third["maps_archive"]
    assert third["rows"] >= 1
    assert third["conf_dir"] == str(root / "jvm" / "conf")
    assert _files(root, ".tmp") == [] and len(_files(root, ".jsa")) == 1
    assert third["superseded"]


def test_partial_and_foreign_archives_never_break_a_session(recorded, tmp_path):
    """A truncated recording whose JVM is gone is deleted, not promoted;
    an archive recorded for another classpath does not map and is
    removed; the session starts without sharing."""
    src_root, _, _, third = recorded
    good = src_root / "jvm" / _files(src_root, ".jsa")[0]
    root = tmp_path / "root"
    jvm_dir = root / "jvm"
    jvm_dir.mkdir(parents=True)
    conf_dir = str(jvm_dir / "conf")
    key = session._archive_key(session._java_binary(), session._spark_home(), conf_dir)
    # a recording by a session and JVM that are both gone, cut at 1 MB
    with open(good, "rb") as src, open(jvm_dir / f"{key}.1.tmp", "wb") as dst:
        dst.write(src.read(1 << 20))
    cp = third["cp"].replace(third["conf_dir"], conf_dir)
    dead = {"pid": 1, "start": "0", "jvm": 1, "jvm_start": "0", "java": session._java_binary(), "cp": cp}
    (jvm_dir / f"{key}.1.rec").write_text(json.dumps(dead))
    # a good archive, but of the first root's classpath
    os.link(good, jvm_dir / f"{key}.jsa")
    try:
        out, err = _finish(_start(root, end="kill"))
        assert out["state"] == "off" and out["rows"] >= 1
        assert "jvm archive: discarded recording" in err
        assert "did not map" in err
        assert not _files(root, ".jsa") + _files(root, ".tmp") + _files(root, ".rec")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_real_conf_dir_turns_sharing_off(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.app.name x\n")
    monkeypatch.setattr(paths, "SCRATCH", str(tmp_path / "scratch"))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert session._archive_flags() == ""
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    monkeypatch.delenv("SPARK_CONF_DIR")
    hadoop = tmp_path / "hadoop"
    hadoop.mkdir()
    (hadoop / "core-site.xml").write_text("<configuration/>")
    monkeypatch.setenv("HADOOP_CONF_DIR", str(hadoop))
    assert session._archive_flags() == ""
    assert "SPARK_CONF_DIR" not in os.environ
    assert not (tmp_path / "scratch").exists()


def test_unwritable_scratch_turns_sharing_off(tmp_path, monkeypatch, caplog):
    blocker = tmp_path / "scratch"
    blocker.write_text("a file where the scratch directory would be")
    monkeypatch.setattr(paths, "SCRATCH", str(blocker))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    before = dict(os.environ)
    with caplog.at_level("WARNING", logger=session.__name__):
        assert session._archive_flags() == ""
    assert "jvm archive: off for this session" in caplog.text
    assert dict(os.environ) == before
