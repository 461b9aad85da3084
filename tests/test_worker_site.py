"""The start-up hook of Spark's Python processes
(``serverless_mapreduce_spark/worker_site/sitecustomize.py``).

Each test starts a fresh interpreter whose PYTHONPATH holds synthetic
archives ahead of the hook's directory, the way Spark orders a worker's
path, and reads back what the hook left: which archives stay on
``sys.path``, where a module was imported from, and what a kept
archive's zipimporter does on ``importlib.invalidate_caches()``.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile

from serverless_mapreduce_spark.session import WORKER_SITE

REPORT = """
import builtins, json, sys
print(json.dumps({"path": sys.path, "extra": getattr(builtins, "extra", None)}))
"""


def _zip(path, files: dict[str, str | bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in files.items():
            zf.writestr(name, data)
    return str(path)


def _run(code: str, pythonpath: list[str], cwd) -> tuple[dict, str]:
    """Run ``code`` in a new interpreter with ``pythonpath``; returns the
    JSON object of its last stdout line and its stderr."""
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(pythonpath))
    child = subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, env=env, capture_output=True, text=True, timeout=120
    )
    assert child.returncode == 0, child.stderr[-3000:]
    return json.loads(child.stdout.strip().splitlines()[-1]), child.stderr


def _installed_pyspark_version() -> bytes:
    spec = importlib.util.find_spec("pyspark")
    with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
        return fh.read()


IMPORT_PYSPARK = """
import json, sys
import pyspark
print(json.dumps({"path": sys.path, "file": pyspark.__file__, "mark": getattr(pyspark, "MARK", None)}))
"""


def test_archive_with_the_installed_version_is_dropped(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "MARK = 'zip'\n",
        "pyspark/version.py": _installed_pyspark_version(),
    })
    seen, _ = _run(IMPORT_PYSPARK, [archive, WORKER_SITE], tmp_path)
    assert archive not in seen["path"]
    assert seen["mark"] is None
    assert seen["file"] == importlib.util.find_spec("pyspark").origin


def test_archive_with_another_version_stays_and_serves_imports(tmp_path):
    archive = _zip(tmp_path / "pyspark.zip", {
        "pyspark/__init__.py": "MARK = 'zip'\n",
        "pyspark/version.py": "__version__ = '0.0.1'\n",
    })
    seen, _ = _run(IMPORT_PYSPARK, [archive, WORKER_SITE], tmp_path)
    assert archive in seen["path"]
    assert seen["mark"] == "zip"
    assert seen["file"].startswith(archive + os.sep)


def _jar(path) -> str:
    return _zip(path, {"META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n", "org/x/A.class": b"\xca\xfe"})


def test_archive_without_python_is_dropped(tmp_path):
    jar = _jar(tmp_path / "core.jar")
    seen, _ = _run(REPORT, [jar, WORKER_SITE], tmp_path)
    assert jar not in seen["path"]


def test_corrupt_archive_stays_and_the_rest_is_still_checked(tmp_path):
    """A zip the hook cannot read stays where it is (the path is as it
    would be without the hook, less the archives it drops), and an
    archive after it is still checked and dropped."""
    bad = tmp_path / "broken.zip"
    bad.write_bytes(b"PK\x03\x04 this is not a zip archive")
    jar = _jar(tmp_path / "core.jar")
    without, _ = _run(REPORT, [str(bad), jar], tmp_path)
    seen, stderr = _run(REPORT, [str(bad), jar, WORKER_SITE], tmp_path)
    assert [p for p in seen["path"] if p != WORKER_SITE] == [p for p in without["path"] if p != jar]
    assert str(bad) in seen["path"]
    assert "Error in sitecustomize" not in stderr


def test_a_later_sitecustomize_still_runs(tmp_path):
    later = tmp_path / "later"
    later.mkdir()
    (later / "sitecustomize.py").write_text("import builtins\nbuiltins.extra = __file__\n")
    seen, stderr = _run(REPORT, [WORKER_SITE, str(later)], tmp_path)
    assert seen["extra"] == str(later / "sitecustomize.py")
    assert "Error in sitecustomize" not in stderr


KEPT_DIRECTORY = """
import importlib, json, os, sys, zipfile, zipimport
archive = {archive!r}
out = {{}}
import zd_probe_a
out["a"] = zd_probe_a.A
importer = sys.path_importer_cache[archive]
kept = zipimport._zip_directory_cache[archive]
importlib.invalidate_caches()  # identity recorded at start-up: kept
out["kept_first"] = zipimport._zip_directory_cache[archive] is kept and importer._files is kept
importlib.invalidate_caches()
out["kept_again"] = zipimport._zip_directory_cache[archive] is kept and importer._files is kept

# rewritten in place: new size and mtime, one new module
st = os.stat(archive)
with zipfile.ZipFile(archive, "w") as zf:
    zf.writestr("zd_probe_a.py", "A = 2\\n")
    zf.writestr("zd_probe_b.py", "B = 3\\n")
os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
importlib.invalidate_caches()
out["reread"] = zipimport._zip_directory_cache[archive] is not kept
import zd_probe_b
out["b"] = zd_probe_b.B

os.unlink(archive)
importlib.invalidate_caches()
out["removed"] = archive not in zipimport._zip_directory_cache and importer._files == {{}}
print(json.dumps(out))
"""


def test_kept_archive_directory_is_read_again_only_when_it_changes(tmp_path):
    """A top-level module has no version to compare, so the archive stays
    on the path; its directory is then kept while it is unchanged."""
    archive = _zip(tmp_path / "lib.zip", {"zd_probe_a.py": "A = 1\n"})
    seen, _ = _run(KEPT_DIRECTORY.format(archive=archive), [archive, WORKER_SITE], tmp_path)
    assert seen == {"a": 1, "kept_first": True, "kept_again": True, "reread": True, "b": 3, "removed": True}
