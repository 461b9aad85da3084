"""Start-up hook of every Python process Spark launches for a session that
``session.get_spark`` built, which appends this directory to
``spark.executorEnv.PYTHONPATH``: the worker daemon and the workers it
forks, the Python DataSource planner daemons, and the streaming source
runner of each ``start()``. Python imports ``sitecustomize`` at start-up,
before the process's own module.

Spark puts ``$SPARK_HOME/python/lib/pyspark.zip``, its py4j zip and its
core jar at the front of each such process's path. A zip carries no
bytecode, so every process compiled pyspark from source: the imports of
the stream runner took 1.44-1.65 s from the zip and 0.37-0.48 s from the
installed pyspark of the same release. The hook drops from ``sys.path``
each archive the installed environment already provides:

- an archive with no Python in it (Spark's core jar);
- an archive each of whose top-level packages is installed with the same
  ``<package>/version.py`` (pyspark.zip, the py4j zip).

An archive that stays on the path keeps its zip directory while it is
unchanged. Every task of a pooled worker starts with
``importlib.invalidate_caches()``, and on Python < 3.13 that makes each
zipimporter re-read its archive's whole directory: 160-370 ms per task at
local[4] with pyspark imported from pyspark.zip (12 importers over it, 2
over the core jar, 2 over py4j). Here an archive is read again only when
no directory is cached for it or its ``(st_ino, st_size, st_mtime_ns)``
differs from this process's last read, so a new, rewritten or removed
archive is still seen (the guarantee Python 3.13 gives). The identities
are recorded at start-up, so the daemon's forked workers inherit them.

Standard library only. The hook never raises, and a ``sitecustomize``
later on the path still runs.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_ino, st_size, st_mtime_ns) at this process's last read
_read_at: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _identity(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    ident = _identity(self.archive)  # before the read: a later write re-reads
    cached = zipimport._zip_directory_cache.get(self.archive)
    if ident is not None and cached is not None and _read_at.get(self.archive) == ident:
        self._files = cached
        return
    _reread(self)
    if ident is None or self.archive not in zipimport._zip_directory_cache:
        _read_at.pop(self.archive, None)
    else:
        _read_at[self.archive] = ident


def _installed_version(package: str, dirs: list[str]) -> bytes | None:
    """``<package>/version.py`` of the first regular package ``package``
    in ``dirs``, or None."""
    for d in dirs:
        pkg = os.path.join(d, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py"), "rb") as fh:
                    return fh.read()
            except OSError:
                return None
    return None


def _provided(archive: str, dirs: list[str]) -> bool:
    """Whether ``dirs`` provide what ``archive`` holds: no Python at all,
    or only top-level packages installed in ``dirs`` with the same
    ``version.py``. False for an archive that cannot be read."""
    try:
        importer = zipimport.zipimporter(archive)
    except zipimport.ZipImportError:
        return False
    tops = {name.split(os.sep, 1)[0] if os.sep in name else None
            for name in importer._files if name.endswith((".py", ".pyc"))}
    if None in tops:  # a top-level module: no version to compare
        return False
    for top in tops:
        try:
            zipped = importer.get_data(os.path.join(top, "version.py"))
        except (OSError, zipimport.ZipImportError):
            return False
        if zipped != _installed_version(top, dirs):
            return False
    return True


def _drop_provided_archives() -> None:
    dirs = [p for p in sys.path if os.path.isdir(p)]
    for archive in [p for p in sys.path if os.path.isfile(p)]:
        if archive in sys.path and _provided(archive, dirs):
            sys.path[:] = [p for p in sys.path if p != archive]
            sys.path_importer_cache.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)


def _keep_zip_directories() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()  # records the archive's identity


def _chain() -> None:
    """Run the ``sitecustomize`` this module shadows, if there is one, as
    ``site`` would have: an error in it is reported, not raised."""
    try:
        import importlib.machinery
        import importlib.util

        here = os.path.realpath(os.path.dirname(__file__))
        later, seen = [], False
        for p in sys.path:
            if os.path.realpath(p or ".") == here:
                seen = True
            elif seen:
                later.append(p)
        spec = importlib.machinery.PathFinder.find_spec(__name__, later)
        if spec is None or spec.loader is None:
            return
        spec.loader.exec_module(importlib.util.module_from_spec(spec))
    except Exception as err:
        sys.stderr.write(
            "Error in sitecustomize; set PYTHONVERBOSE for traceback:\n"
            f"{err.__class__.__name__}: {err}\n"
        )


try:
    _drop_provided_archives()
    _keep_zip_directories()
except Exception:  # a start-up hook must not stop the process it starts
    pass
_chain()
