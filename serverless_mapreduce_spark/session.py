"""SparkSession factory tuned for this engine.

Replaces the reference's executor provisioning knobs (Lambda memory /
concurrency, ``static_variables.py:75-79``) with Spark session config. AQE is
on so partition counts self-tune at runtime — the Spark analog of the
reference's data-driven "#mappers = #batches" sizing
(``driver/driver.py:231-238``).
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import functools
import hashlib
import json
import logging
import os
import re
import shutil
import subprocess
from collections.abc import Iterator

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

from serverless_mapreduce_spark import paths

log = logging.getLogger(__name__)

#: Spark's codegen cache size (``spark.sql.codegen.cache.maxEntries``, a
#: static conf): the LRU of compiled Java classes that every plan's
#: whole-stage and expression code goes through. At Spark's default of 100
#: a warm pass recompiles what the previous pass compiled once the working
#: set exceeds 100 classes: the 13-query perfbench mix compiles ~145 per
#: pass, so every "warm" pass recompiled ~140 at 7-13 ms each. One cold
#: pass of all 333 registered queries at sf0.001 (local[4]) compiled 4,248
#: distinct classes; 8192 leaves ~2x headroom. Measured over that sweep,
#: the warm pass went from 6,122 compiles (41.6 s of compile time) to 56,
#: and holding the classes cost ~35 MB of metaspace and ~16 MB of live
#: heap.
CODEGEN_CACHE_ENTRIES = 8192

#: The driver JVM starts from a dynamic AppCDS archive (JDK class-data
#: sharing): a file of the classes a previous session loaded, already
#: parsed and verified, which the JVM maps at start instead of loading
#: them from Spark's 287 jars. A cold query_mix pass loads ~13,000
#: classes (61 on the next pass), and session start is mostly JVM start and
#: class loading. Measured with perfbench (local[4], 2g driver, shared
#: 4-vCPU host), 10 alternating query_mix pairs: session start 7.0-11.1 s
#: -> 4.1-6.4 s, warm-up pass median 30.2 -> 24.8 s, setup_s median 39.3
#: -> 30.2 s (-23 %), pass_s and peak RSS flat. The archive is ~180 MB and
#: lives under ``.scratch/jvm``, keyed on the java binary, the pyspark
#: version, Spark's jars and the conf directory on the driver classpath.
#: The first session of a key records it (``-XX:ArchiveClassesAtExit``):
#: that run's setup_s was 10 s slower (47.1 vs 36.8 s), and its JVM writes
#: the file at exit for ~15 s, which an atexit hook waits for. The next
#: session checks the recording with ``java -Xshare:on ... -version``
#: (~0.3 s; a truncated archive makes the driver JVM abort, not fall back)
#: before it promotes it. Sharing stays at the JVM's default
#: ``-Xshare:auto``, so an archive that does not match falls back to
#: loading from the jars.
_ARCHIVE_EXIT_WAIT_S = 120
_ARCHIVE_CHECK_TIMEOUT_S = 60
#: what the JVM flags and the launcher's option parser carry unquoted
_SAFE_PATH = re.compile(r"^[\w./+-]+$")


def get_spark(
    app_name: str = "serverless_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Defaults target local[N] testing but every knob is the one you'd set on
    a real cluster: AQE (runtime coalesce + skew-join splitting), Arrow for
    the Python boundary, UTC session time.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    # One BLAS thread per Python worker (guide §4.5 — right-size per-task
    # thread pools): importing numpy spins up an OpenBLAS pool sized to
    # the MACHINE (~3 s of sys time per process on 32 cores, measured —
    # plans/r18/prof_worker_spawn.txt). Every Python process Spark spawns
    # (executor workers, streaming source/sink runners, schema-inference
    # workers) pays that at import; a cold 32-worker batch turns it into
    # a multi-second kernel storm. Parallelism comes from Spark tasks,
    # not intra-worker BLAS — one thread per worker is the correct
    # production sizing (os.environ: local-mode workers inherit it;
    # executorEnv carries the same setting to real clusters).
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # A driver JVM this call starts maps the class-data archive (see
    # _archive_flags); a caller's extraJavaOptions replaces every flag.
    archive = ""
    if (
        SparkContext._gateway is None
        and "PYSPARK_GATEWAY_PORT" not in os.environ
        and "spark.driver.extraJavaOptions" not in (extra_conf or {})
    ):
        archive = _archive_flags()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        # Pre-size the heap to its max (-Xms = spark.driver.memory): the
        # JVM otherwise starts near the default min heap and the first
        # allocation-heavy stage pays repeated full GCs while the heap
        # grows — measured 50.6 s -> 11.6 s on the FIRST execution of the
        # sf1 shingle-verify join at local[32] (r18, guide §5). Same
        # production practice as sizing executor -Xms on a real cluster;
        # applied uniformly at every core count so c8/c32 benches stay
        # comparable.
        # A fixed young generation (NewRatio=2: one third of the heap)
        # makes how much of that pre-sized heap a run touches a function
        # of the work, not of GC timing: G1's adaptive young sizing grew
        # eden to anywhere between ~30 % and ~57 % of the heap depending
        # on when a metadata-threshold GC happened to fire, so the same
        # 2g perfbench table_lifecycle run peaked at 1.9-2.5 GB RSS from
        # one run to the next; with the fixed young gen it peaks within
        # ~35 MB (1.84-1.87 GB over 10 runs), at the same ~0.3 s of total
        # GC pause per run.
        .config("spark.driver.extraJavaOptions", f"-Xms{mem} -XX:NewRatio=2{archive}")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark otherwise captures the Python call site of every
        # DataFrame/Column call for error messages: a stack walk, a failed
        # ``import IPython`` and ~5 py4j round trips per call, 0.060 s of
        # 2.31 s over five delete_where calls. Errors still raise with
        # their Spark message, without the Python call-site fragment.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Every task of a pooled Python worker starts with
        # importlib.invalidate_caches(), which on Python < 3.13 makes each
        # zipimporter re-read its archive's directory: 12 over pyspark.zip
        # (1,328 entries, 6.6 ms a read alone), 2 over Spark's core jar
        # (5,359 entries, 26 ms) and 2 over py4j, 160-370 ms per task
        # with four workers at once (local[4], shared 4-vCPU host). The
        # daemon in worker_daemon.py keeps a directory while its archive
        # is unchanged (0.1-0.3 ms): an identity mapInPandas job over 8
        # partitions went from 1.56-1.70 s to 0.41-0.43 s of wall. Spark
        # starts the daemon with ``python -m`` from the driver's cwd, so
        # the package's parent goes on the workers' PYTHONPATH.
        .config("spark.python.daemon.module", "serverless_mapreduce_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", paths.REPO_ROOT)
        # see the os.environ block above — carries the same one-BLAS-
        # thread-per-worker sizing to non-local executors
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if archive:
        _archive_started()
    return spark


def _archive_flags() -> str:
    """The class-data archive flags for a driver JVM about to start: map
    ``<key>.jsa`` when it exists, else record one if no live session is
    recording this key, else nothing. Also promotes or discards the
    recordings of sessions whose JVM is gone. A conf directory, classpath
    variable or scratch path that the archive cannot cover turns sharing
    off; so does any ``OSError``. Never raises."""
    try:
        return _archive_decide()
    except OSError as exc:
        log.warning("jvm archive: off for this session: %s", exc)
        _ARCHIVE.clear()
        return ""


#: this process's archive decision: its state ("mapping" or "recording")
#: and the archive a mapping session passed or a recording session's claim
_ARCHIVE: dict = {}


def _archive_decide() -> str:
    _ARCHIVE.clear()
    spark_home = _spark_home()
    java = _java_binary()
    if spark_home is None or java is None:
        return ""
    conf_dir = _conf_dir(spark_home)
    if conf_dir is None:
        return ""
    root = paths.scratch("jvm")
    if not _SAFE_PATH.match(root):
        log.warning("jvm archive: off for this session: %r does not fit a JVM flag", root)
        return ""
    os.makedirs(root, exist_ok=True)
    if conf_dir == os.path.join(root, "conf"):
        os.makedirs(conf_dir, exist_ok=True)
    key = _archive_key(java, spark_home, conf_dir)
    archive = os.path.join(root, f"{key}.jsa")
    with _archive_lock(root):
        recording = _sweep(root, key)
        if os.path.exists(archive):
            flags = f" -XX:SharedArchiveFile={archive}"
            _ARCHIVE.update(path=archive, state="mapping")
        elif recording:
            return ""  # another session is recording this key
        else:
            claim = os.path.join(root, f"{key}.{os.getpid()}.rec")
            tmp = os.path.join(root, f"{key}.{os.getpid()}.tmp")
            _write_json(claim, {"pid": os.getpid(), "start": _proc_start(os.getpid())})
            # the dump logs thousands of "Skipping ... Signed JAR" lines:
            # keep the JVM's CDS output off stdout, in a file beside it
            flags = (
                f" -XX:ArchiveClassesAtExit={tmp} -Xlog:cds*=off"
                f" -Xlog:cds*=warning:file={root}/{key}.log::filecount=0"
            )
            _ARCHIVE.update(state="recording", claim=claim)
    os.environ["SPARK_CONF_DIR"] = conf_dir
    return flags


def _spark_home() -> str | None:
    from pyspark.find_spark_home import _find_spark_home

    try:
        return _find_spark_home()
    except SystemExit:  # pyspark exits when it finds no Spark
        return None


def _java_binary() -> str | None:
    """The ``java`` that Spark's launcher script runs: ``$JAVA_HOME/bin/java``
    or the first one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _conf_dir(spark_home: str) -> str | None:
    """The conf directory for the driver classpath, or None when the archive
    cannot be used. CDS refuses a non-empty directory on the classpath, and
    Spark's launcher always puts ``$SPARK_CONF_DIR`` there. A default conf
    directory that holds only ``*.template`` files (Spark reads none of
    them) is swapped for an empty one; real conf files, or extra classpath
    directories, turn sharing off."""
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        if _entries(os.environ.get(var)):
            return None
    if os.environ.get("SPARK_DIST_CLASSPATH"):
        return None
    if "SPARK_CONF_DIR" in os.environ:
        conf = os.environ["SPARK_CONF_DIR"]
        return None if _entries(conf) else conf
    if any(not name.endswith(".template") for name in _entries(os.path.join(spark_home, "conf"))):
        return None
    return paths.scratch("jvm", "conf")


def _entries(directory: str | None) -> list[str]:
    return os.listdir(directory) if directory and os.path.isdir(directory) else []


def _archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    """Hash of what a dynamic archive is only valid for: the JVM (its
    binary and libjvm), the pyspark version and the driver classpath
    (the conf directory and each jar's name, size and mtime)."""
    h = hashlib.sha1(f"{pyspark.__version__}\0{conf_dir}\n".encode())
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    jars = os.path.join(spark_home, "jars")
    files = [java, libjvm] + [os.path.join(jars, n) for n in sorted(_entries(jars))]
    for f in files:
        if os.path.exists(f):
            st = os.stat(f)
            h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


@contextlib.contextmanager
def _archive_lock(root: str) -> Iterator[None]:
    """An exclusive ``flock`` on ``<root>/lock`` for the decide, promote and
    claim steps of every session sharing this scratch directory."""
    fd = os.open(os.path.join(root, "lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)  # releases the lock


def _sweep(root: str, key: str) -> bool:
    """Settle every recording whose session and JVM are both gone: check
    this key's ``.tmp`` and promote it, delete anything else. Returns
    whether a live session is recording ``key``. Called under the lock."""
    live = False
    names = set(os.listdir(root))
    for name in sorted(names):
        if not name.endswith(".rec"):
            continue
        claim = os.path.join(root, name)
        stem = name[: -len(".rec")]
        info = _read_json(claim)
        if _alive(info.get("pid"), info.get("start")) or _alive(info.get("jvm"), info.get("jvm_start")):
            live = live or stem.startswith(f"{key}.")
            continue
        tmp = os.path.join(root, f"{stem}.tmp")
        if os.path.exists(tmp):
            if stem.startswith(f"{key}.") and _check(info, tmp, root):
                _promote(tmp, os.path.join(root, f"{key}.jsa"), root)
            else:
                log.warning("jvm archive: discarded recording %s: it fails the check", tmp)
                os.unlink(tmp)
        os.unlink(claim)
    claimed = {n[: -len(".rec")] for n in names if n.endswith(".rec")}
    for name in names:  # a .tmp without a claim has no JVM writing it
        if name.endswith(".tmp") and name[: -len(".tmp")] not in claimed:
            os.unlink(os.path.join(root, name))
    return live


def _check(info: dict, tmp: str, root: str) -> bool:
    """Whether the JVM that recorded ``tmp`` maps it: ``-Xshare:on`` makes a
    file that does not map an error (a truncated one crashes the JVM)."""
    if not info.get("java") or not info.get("cp"):
        return False
    try:
        rc = subprocess.run(
            [info["java"], "-Xshare:on", f"-XX:SharedArchiveFile={tmp}",
             "-XX:-CreateCoredumpOnCrash", "-cp", info["cp"], "-version"],
            cwd=root,  # where a crash's hs_err file lands
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            timeout=_ARCHIVE_CHECK_TIMEOUT_S,
        ).returncode
    except subprocess.TimeoutExpired:
        return False
    return rc == 0


def _promote(tmp: str, archive: str, root: str) -> None:
    os.replace(tmp, archive)
    for name in os.listdir(root):  # an archive of another key is stale
        if name.endswith(".jsa") and os.path.join(root, name) != archive:
            log.warning("jvm archive: removed %s, superseded by %s", name, os.path.basename(archive))
            os.unlink(os.path.join(root, name))


def _archive_started() -> None:
    """After the driver JVM started: a recording session notes the JVM in
    its claim (pid, java binary, classpath: what the check needs) and
    waits for its dump at exit; a mapping session confirms the map and
    drops an archive the JVM could not use. Never raises."""
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        if proc is None:  # no local JVM: nothing maps or records
            if "claim" in _ARCHIVE:
                os.unlink(_ARCHIVE["claim"])
            _ARCHIVE.clear()
        elif _ARCHIVE.get("state") == "recording":
            argv = _cmdline(proc.pid)
            cp = argv[argv.index("-cp") + 1] if "-cp" in argv else None
            info = {"pid": os.getpid(), "start": _proc_start(os.getpid()), "jvm": proc.pid,
                    "jvm_start": _proc_start(proc.pid), "java": argv[0] if argv else None, "cp": cp}
            with _archive_lock(os.path.dirname(_ARCHIVE["claim"])):
                _write_json(_ARCHIVE["claim"], info)
            atexit.register(_finish_recording, proc)
        elif _ARCHIVE.get("state") == "mapping" and jvm_archive_state() != "mapped":
            log.warning(
                "jvm archive: %s did not map (recorded for another JVM or classpath); removed it",
                _ARCHIVE["path"],
            )
            os.unlink(_ARCHIVE["path"])
    except (OSError, ValueError) as exc:
        log.warning("jvm archive: off for this session: %s", exc)


def _finish_recording(proc: subprocess.Popen) -> None:
    """atexit: end the recording JVM and wait for its archive dump (~15 s
    for the ~180 MB of a benchmark session, ~35 s for the ~225 MB of a
    tier-1 run), so no JVM outlives this process. A JVM still dumping
    after the bound is killed; its partial file then fails the check."""
    if proc.poll() is not None:
        return
    sc = SparkContext._active_spark_context
    try:
        if sc is not None:
            sc.stop()  # its accumulator server would log the JVM's exit
    except Exception:  # the JVM still has to exit
        pass
    try:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
    except OSError:
        pass  # a broken pipe: the JVM is exiting already
    try:
        proc.wait(timeout=_ARCHIVE_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        log.warning("jvm archive: recording JVM %d did not finish its dump; killed it", proc.pid)
        proc.kill()
        proc.wait()


def jvm_archive_state() -> str:
    """How this process's driver JVM uses the class-data archive:
    ``mapped`` (started from it), ``recording`` (writes it at exit) or
    ``off``. Read from the JVM's command line and ``/proc/<pid>/maps``."""
    proc = getattr(SparkContext._gateway, "proc", None)
    return "off" if proc is None else _jvm_archive_state(proc.pid, _proc_start(proc.pid))


@functools.lru_cache(maxsize=8)
def _jvm_archive_state(pid: int, start: str | None) -> str:
    argv = _cmdline(pid)
    if any(a.startswith("-XX:ArchiveClassesAtExit=") for a in argv):
        return "recording"
    shared = [a.split("=", 1)[1] for a in argv if a.startswith("-XX:SharedArchiveFile=")]
    if not shared:
        return "off"
    want = os.path.realpath(shared[-1])
    try:
        with open(f"/proc/{pid}/maps") as fh:
            mapped = any(line.rstrip("\n").endswith(want) for line in fh)
    except OSError:
        return "off"
    return "mapped" if mapped else "off"


def _cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().decode(errors="replace").split("\0")[:-1]
    except OSError:
        return []


def _proc_start(pid: int) -> str | None:
    """The start time in clock ticks (``/proc/<pid>/stat`` field 22) of a
    running process, None for one that is gone or a zombie: with the pid,
    it names one process even after the pid is reused."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def _alive(pid: int | None, start: str | None) -> bool:
    return pid is not None and start is not None and _proc_start(pid) == start


def _read_json(path: str) -> dict:
    try:
        with open(path) as fh:
            return json.load(fh)
    except ValueError:
        return {}


def _write_json(path: str, value: dict) -> None:
    with open(path, "w") as fh:
        json.dump(value, fh)


def utc_session(spark: SparkSession) -> SparkSession:
    """The caller's session with the session timezone pinned to UTC — as a
    CLONE (own conf, shared SparkContext) when it isn't already, so pinning
    never mutates shared state: operators that need deterministic
    wall-clock rendering (date_format/date_trunc output, NTZ→TIMESTAMP
    casts for watermarks) used to ``spark.conf.set`` mid-query, a write a
    concurrent ``engine.Engine`` caller on the same session could race.
    Cloning is cheap (no new context) and scoped to the returned handle."""
    if spark.conf.get("spark.sql.session.timeZone", None) == "UTC":
        return spark
    ss = spark.newSession()
    ss.conf.set("spark.sql.session.timeZone", "UTC")
    return ss
