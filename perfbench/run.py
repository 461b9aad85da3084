"""The repo's benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repo root. A run

1. generates the workload's inputs from ``--seed`` in a child process
   (untimed, cached per seed and generator version under
   ``.perfbench/inputs``);
2. sets up: imports the engine, starts the Spark session
   (``session.get_spark``), loads the query registry and makes one warm-up
   pass over the op list. Its wall time is ``setup_s``;
3. makes warm passes over the op list, one client in a closed loop, at
   least ``MIN_PASSES`` and more while a median pass still fits in
   ``--seconds``;
4. checks every op's result (untimed, see ``check.py``);
5. prints each metric by name and unit, then, as the last line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics, the
tracing overhead among them, and writes its spans to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import ops  # noqa: E402
from spans import COUNTERS, Tracer  # noqa: E402

PACKAGE = "serverless_mapreduce_spark"
#: local[CPUS]; at most 4 so runs on bigger hosts keep the same stamp
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
#: the timed phase runs at least this many warm passes (pass_s is their
#: median); RECORD.json says why two are enough and more do not fit
MIN_PASSES = 2
#: traced runs make untraced, traced, traced, untraced passes, so drift
#: between passes does not bias the tracing overhead
TRACED_PASSES = 4
#: per-op metrics of ops a workload does not run read this value
NOT_RUN = 0.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# --- run stamp -------------------------------------------------------------------

def _mount_of(path: str) -> dict:
    best = ("", "?", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best[0]):
                best = (mnt, fstype, dev)
    return {"mount": best[0], "fstype": best[1], "device": best[2]}


def _source_sha1() -> str:
    """Content hash of the engine's sources (the checkout may not be a git
    repository, so this stands in for the revision)."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_revision() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as fh:
        ref = fh.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(p):
        with open(p) as fh:
            return fh.read().strip()
    return None


def stamp(work: str) -> dict:
    import pyspark

    return {
        "SPARK_GRAFT_CPUS": CPUS,
        "nproc": os.cpu_count(),
        "driver_memory": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_revision": _git_revision(),
        "source_sha1": _source_sha1(),
        "table_roots_fs": _mount_of(os.path.join(work, "tables")),
        "spark_local_dirs_fs": _mount_of(os.environ["SPARK_LOCAL_DIRS"]),
    }


# --- process accounting ----------------------------------------------------------

def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _jvm_proc():
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, and wait for it
    (its Python workers exit with it)."""
    proc = _jvm_proc()
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # do not leave it running
        proc.kill()
        proc.wait()


# --- passes ----------------------------------------------------------------------

class Runner:
    def __init__(self, workload: str, ctx: ops.Ctx, tracer: Tracer):
        self.workload = workload
        self.ctx = ctx
        self.tracer = tracer
        self.ops = ops.ops_for(workload)
        self.lifecycle = workload == "table_lifecycle"
        self.untraced = Tracer(None, False)
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def run_pass(self, traced: bool) -> dict:
        """One pass over the op list; returns its timings (and, traced, its
        spans). A pass with a failed op is marked ``ok: False``."""
        tr = self.tracer if traced else self.untraced
        trace_id = f"{self.workload}#{self.n}"
        self.n += 1
        if self.lifecycle:
            ops.begin_lifecycle_pass(self.ctx, self.n)
        calls: dict[str, tuple[float, float]] = {}
        ok = True
        first_span = len(tr.spans)
        t0 = time.perf_counter()
        pass_span = tr.start("pass", "workload", trace_id)
        for op in self.ops:
            self.attempted += 1
            op_span = tr.start(op.name, "op", trace_id)
            depth = len(tr._stack)
            a = time.perf_counter()
            try:
                span = tr.start(f"{op.name}.build", ops.build_layer(op.name), trace_id,
                                group=f"{trace_id}/{op.name}/build")
                res = op.build(self.ctx)
                tr.end(span)
                b = time.perf_counter()
                if op.execute is not None:
                    span = tr.start(f"{op.name}.exec", "spark.exec", trace_id,
                                    group=f"{trace_id}/{op.name}/exec")
                    op.execute(self.ctx, res)
                    tr.end(span)
                c = time.perf_counter()
                calls[op.name] = (b - a, c - b)
            except Exception:
                ok = False
                self.failed += 1
                log(f"op {op.name} failed in {trace_id}:\n{traceback.format_exc()}")
                tr.unwind(depth)
            tr.end(op_span)
        tr.end(pass_span)
        t1 = time.perf_counter()
        out = {"pass_s": t1 - t0, "calls": calls, "ok": ok, "traced": traced}
        if traced:
            out["spans"] = tr.spans[first_span:]
        if self.lifecycle:
            out["obs"] = dict(self.ctx.obs, **self._table_files())
        return out

    def _table_files(self) -> dict:
        """Data files, metadata bytes and total bytes under this pass's
        table root (untimed: read after the pass)."""
        base = os.path.join(self.ctx.root, "t")
        data_files = meta_bytes = total = 0
        for d, _, files in os.walk(base):
            in_data = os.path.relpath(d, base).split(os.sep)[0] == "data"
            for f in files:
                size = os.path.getsize(os.path.join(d, f))
                total += size
                if in_data:
                    data_files += f.endswith(".parquet")
                else:
                    meta_bytes += size
        return {"data_files": data_files, "metadata_bytes": meta_bytes, "stored_bytes": total}


# --- metrics ---------------------------------------------------------------------

def tail_ratio(passes: list[dict]) -> tuple[float, str]:
    """(an op's slowest warm call / that op's median warm call), maximised
    over the ops: (value, op). It is at least 1 and rises when any one call
    stalls. A run makes too few calls per op for a percentile with ten
    samples beyond it, so this takes the maximum instead."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for name, (b, e) in p["calls"].items():
            by_op.setdefault(name, []).append(b + e)
    return max((max(ts) / statistics.median(ts), name) for name, ts in by_op.items())


def end_to_end(setup_s: float, passes: list[dict], rss_mb: float) -> dict:
    value, op = tail_ratio(passes)
    log(f"op_tail_ratio is {op}'s, over {len(passes)} warm calls per op")
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(p["pass_s"] for p in passes), "s"),
        "op_tail_ratio": (value, "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(workload: str, setup: dict, traced: list[dict], untraced: list[dict],
              tracer: Tracer, user_bytes: int) -> dict:
    med = statistics.median
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (setup["session_s"], "s"),
        "registry.load_s": (setup["registry_s"], "s"),
        "warmup_s": (setup["warmup_s"], "s"),
        "pass_s_traced": (med(p["pass_s"] for p in traced), "s"),
        "trace_overhead_ratio": (
            med(p["pass_s"] for p in traced) / med(p["pass_s"] for p in untraced), "ratio"
        ),
    }
    # per workload-pass sums of the job-group counters
    extra = {}
    for p in traced:
        run_id = p.get("obs", {}).get("stream_run_id")
        if run_id:
            span = next(s for s in p["spans"] if s.name == "stream_drain.exec")
            extra[span.span_id] = [run_id]
    tracer.attach_groups([s for p in traced for s in p["spans"]], extra)
    sums = []
    for p in traced:
        tot = dict.fromkeys(COUNTERS, 0.0)
        for s in p["spans"]:
            for k, v in s.counts.items():
                tot[k] += v
        tot["offcpu_s"] = tot["executor_run_s"] - tot["executor_cpu_s"]
        sums.append(tot)
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("executor_cpu_s", "s"),
                    ("offcpu_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
                    ("spill_mb", "MB")):
        m[f"pass.{k}"] = (med(t[k] for t in sums), unit)
    # sources.snapshots / snapshot_stream (table_lifecycle only)
    if workload == "table_lifecycle":
        commits = gen.APPEND_BATCHES + len(ops.COMMIT_OPS) - 1
        obs = [p["obs"] for p in traced]
        m["files_written_per_commit"] = (med(o["data_files"] for o in obs) / commits, "count")
        m["metadata_bytes_per_commit"] = (med(o["metadata_bytes"] for o in obs) / commits, "B")
        m["lookup_files_planned_ratio"] = (
            med(o["lookup_files_planned"][0] / o["lookup_files_planned"][1] for o in obs), "ratio"
        )
        m["stored_bytes_per_user_byte"] = (med(o["stored_bytes"] for o in obs) / user_bytes, "ratio")
        m["stream.first_batch_s"] = (med(o["stream_first_batch_s"] for o in obs), "s")
        m["stream.drain_s"] = (med(o["stream_drain_s"] for o in obs), "s")
    else:
        for k, unit in (("files_written_per_commit", "count"), ("metadata_bytes_per_commit", "B"),
                        ("lookup_files_planned_ratio", "ratio"), ("stored_bytes_per_user_byte", "ratio"),
                        ("stream.first_batch_s", "s"), ("stream.drain_s", "s")):
            m[k] = (NOT_RUN, unit)
    # per op: build/exec halves and jobs, medians over traced passes; every
    # workload reports every op's keys, NOT_RUN for the other workload's ops
    mine = set(ops.WORKLOADS[workload])
    for names in ops.WORKLOADS.values():
        for name in names:
            for half in ("build",) if name in ops.COMMIT_OPS else ("build", "exec"):
                ds = [s.end - s.start for p in traced for s in p["spans"] if s.name == f"{name}.{half}"]
                m[f"{name}.{half}_s"] = (med(ds) if name in mine else NOT_RUN, "s")
            jobs = [
                sum(s.counts.get("jobs", 0) for s in p["spans"] if s.name.startswith(f"{name}."))
                for p in traced
            ]
            m[f"{name}.jobs"] = (med(jobs) if name in mine else NOT_RUN, "count")
    return m


# --- checks ----------------------------------------------------------------------

def verify(runner: Runner, oracles: dict) -> dict[str, str | None]:
    """Untimed correctness pass: op name -> None when correct, else why."""
    import check

    ctx = runner.ctx
    if not runner.lifecycle:
        out = {}
        for op in runner.ops:
            runner.attempted += 1
            try:
                out[op.name] = check.check_query(op.build(ctx), oracles[op.name], ctx.data_dir)
            except Exception:
                out[op.name] = traceback.format_exc(limit=3)
        return out
    # the reads run again on the table the last timed pass left behind
    got: dict[str, tuple] = {}
    try:
        for op in runner.ops:
            if op.name in ops.COMMIT_OPS:
                continue
            runner.attempted += 1
            res = op.build(ctx)
            if op.name == "stream_drain":
                q = ops.drain_stream(ctx, res, sink="memory")
                res = ctx.spark.table(q.name)
            got[op.name] = (res.columns, res.collect())
        expected = check.lifecycle_expected(ctx.data_dir, ctx.versions, ctx.manifest["lookup_key"])
        return check.check_lifecycle(got, expected)
    except Exception:
        return {"lifecycle": traceback.format_exc(limit=3)}


# --- main ------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark (one workload per run)")
    ap.add_argument("--workload", required=True, choices=sorted(ops.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package under {ROOT}: run from a checkout of the repo")
        return 2

    state = os.path.join(ROOT, ".perfbench")
    data_dir = gen.input_dir(os.path.join(state, "inputs"), args.seed)
    work = os.path.join(state, "work", str(os.getpid()))
    # in a child process, so the generator's memory stays out of peak_rss_mb
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), str(args.seed), data_dir],
                   check=True)
    with open(os.path.join(data_dir, "MANIFEST.json")) as fh:
        manifest = json.load(fh)
    user_bytes = sum(b["bytes"] for b in manifest["lifecycle"].values())

    for sub in ("spark-local", "tmp", "tables"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM (the launcher and the Spark driver) keeps its temp files in
        # the work directory and writes no /tmp/hsperfdata file
        JDK_JAVA_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    time.tzset()

    # --- set-up: engine import, session, registry, warm-up pass ---
    t0 = time.perf_counter()
    from serverless_mapreduce_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t1 = time.perf_counter()
    from serverless_mapreduce_spark import registry

    queries = registry.all_queries()
    t2 = time.perf_counter()
    ctx = ops.Ctx(spark, data_dir, work, queries, manifest)
    tracer = Tracer(spark, args.trace == 1)
    runner = Runner(args.workload, ctx, tracer)
    try:
        runner.run_pass(traced=False)
        t3 = time.perf_counter()
        setup = {
            "setup_s": t3 - t0,
            "session_s": t1 - t0,
            "registry_s": t2 - t1,
            "warmup_s": t3 - t2,
        }
        log(f"setup {setup['setup_s']:.2f}s (session {setup['session_s']:.2f}, "
            f"registry {setup['registry_s']:.2f}, warm-up {setup['warmup_s']:.2f})")

        # --- timed phase: a pass starts only if a median pass still fits ---
        passes: list[dict] = []
        start = time.perf_counter()
        need = TRACED_PASSES if args.trace else MIN_PASSES
        while len(passes) < need or (
            time.perf_counter() - start + statistics.median(p["pass_s"] for p in passes)
            <= args.seconds
        ):
            p = runner.run_pass(traced=args.trace == 1 and len(passes) % 4 in (1, 2))
            log(f"pass {len(passes)} {'traced ' if p['traced'] else ''}{p['pass_s']:.3f}s")
            passes.append(p)
        good = [p for p in passes if p["ok"]]
        untraced = [p for p in good if not p["traced"]]
        traced = [p for p in good if p["traced"]]
        # before the check, whose oracles and collects are not the engine's
        rss_mb = (_vm_hwm_kb(_jvm_proc().pid) + _vm_hwm_kb("self")) / 1024

        # --- correctness (untimed) ---
        results = verify(runner, registry.all_oracles())
        wrong = {k: v for k, v in results.items() if v is not None}
        for k, v in wrong.items():
            log(f"WRONG {k}: {v}")
        runner.failed += len(wrong)

        ok = runner.failed == 0
        run_stamp = stamp(work)
        metrics: dict = {}
        if ok and args.trace == 0:
            metrics = end_to_end(setup["setup_s"], untraced, rss_mb)
        elif ok:
            metrics = per_layer(args.workload, setup, traced, untraced, tracer, user_bytes)
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "stamp": run_stamp, "setup": setup},
            )
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    error_rate = runner.failed / runner.attempted
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"passes {len(untraced)}+{len(traced)} traced")
    print("stamp " + json.dumps(run_stamp, sort_keys=True))
    print(f"error_rate {error_rate:.6f} ratio ({runner.failed} of {runner.attempted} calls)")
    for name, (value, unit) in metrics.items():
        print(f"{name} {value:.6g} {unit}")
    print(json.dumps({
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
