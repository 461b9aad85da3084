"""Programmatic job registry/run/status surface.

Parity target: the reference exposes register / invoke / job-status /
metrics over its web UI's HTTP endpoints
(``src/python/serverless_mr/web_ui/app.py:196,370,417,501-554``, backed by
DynamoDB progress tables). On Spark the history server already stores the
raw events, but a *library* consumer wants the same three verbs in-process:
list the registered queries, run one, and read per-run metrics afterward.

``Engine.run`` wraps each query in a Spark job group, so job/stage/task
counts come from ``sc.statusTracker()`` scoped to exactly that run, and
rides a zero-cost ``observe`` counter (monitoring.py) for the row count —
no extra pass, no driver-side collect of the result.
"""

from __future__ import annotations

import threading
import time
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession

from serverless_mapreduce_spark import registry
from serverless_mapreduce_spark.monitoring import codegen_counters, jvm_counters, observe_counts
from serverless_mapreduce_spark.session import jvm_archive_state


@dataclass
class QueryRun:
    """Status record for one query execution (the reference's job-status
    row: web_ui/app.py:501-554). The resource fields are the engine's
    cost-accounting substitute for the reference's dollar model
    (driver/driver.py:523-701 prices Lambda GB-s and S3 requests; on Spark
    the corresponding billable quantities are executor task time and bytes
    moved, which any deployment can multiply by its own rates)."""

    name: str
    status: str = "RUNNING"          # RUNNING | SUCCEEDED | FAILED
    started_at: float = 0.0
    wall_s: float = 0.0
    rows: int | None = None
    num_jobs: int = 0
    num_tasks: int = 0
    task_time_ms: int = 0            # summed executor run time across stages
    cpu_time_ms: int = 0             # summed executor CPU time
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    # Java classes code generation compiled during the run, and the
    # milliseconds spent compiling them: deltas of Spark's process-wide
    # codegen counters over the run's window, so a run concurrent with
    # another on the same JVM also counts the other's compiles. A warm
    # run whose plans are still in the codegen cache compiles 0.
    codegen_compiles: int = 0
    codegen_compile_ms: float = 0.0
    # JVM classes loaded and JIT compile milliseconds over the run (the
    # driver JVM's MXBean totals, process-wide like the codegen counters);
    # a cold run loads thousands of classes, a warm one a few dozen. And how
    # the driver JVM uses the class-data archive: "mapped" (its classes
    # load from the archive), "recording" or "off".
    jvm_classes_loaded: int = 0
    jvm_jit_ms: int = 0
    jvm_archive: str = "off"
    error: str | None = None


@dataclass
class Engine:
    """In-process register/run/status facade over the query registry."""

    spark: SparkSession
    sf_dir: str
    _runs: dict[str, list[QueryRun]] = field(default_factory=dict)

    def queries(self) -> list[str]:
        """The registered query names (reference: list-jobs endpoint)."""
        return list(registry.all_queries())

    def run(self, name: str) -> DataFrame:
        """Execute one registered query to completion (distributed noop
        write — no driver collect), recording wall time, row count, and
        job/stage/task counts scoped to this run's job group. Returns the
        (lazy) result DataFrame for further use."""
        return self._run(name)[0]

    def run_info(self, name: str) -> dict:
        """Execute one query and return THIS run's record as a dict —
        concurrency-safe, unlike reading ``status(name)[name][-1]`` after
        ``run()``: another thread (a second caller, a schedule tick) may
        append a newer record in between."""
        return asdict(self._run(name)[1])

    def _run(self, name: str) -> tuple[DataFrame, QueryRun]:
        fn = registry.all_queries()[name]
        rec = QueryRun(name=name, started_at=time.time())
        self._runs.setdefault(name, []).append(rec)
        sc = self.spark.sparkContext
        group = f"smr-run-{name}-{len(self._runs[name])}"
        sc.setJobGroup(group, f"engine.run({name})", interruptOnCancel=False)
        rec.jvm_archive = jvm_archive_state()
        compiles0, compile_ms0 = codegen_counters(self.spark)
        classes0, jit_ms0 = jvm_counters(self.spark)
        t0 = time.perf_counter()
        try:
            df = fn(self.spark, self.sf_dir)
            observed, obs = observe_counts(df, name=f"{group}-metrics")
            observed.write.format("noop").mode("overwrite").save()
            rec.rows = int(obs.get["lineCount"])
            rec.status = "SUCCEEDED"
        except Exception as exc:
            rec.status = "FAILED"
            rec.error = f"{type(exc).__name__}: {exc}"
            raise
        finally:
            rec.wall_s = round(time.perf_counter() - t0, 3)
            compiles, compile_ms = codegen_counters(self.spark)
            rec.codegen_compiles = compiles - compiles0
            rec.codegen_compile_ms = round(compile_ms - compile_ms0, 3)
            classes, jit_ms = jvm_counters(self.spark)
            rec.jvm_classes_loaded = classes - classes0
            rec.jvm_jit_ms = jit_ms - jit_ms0
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            rec.num_jobs = len(job_ids)
            # Stage metrics come from the driver's AppStatusStore — the same
            # store the Spark UI reads, populated by the always-on internal
            # listener, so this costs no extra listener and no extra jobs.
            store = sc._jsc.sc().statusStore()  # type: ignore[attr-defined]
            seen: set[int] = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    sinfo = tracker.getStageInfo(sid)
                    if sinfo is not None:
                        rec.num_tasks += sinfo.numTasks
                    if sid in seen:
                        continue  # stages shared across jobs count once
                    seen.add(sid)
                    try:
                        att = store.lastStageAttempt(sid)
                    except Exception:
                        continue  # stage evicted from the store or skipped
                    rec.task_time_ms += int(att.executorRunTime())
                    rec.cpu_time_ms += int(att.executorCpuTime()) // 1_000_000
                    rec.shuffle_read_bytes += int(att.shuffleReadBytes())
                    rec.shuffle_write_bytes += int(att.shuffleWriteBytes())
                    rec.input_bytes += int(att.inputBytes())
                    rec.output_bytes += int(att.outputBytes())
            sc.setJobGroup("", "")
        return df, rec

    def status(self, name: str | None = None) -> dict[str, list[dict]]:
        """Run history (most recent last), as plain dicts (the JSON the
        reference's status endpoint would serve)."""
        items = self._runs.items() if name is None else [(name, self._runs.get(name, []))]
        return {n: [asdict(r) for r in rs] for n, rs in items}

    def report(self, name: str | None = None) -> dict[str, dict]:
        """Per-query resource report aggregated over this Engine's runs —
        the in-library substitute for the reference's post-job cost model
        (driver/driver.py:523-701, which multiplies Lambda GB-seconds and
        S3 request counts by price constants). Spark's billable analogs are
        reported raw so a deployment applies its own rates: total executor
        task time (the GB-s analog), CPU time, and bytes scanned / shuffled
        / written (the request-count analog)."""
        out: dict[str, dict] = {}
        items = (
            self._runs.items()
            if name is None
            else [(name, self._runs.get(name, []))]
        )
        for n, runs in items:
            done = [r for r in runs if r.status == "SUCCEEDED"]
            out[n] = {
                "runs": len(runs),
                "succeeded": len(done),
                "wall_s": round(sum(r.wall_s for r in done), 3),
                "task_time_ms": sum(r.task_time_ms for r in done),
                "cpu_time_ms": sum(r.cpu_time_ms for r in done),
                "shuffle_read_bytes": sum(r.shuffle_read_bytes for r in done),
                "shuffle_write_bytes": sum(r.shuffle_write_bytes for r in done),
                "input_bytes": sum(r.input_bytes for r in done),
                "output_bytes": sum(r.output_bytes for r in done),
            }
        return out

    def progress(self) -> dict:
        """LIVE job/stage progress from the driver's status tracker — the
        reference's /stage-progress endpoint (web_ui/app.py:516-529 polls
        its DynamoDB stage table mid-job); here the same numbers come from
        ``sc.statusTracker()`` with no storage side channel. Returns the
        currently-active jobs with per-stage task completion counts."""
        tracker = self.spark.sparkContext.statusTracker()
        jobs = []
        for jid in tracker.getActiveJobsIds():
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            stages = []
            for sid in info.stageIds:
                s = tracker.getStageInfo(sid)
                if s is None:
                    continue
                stages.append(
                    {
                        "stage_id": sid,
                        "name": s.name,
                        "num_tasks": s.numTasks,
                        "num_active_tasks": s.numActiveTasks,
                        "num_completed_tasks": s.numCompletedTasks,
                        "num_failed_tasks": s.numFailedTasks,
                    }
                )
            jobs.append(
                {"job_id": jid, "status": str(info.status), "stages": stages}
            )
        return {"active_jobs": jobs}

    def explain(self, name: str, mode: str = "formatted") -> str:
        """The optimized physical plan of a registered query, without
        executing the returned DataFrame (the reference's job-detail view,
        but for plans). Calls the query fn UNWRAPPED — plan inspection must
        not trigger the registry wrapper's ``release_cached()``, which
        would unpersist a concurrently-running query's live caches. Note:
        queries that prepare their input driver-side (sink round-trips,
        bucketed-table writes, stream drains) necessarily run that
        preparation to have a plan at all — only the final DataFrame stays
        lazy."""
        fn = registry.all_queries()[name]
        fn = getattr(fn, "__wrapped__", fn)
        df = fn(self.spark, self.sf_dir)
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), mode
        )

    def schedule(
        self,
        name: str,
        every_s: float,
        *,
        max_runs: int | None = None,
    ) -> "ScheduledJob":
        """Recurring in-process execution of a registered query — the
        library analog of the reference's cron schedule-job endpoint
        (web_ui/app.py:417, which re-invokes the registered driver Lambda
        on a schedule). Runs on a daemon thread; Spark job groups are
        thread-local so scheduled runs don't disturb callers on other
        threads, and each tick lands in the same status()/report() history
        as a manual run. For out-of-process scheduling, point any external
        cron at a ``spark-submit``/Spark Connect script calling
        ``Engine.run`` — the in-process form is what a *library* consumer
        can actually hold."""
        if name not in registry.all_queries():
            raise KeyError(name)
        job = ScheduledJob(name=name, every_s=every_s, max_runs=max_runs)
        job._start(self)
        return job


@dataclass
class ScheduledJob:
    """Handle for one Engine.schedule loop: observe ticks, cancel, join."""

    name: str
    every_s: float
    max_runs: int | None = None
    runs: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def _start(self, engine: "Engine") -> None:
        def loop() -> None:
            while not self._stop.wait(self.every_s):
                try:
                    engine.run(self.name)
                except Exception:
                    pass  # recorded as a FAILED run in engine.status()
                self.runs += 1
                if self.max_runs is not None and self.runs >= self.max_runs:
                    self._stop.set()

        self._thread = threading.Thread(
            target=loop, name=f"smr-schedule-{self.name}", daemon=True
        )
        self._thread.start()

    def cancel(self) -> None:
        self._stop.set()

    def join(self, timeout: float | None = None) -> None:
        assert self._thread is not None
        self._thread.join(timeout)

    @property
    def active(self) -> bool:
        return self._thread is not None and self._thread.is_alive()
