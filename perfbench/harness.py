"""Shared plumbing for the perfbench workloads.

- `Workspace`: every file a run writes lives under `<checkout>/.perfbench/`,
  is created fresh per run and removed when the run ends.
- `start_spark` / `stop_spark`: one client, master `local[nproc]`, explicit
  driver memory, spark.local.dir and JVM tmpdir inside the workspace, and the
  checkout on PYTHONPATH so the Python workers can import `macrobase_spark`.
- `Recorder`: spans (name, start, end, parent, run id) held in memory and
  written when the run ends. With tracing on, a span marked `spark=True`
  also carries the Spark jobs and stages that ran inside it, read from
  `statusTracker()` and the application status store.
- `median`, `metric`: the summaries every workload reports.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Workspace:
    """`<checkout>/.perfbench/<workload>-<pid>/` with `data/`, `tmp/` and
    `spark-local/`; `close()` removes it."""

    def __init__(self, workload: str):
        self.root = ROOT / ".perfbench" / f"{workload}-{os.getpid()}"
        shutil.rmtree(self.root, ignore_errors=True)
        for sub in ("data", "tmp", "spark-local"):
            (self.root / sub).mkdir(parents=True)

    def path(self, *parts: str) -> str:
        return str(self.root.joinpath("data", *parts))

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            self.root.parent.rmdir()
        except OSError:
            pass  # another run's workspace is still there


def start_spark(ws: Workspace):
    """Start the session through the program's own factory; returns
    (spark, seconds it took)."""
    n = cores()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    tmp = str(ws.root / "tmp")
    local = str(ws.root / "spark-local")
    os.environ["TMPDIR"] = tmp
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir: an inherited value
    # would put shuffle files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no JVM (the launcher's included) writes /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    t0 = time.perf_counter()
    import macrobase_spark
    from macrobase_spark.session import get_spark

    if not Path(macrobase_spark.__file__).resolve().is_relative_to(ROOT):
        raise ImportError(f"macrobase_spark imported from {macrobase_spark.__file__}, "
                          f"not from the checkout at {ROOT}")

    spark = get_spark("perfbench", master=f"local[{n}]", extra_conf={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(ws.root / "tmp" / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the JVM's Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ------------------------------------------------------------- statistics

def median(xs) -> float:
    return float(statistics.median(xs))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


# ------------------------------------------------------------------ spans

class Span:
    __slots__ = ("name", "start", "end", "parent", "run_id", "attrs", "spark")

    def __init__(self, name, start, parent, run_id, attrs):
        self.name = name
        self.start = start
        self.end = None
        self.parent = parent
        self.run_id = run_id
        self.attrs = attrs
        self.spark = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        d = {"name": self.name, "start": self.start, "end": self.end,
             "parent": self.parent, "run_id": self.run_id}
        if self.attrs:
            d["attrs"] = self.attrs
        if self.spark is not None:
            d["spark"] = self.spark
        return d


_STAGE_FIELDS = ("numTasks", "executorRunTime", "executorCpuTime",
                 "inputRecords", "inputBytes", "shuffleWriteBytes",
                 "shuffleWriteRecords", "shuffleReadBytes",
                 "memoryBytesSpilled", "diskBytesSpilled")


class SparkMeter:
    """Per-call Spark accounting. Job ids are dense and the benchmark is a
    single closed-loop client, so the jobs a call ran are exactly the ids
    that appeared between its start and its end — this also counts jobs
    submitted from helper threads, which do not inherit the caller's job
    group. Stage figures come from `AppStatusStore.stageData`."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        jvm = self.sc._jvm
        self._empty_list = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.next_job = 0
        self.sync()

    def sync(self) -> int:
        """Drain the listener bus, then return the id the next job will
        get; the jobs of a call are the ids between its two syncs."""
        self.bus.waitUntilEmpty()
        while self.tracker.getJobInfo(self.next_job) is not None:
            self.next_job += 1
        return self.next_job

    def _stage_attempts(self, sid: int):
        from py4j.protocol import Py4JJavaError

        try:
            seq = self.store.stageData(sid, False, self._empty_list, False,
                                       self._no_quantiles)
        except Py4JJavaError:  # evicted from the store, or never submitted
            return []
        return [seq.apply(i) for i in range(seq.size())]

    def account(self, job_ids: range, t_start: float, t_end: float) -> dict:
        """Totals over the stages the given jobs ran. t_start/t_end are the
        call's epoch seconds, used for the stage-interval union."""
        stage_ids = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        tot = {f: 0 for f in _STAGE_FIELDS}
        intervals = []
        n_stages = 0
        for sid in sorted(stage_ids):
            for st in self._stage_attempts(sid):
                sub, comp = st.submissionTime(), st.completionTime()
                # a stage listed by this call's jobs but run by an earlier
                # call (a reused shuffle) is not this call's work
                if (st.status().toString() == "SKIPPED" or not sub.isDefined()
                        or sub.get().getTime() / 1000.0 < t_start - 0.001):
                    continue
                n_stages += 1
                for f in _STAGE_FIELDS:
                    tot[f] += int(getattr(st, f)())
                if comp.isDefined():
                    a = max(sub.get().getTime() / 1000.0, t_start)
                    b = min(comp.get().getTime() / 1000.0, t_end)
                    if b > a:
                        intervals.append((a, b))
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(intervals):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return {
            "jobs": len(job_ids),
            "stages": n_stages,
            "tasks": tot["numTasks"],
            "executor_run_s": tot["executorRunTime"] / 1000.0,
            "executor_cpu_s": tot["executorCpuTime"] / 1e9,
            "input_records": tot["inputRecords"],
            "input_bytes": tot["inputBytes"],
            "shuffle_write_bytes": tot["shuffleWriteBytes"],
            "shuffle_write_records": tot["shuffleWriteRecords"],
            "shuffle_read_bytes": tot["shuffleReadBytes"],
            "spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
            "stage_covered_s": covered,
        }


class Recorder:
    """Spans around the benchmark's calls into each layer. Always records
    wall time (a `perf_counter` pair per span); with `trace=True` a span
    opened with `spark=True` also sets a job group and collects Spark
    accounting after the call returns, outside the span's interval."""

    def __init__(self, spark, run_id: str, trace: bool):
        self.run_id = run_id
        self.trace = trace
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.meter = SparkMeter(spark) if (trace and spark is not None) else None
        self._sc = spark.sparkContext if spark is not None else None

    @contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        parent = self._stack[-1] if self._stack else None
        metered = spark and self.meter is not None
        if metered:
            first_job = self.meter.sync()
            prev_group = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setLocalProperty("spark.jobGroup.id", f"perfbench:{name}")
        sp = Span(name, 0.0, parent, self.run_id, attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        wall0 = time.time()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            wall1 = time.time()
            self._stack.pop()
            if metered:
                self._sc.setLocalProperty("spark.jobGroup.id", prev_group)
                jobs = range(first_job, self.meter.sync())
                sp.spark = self.meter.account(jobs, wall0, wall1)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total
