"""Shared pieces of the benchmark: statistics, spans, Spark session
start/stop and readers of Spark's own status stores."""

from __future__ import annotations

import json
import math
import os
import resource
import statistics
import subprocess
import time
from contextlib import contextmanager

NPROC = len(os.sched_getaffinity(0))
HERE = os.path.dirname(os.path.abspath(__file__))


def workload_config(name: str) -> dict:
    """The workload's sizes and query list from manifest.json."""
    with open(os.path.join(HERE, "manifest.json")) as fh:
        return json.load(fh)["workloads"][name]


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; +inf entries (failures) sort last."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    if xs[hi] == math.inf:
        return math.inf if pos > lo or xs[lo] == math.inf else xs[lo]
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Tracer:
    """In-memory spans (name, start, end, parent) around calls into the
    package's layers; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. by the load generator)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "parent": None, "name": name,
                               "start": start, "end": end, **attrs})

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own * 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_ms": self.self_times_ms()}, fh)


# the parallel collector with a fixed heap and young generation, so that
# collection work does not adapt to each run: G1 sizes its generations,
# and runs concurrent threads beside the task threads, by how a run's
# timing falls. The heap's ceiling, 2g, is SPARK_DRIVER_MEMORY
JVM_GC = "-XX:+UseParallelGC -Xms2g -Xmn768m -XX:-UseAdaptiveSizePolicy"


def start_spark(work: str):
    """The package's own session factory at local[nproc]; scratch space,
    warehouse and JVM temp files stay inside the run's work directory."""
    from flink_ms_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark("perfbench", cpus=NPROC, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_GC}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it has exited."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Py4JError:
        pass  # the JVM may already be gone; it is reaped below
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


STAGE_FIELDS = {
    "operators.stages": None,
    "operators.tasks": "numTasks",
    "operators.executor_cpu_s": "executorCpuTime",
    "operators.jvm_gc_s": "jvmGcTime",
    "operators.shuffle_read_mb": "shuffleReadBytes",
    "operators.shuffle_write_mb": "shuffleWriteBytes",
    "operators.spill_mb": "diskBytesSpilled",
}
_SCALE = {"operators.executor_cpu_s": 1e-9, "operators.jvm_gc_s": 1e-3,
          "operators.shuffle_read_mb": 1 / 2**20, "operators.shuffle_write_mb": 1 / 2**20,
          "operators.spill_mb": 1 / 2**20}


def job_group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, CPU, GC, shuffle and spill of every job run
    under ``group``, read from Spark's application status store."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = {k: 0.0 for k in STAGE_FIELDS}
    out["operators.jobs"] = 0.0
    seen = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["operators.jobs"] += 1
        sids = store.job(jid).stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # a stage skipped by the scheduler has no attempt
            if str(sd.status()) == "SKIPPED":
                continue
            out["operators.stages"] += 1
            for k, field in STAGE_FIELDS.items():
                if field:
                    out[k] += getattr(sd, field)() * _SCALE.get(k, 1.0)
    return out


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30}
_TIME = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _metric_total(text: str) -> float:
    """First value of a formatted SQL metric ('12.6 s (...)' or a bare
    '3.9 KiB'), in ms for timings and bytes for sizes."""
    num, unit = text.splitlines()[-1].split()[:2]
    return float(num.replace(",", "")) * _SIZE.get(unit, _TIME.get(unit, 1.0))


def python_node_stats(spark, since_execution: int) -> dict[str, float]:
    """Python-worker start time and Arrow bytes over the SQL executions
    after ``since_execution``, from the SQL status store's plan metrics."""
    ss = spark._jsparkSession.sharedState().statusStore()
    execs = ss.executionsList()
    out = {"pydaemon.py_start_ms": 0.0, "pydaemon.arrow_sent_mb": 0.0,
           "pydaemon.arrow_returned_mb": 0.0}
    names = {"time to start Python workers": ("pydaemon.py_start_ms", 1.0),
             "data sent to Python workers": ("pydaemon.arrow_sent_mb", 1 / 2**20),
             "data returned from Python workers": ("pydaemon.arrow_returned_mb", 1 / 2**20)}
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= since_execution:
            continue
        values = ss.executionMetrics(eid)
        nodes = ss.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            ms = nodes.apply(j).metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                hit = names.get(m.name())
                if hit is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    out[hit[0]] += _metric_total(v.get()) * hit[1]
    return out


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def planning_phases_ms(df) -> dict[str, float]:
    """Catalyst analysis/optimization/planning time of ``df``'s own query
    execution, from its QueryPlanningTracker. Analysis ran inside the
    builder call; optimization and physical planning are forced here.
    The noop write plans through a command QueryExecution of its own,
    which Python cannot reach once the write has returned, so these two
    figures time a second planning of the same logical plan, outside
    the measured wall."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name, key in (("analysis", "plans.analysis_ms"), ("optimization", "plans.optimize_ms"),
                      ("planning", "plans.planning_ms")):
        p = phases.get(name)  # a scala Option
        out[key] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out
