"""Per-layer readings for the traced run, taken from outside the engine.

The engine emits nothing itself, so every number here comes from timing the
benchmark's own calls into the public query functions and from Spark's own
counters in the driver JVM:

- the status store (``statusStore``): jobs, stages, run/CPU/GC time,
  shuffle and spill bytes; it is filled with the UI disabled;
- the Catalyst phase tracker of the query's final frame;
- the JVM-wide codegen compile counter and compile-time sum;
- the SQL metrics of the Python-crossing plan nodes of the query's SQL
  executions;
- the storage of cached RDDs and the engine's tracked-cache registry.

Jobs are attributed to a query by job id: the loop is closed with one
client, so every job submitted between a query's start and its end belongs
to it, including jobs from driver thread pools that do not inherit the job
group.
"""

from __future__ import annotations

import json
from pathlib import Path

from ml_data_pipeline_spark.cache import tracked_count

# Which end-to-end metric, on which workload, each per-layer metric should
# move. Names, units and directions are declared once, in BENCHMARK.json's
# "per_layer"; run.py refuses to report when the two name sets differ.
# Per-query readings are summed over a pass unless named in _PEAKS; a
# "cold." name is the same reading taken on the cold pass.
SHOULD_MOVE: dict[str, str] = {
    "queries.build_s": "cold/warm_pass_s on relational",
    "queries.action_s": "cold/warm_pass_s on every workload",
    "queries.eager_jobs": "cold/warm_pass_s on corpus",
    "catalyst.analysis_ms": "warm_pass_s on relational",
    "catalyst.optimization_ms": "warm_pass_s on relational",
    "catalyst.planning_ms": "warm_pass_s on relational",
    "codegen.compiles": "cold_pass_s (and warm_pass_s) on relational",
    "codegen.compile_ms": "cold_pass_s (and warm_pass_s) on relational",
    "exec.run_s": "warm_pass_s, rows_per_s on corpus",
    "exec.cpu_s": "warm_pass_s, rows_per_s on corpus",
    "exec.gc_s": "warm_pass_s, peak_rss_mb on corpus",
    "exec.jobs": "warm_pass_s on corpus",
    "exec.stages": "warm_pass_s on corpus",
    "exec.tasks": "warm_pass_s on corpus",
    "exec.slot_utilization": "warm_pass_s on relational",
    "shuffle.write_bytes": "warm_pass_s, peak_rss_mb on corpus",
    "shuffle.read_bytes": "warm_pass_s, peak_rss_mb on corpus",
    "spill.disk_bytes": "warm_pass_s, peak_rss_mb on corpus",
    "python.rows": "warm_pass_s on corpus",
    "python.bytes_sent": "warm_pass_s on corpus",
    "python.run_s": "warm_pass_s on corpus",
    "driver.idle_s": "cold/warm_pass_s on relational",
    # each query's peak, summed, so the largest one (q5's concurrent
    # broadcast jobs) does not hide the others
    "jobs.concurrent_peak": "warm_pass_s on relational (q3/q5 broadcast jobs)",
    "jobs.untagged": "none: jobs outside the query's job group, e.g. from driver threads",
    "cache.pins": "peak_rss_mb on corpus",
    "cache.storage_bytes": "peak_rss_mb on corpus",
    "cold.queries.build_s": "cold_pass_s on relational",
    "cold.queries.eager_jobs": "cold_pass_s on corpus",
    "cold.codegen.compiles": "cold_pass_s on relational",
    "cold.codegen.compile_ms": "cold_pass_s on relational",
    "cold.exec.run_s": "cold_pass_s on corpus",
    "cold.driver.idle_s": "cold_pass_s on relational",
    "collect.s": "warm_pass_s on relational: toPandas minus a noop-sink run",
    "trace.overhead_s": "none: traced minus untraced warm_pass_s",
}
_PEAKS = {"cache.storage_bytes"}


_PYTHON_METRICS = {
    "number of output rows": "python.rows",
    "data sent to Python workers": "python.bytes_sent",
    "time to run Python workers": "python.run_s",
}
_SCALE = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1, "m": 60, "h": 3600,
}


def _metric_value(text: str) -> float:
    """The total of a SQL metric display string: ``56,268``, or a sum
    line such as ``746.7 KiB (184.7 KiB, ...)`` or ``9.1 s (2.1 s, ...)``
    after a ``total (min, med, max ...)`` header."""
    number, *unit = text.splitlines()[-1].split(" (")[0].split()
    return float(number.replace(",", "")) * (_SCALE[unit[0]] if unit else 1)


class SparkProbe:
    """Reads Spark's own counters through the driver JVM."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._jsc = jsc
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    def sql_executions(self) -> int:
        return self._sql.executionsCount()

    def python_io(self, first: int, end: int) -> dict[str, float]:
        """Rows returned by, bytes sent to and time spent in Python workers,
        summed over the Python-crossing plan nodes (MapInArrow, MapInPandas,
        ArrowEvalPython, ...) of the SQL executions with index in
        [first, end): the query's eager executions as well as its final one.
        The SQL status store keeps these values only as display strings, so
        bytes and seconds carry about four significant digits."""
        out = dict.fromkeys(_PYTHON_METRICS.values(), 0.0)
        executions = self._sql.executionsList(first, end - first)
        for i in range(executions.size()):
            eid = executions.apply(i).executionId()
            nodes, values = self._sql.planGraph(eid).allNodes(), None
            for k in range(nodes.size()):
                ms = nodes.apply(k).metrics()
                ids = {ms.apply(j).name(): ms.apply(j).accumulatorId() for j in range(ms.size())}
                if "data sent to Python workers" not in ids:
                    continue
                values = values or self._sql.executionMetrics(eid)
                for name, key in _PYTHON_METRICS.items():
                    text = values.get(ids[name])
                    out[key] += _metric_value(text.get()) if text.isDefined() else 0.0
        return out

    def codegen(self) -> tuple[int, int]:
        """(classes compiled, compile nanoseconds) since JVM start."""
        return self._compiles.getCount(), self._codegen.compileTime()

    def storage_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())

    def drain(self) -> None:
        """Wait until the status stores have seen every event posted so far."""
        self._bus.waitUntilEmpty(60_000)

    def jobs(self, first: int, end: int) -> list[dict]:
        """Jobs with ids in [first, end), with the ids of their stages."""
        out = []
        for jid in range(first, end):
            j = self._store.job(jid)
            sub, comp, group = j.submissionTime(), j.completionTime(), j.jobGroup()
            ids = j.stageIds()
            out.append({
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
                "stages": [ids.apply(i) for i in range(ids.size())],
            })
        return out

    def stage(self, sid: int) -> dict:
        s = self._store.lastStageAttempt(sid)
        return {
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "tasks": s.numCompleteTasks(),
            "ran": s.status().toString() == "COMPLETE",
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.diskBytesSpilled(),
        }


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase durations (ms) of the frame's own query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it, out = phases.iterator(), {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> tuple[float, int]:
    """Length of the union of intervals clipped to [lo, hi], and the most
    intervals open at once."""
    edges = sorted(
        [(max(a, lo), 1) for a, b in intervals if b > lo and a < hi]
        + [(min(b, hi), -1) for a, b in intervals if b > lo and a < hi]
    )
    covered, depth, peak, since = 0.0, 0, 0, lo
    for t, step in edges:
        if depth > 0:
            covered += t - since
        depth += step
        peak = max(peak, depth)
        since = t
    return covered, peak


class QueryTrace:
    """Counter snapshots around one traced query execution."""

    def __init__(self, probe: SparkProbe, tag: str):
        self.probe, self.tag = probe, tag
        probe.drain()
        self.job0 = probe.next_job_id()
        self.sql0 = probe.sql_executions()
        self.codegen0 = probe.codegen()
        self.pins0 = tracked_count()

    def built(self) -> None:
        self.job_built = self.probe.next_job_id()

    def done(self) -> None:
        self.job_end = self.probe.next_job_id()
        self.codegen1 = self.probe.codegen()
        self.pins1 = tracked_count()

    def layers(self, df, start: float, built: float, end: float) -> tuple[dict, list[dict]]:
        """Per-layer readings of the query, and its jobs for the span log.
        ``start``/``built``/``end`` are wall-clock times of the call into the
        query function, its return and the end of ``toPandas()``."""
        probe = self.probe
        probe.drain()
        jobs = probe.jobs(self.job0, self.job_end)
        stages = [probe.stage(s) for s in sorted({s for j in jobs for s in j["stages"]})]
        intervals = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        busy, peak = _covered(intervals, start, end)
        phases = catalyst_ms(df) if df is not None else {}
        out = {
            "queries.build_s": built - start,
            "queries.action_s": end - built,
            "queries.eager_jobs": self.job_built - self.job0,
            "catalyst.analysis_ms": phases.get("analysis", 0.0),
            "catalyst.optimization_ms": phases.get("optimization", 0.0),
            "catalyst.planning_ms": phases.get("planning", 0.0),
            "codegen.compiles": self.codegen1[0] - self.codegen0[0],
            "codegen.compile_ms": (self.codegen1[1] - self.codegen0[1]) / 1e6,
            "exec.run_s": sum(s["run_s"] for s in stages),
            "exec.cpu_s": sum(s["cpu_s"] for s in stages),
            "exec.gc_s": sum(s["gc_s"] for s in stages),
            "exec.jobs": len(jobs),
            "exec.stages": sum(s["ran"] for s in stages),
            "exec.tasks": sum(s["tasks"] for s in stages),
            "shuffle.write_bytes": sum(s["shuffle_write"] for s in stages),
            "shuffle.read_bytes": sum(s["shuffle_read"] for s in stages),
            "spill.disk_bytes": sum(s["spill"] for s in stages),
            **probe.python_io(self.sql0, probe.sql_executions()),
            "driver.idle_s": (end - start) - busy,
            "jobs.concurrent_peak": peak,
            "jobs.untagged": sum(j["group"] != self.tag for j in jobs),
            "cache.pins": self.pins1 - self.pins0,
            "cache.storage_bytes": probe.storage_bytes(),
        }
        return out, jobs


def pass_layers(per_query: list[dict], wall: float, cores: int) -> dict[str, float]:
    """Fold per-query readings into one pass."""
    out = {k: (max if k in _PEAKS else sum)(q[k] for q in per_query) for k in per_query[0]}
    out["exec.slot_utilization"] = out["exec.run_s"] / (wall * cores)
    return out


class SpanLog:
    """In-memory spans (name, start, end, parent), written out at the end."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({**extra, "spans": self.spans}, indent=1, default=str))
