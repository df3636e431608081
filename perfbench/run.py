"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0

Each run is one fresh process on ``local[nproc]`` with one closed-loop
client. After set-up it runs a cold pass over the workload's queries, then
warm passes (tracked caches released between passes) until ``--seconds`` of
measuring have passed and at least three warm passes have run.
``warm_pass_s`` sums each query's fastest warm execution, so load from
other tenants of a shared host that slows some executions drops out; the
per-query median sum is printed beside it. Every result is then checked
against its DuckDB oracle, outside all timing.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes and reports the per-layer metrics (their
meaning in ``layers.SHOULD_MOVE``), the tracing overhead and the collect
cost, and writes the spans under ``.perfbench/traces/``. Metric names and
units are read from ``BENCHMARK.json`` next to ``perfbench/``.
``--workload all`` runs every workload in its own process and prints one
summary line each.

Generated inputs are cached per seed under ``.perfbench/inputs/`` in the
directory holding ``perfbench/``. Exits non-zero, printing no result, when
that directory does not hold the engine.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

MIN_WARM = 3
# A traced run takes its warm passes as untraced, traced, traced, untraced:
# two of each kind, placed so that a steady speed-up over the passes (the
# JIT still warming) cancels out of the tracing overhead.
MIN_WARM_TRACED = 2
MAX_PASSES = 40
# A run must end within 180 s. Past this many seconds since process start no
# new pass begins once each kind has one, so a slow host cuts passes short.
DEADLINE_S = 110


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_mb(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _warm_up(spark, data_dir: Path, table: str) -> None:
    """The generic warm-up of ``bench.py``: JVM and parquet footer, the
    Arrow collect path with window/join/aggregate codegen, and one Python
    worker per slot for mapInArrow and mapInPandas. It shares no plan with
    any workload query."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.read.parquet(str(data_dir / f"{table}.parquet")).count()
    tiny = spark.range(1000).select("id", (F.col("id") % 7).alias("k"), F.rand(1).alias("x"))
    w = Window.partitionBy("k").orderBy("x")
    (
        tiny.groupBy("k")
        .agg(F.sum("x").alias("s"), F.avg("x").alias("a"))
        .join(tiny, "k")
        .withColumn("r", F.row_number().over(w))
        .orderBy("k")
        .toPandas()
    )

    def _ident(batches):
        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(_ident, "id long").count()
    spark.range(0, n, 1, n).mapInPandas(_ident, "id long").count()


class Runner:
    """One workload in one Spark session: passes, traces and results."""

    def __init__(self, spark, queries: list[str], data_dir: Path, trace: bool):
        from ml_data_pipeline_spark.queries import ALL_QUERIES

        self.spark, self.data_dir = spark, data_dir
        self.fns = {q: ALL_QUERIES[q] for q in queries}
        self.executions: list[dict] = []  # one per query execution, for the gate
        self.spans = None
        self.probe = None
        if trace:
            from layers import SpanLog, SparkProbe

            self.spans, self.probe = SpanLog(), SparkProbe(spark)

    def run_pass(self, index: int, traced: bool) -> dict:
        """One pass over the query list. Its wall time is the sum of the
        queries' own walls (call into the query function until toPandas
        returns), so bookkeeping between queries is not counted."""
        from ml_data_pipeline_spark.cache import release_tracked

        release_tracked()
        runs = [self._run_query(index, name, fn, traced) for name, fn in self.fns.items()]
        wall = sum(r["wall"] for r in runs)
        out = {"index": index, "traced": traced, "wall": wall, "queries": dict(zip(self.fns, (r["wall"] for r in runs)))}
        if traced:
            from layers import pass_layers

            per_query = [r["layers"] for r in runs]
            out["layers"] = pass_layers(per_query, wall, self.spark.sparkContext.defaultParallelism)
            out["per_query"] = dict(zip(self.fns, per_query))
            self._record_spans(index, wall, runs)
        return out

    def _run_query(self, index: int, name: str, fn, traced: bool) -> dict:
        sc = self.spark.sparkContext
        tag = f"p{index}-{name}"
        qt = None
        outer0 = time.perf_counter()  # the query's wall includes the tracing hooks
        if traced:
            from layers import QueryTrace

            sc.setJobGroup(tag, name)
            qt = QueryTrace(self.probe, tag)
        execution = {"pass": index, "query": name, "error": None}
        df = pdf = None
        w0 = time.time()
        t0 = t1 = time.perf_counter()
        try:
            df = fn(self.spark, str(self.data_dir))
            t1 = time.perf_counter()
            if qt:
                qt.built()
            pdf = df.toPandas()
        except Exception as e:  # a failing query is counted, not fatal
            execution["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            if df is None:
                t1 = time.perf_counter()
                if qt:
                    qt.built()
        t2 = time.perf_counter()
        if traced:
            sc.setJobGroup("", "")
            qt.done()
        wall = time.perf_counter() - outer0
        if pdf is not None:
            execution["types"] = [f.dataType.simpleString() for f in df.schema.fields]
            execution["pdf"] = pdf
        self.executions.append(execution)
        run = {"wall": wall}
        if traced:
            # wall-clock edges of build and action, to line up with job times
            window = (w0, w0 + (t1 - t0), w0 + (t2 - t0))
            layers, jobs = qt.layers(df if pdf is not None else None, *window)
            run.update(name=name, layers=layers, jobs=jobs, window=window)
        return run

    def _record_spans(self, index: int, wall: float, runs: list[dict]) -> None:
        """pass -> query -> {build, action, jobs}; one tag per execution."""
        spans = self.spans
        start, end = runs[0]["window"][0], runs[-1]["window"][2]
        pid = spans.add(f"pass{index}", start, end, None, wall_s=wall)
        for r in runs:
            w0, w1, w2 = r["window"]
            qid = spans.add(r["name"], w0, w2, pid, tag=f"p{index}-{r['name']}", **r["layers"])
            spans.add("build", w0, w1, qid)
            spans.add("action", w1, w2, qid)
            for j in r["jobs"]:
                spans.add(f"job{j['id']}", j["start"], j["end"], qid, group=j["group"], stages=j["stages"])

    def collect_s(self, warm_traced: list[dict]) -> float:
        """Warm toPandas time minus a noop-sink run of a freshly built frame,
        summed over the queries."""
        from ml_data_pipeline_spark.cache import release_tracked

        release_tracked()
        total = 0.0
        for name, fn in self.fns.items():
            df = fn(self.spark, str(self.data_dir))
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            noop = time.perf_counter() - t0
            action = statistics.median(p["per_query"][name]["queries.action_s"] for p in warm_traced)
            total += action - noop
        return total


def _measure(runner: Runner, seconds: float, trace: bool) -> tuple[dict, list[dict], list[dict]]:
    """Cold pass, then warm passes until ``seconds`` have passed and at
    least ``MIN_WARM`` (traced run: ``MIN_WARM_TRACED``) of each kind have
    run. On a host of usual speed the cold pass and three warm passes take
    longer than ``seconds``, so every run has three warm passes."""
    start = time.perf_counter()
    need = MIN_WARM_TRACED if trace else MIN_WARM
    cold = runner.run_pass(0, traced=trace)
    untraced, traced = [], []
    for index in range(1, MAX_PASSES):
        have = min(len(untraced), len(traced)) if trace else len(untraced)
        if (have >= need and time.perf_counter() - start >= seconds) or (
            have >= 1 and time.monotonic() - T_PROCESS > DEADLINE_S
        ):
            break
        use_trace = trace and index % 4 in (2, 3)
        (traced if use_trace else untraced).append(runner.run_pass(index, traced=use_trace))
    return cold, untraced, traced


def _pass_s(passes: list[dict], stat=min) -> float:
    """One pass as the sum over queries of ``stat`` of each query's walls in
    ``passes``. With ``min``, a burst of load from other guests of the host
    drops out unless it slows every warm execution of a query. The first
    warm pass is still slower while the JIT warms, so a median of three
    passes is the slower of the other two and keeps a burst in either."""
    return sum(stat(p["queries"][q] for p in passes) for q in passes[0]["queries"])


def _steal() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return fields[7], sum(fields[:8])


def _layer_metrics(runner: Runner, cold: dict, warm: float, traced: list[dict]) -> dict:
    """Per-layer values: medians over the traced warm passes, the cold
    pass's readings under a ``cold.`` prefix, and two run-level readings."""
    from layers import SHOULD_MOVE

    values = {k: statistics.median(p["layers"][k] for p in traced) for k in traced[0]["layers"]}
    values.update({k: cold["layers"][k[5:]] for k in SHOULD_MOVE if k.startswith("cold.")})
    values["trace.overhead_s"] = _pass_s(traced) - warm
    values["collect.s"] = runner.collect_s(traced)
    return values


def _declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them for this
    kind of run. Per-layer names must also match ``layers.SHOULD_MOVE``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    if trace:
        from layers import SHOULD_MOVE

        if set(SHOULD_MOVE) != set(units):
            raise RuntimeError(f"layers.SHOULD_MOVE and BENCHMARK.json differ: {set(SHOULD_MOVE) ^ set(units)}")
    return units


def _gate(runner: Runner, data_dir: Path) -> tuple[int, list[str]]:
    from check import Gate

    tables = sorted(p.stem for p in data_dir.glob("*.parquet"))
    gate = Gate(data_dir, tables)
    failures = []
    try:
        for ex in runner.executions:
            where = f"pass {ex['pass']} {ex['query']}"
            if ex["error"]:
                failures.append(f"{where}: {ex['error']}")
                continue
            problems = gate.problems(ex["query"], ex.pop("pdf"), ex["types"])
            if problems:
                failures.append(f"{where}: {'; '.join(problems)}")
    finally:
        gate.close()
    return len(runner.executions), failures


def run_one(args) -> int:
    nproc = _nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [str(ROOT), os.environ.get("PYTHONPATH", "")] if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()

    # inputs come from a separate process, so generation shows in no metric
    # and never in this process's peak memory
    t = time.monotonic()
    made = subprocess.run(
        [sys.executable, str(HERE / "inputs.py"), args.workload, str(args.seed), str(WORK)],
        check=True, capture_output=True, text=True,
    )
    excluded = time.monotonic() - t
    made = json.loads(made.stdout)
    data_dir, rows = Path(made["dir"]), made["rows"]
    load_start = os.getloadavg()

    sys.path.insert(0, str(ROOT))
    import bench

    t = time.monotonic()
    calibration = bench._calibration_probe()
    excluded += time.monotonic() - t

    from pyspark import SparkContext

    from ml_data_pipeline_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    gateway = SparkContext._gateway
    try:
        _warm_up(spark, data_dir, sorted(rows)[0])
        setup_s = time.monotonic() - T_PROCESS - excluded
        runner = Runner(spark, WORKLOADS[args.workload]["queries"], data_dir, bool(args.trace))
        steal0 = _steal()
        cold, untraced, traced = _measure(runner, args.seconds, bool(args.trace))
        steal1 = _steal()
        peak_rss = _vm_hwm_mb(gateway.proc.pid) + _vm_hwm_mb("self")
        warm = _pass_s(untraced)
        if args.trace:
            values = _layer_metrics(runner, cold, warm, traced)
            runner.spans.write(
                WORK / "traces" / f"{args.workload}-seed{args.seed}.json",
                workload=args.workload, seed=args.seed, metrics=values,
                passes=[{k: p[k] for k in ("index", "traced", "wall", "per_query") if k in p}
                        for p in [cold, *untraced, *traced]],
            )
        else:
            values = {
                "setup_s": setup_s,
                "warm_pass_s": warm,
                "rows_per_s": sum(rows.values()) / warm,
            }
        master = spark.sparkContext.master
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    units = _declared_units(bool(args.trace))
    if set(values) != set(units):
        raise RuntimeError(f"measured and declared metrics differ: {set(values) ^ set(units)}")
    attempted, failures = _gate(runner, data_dir)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    host = {
        "nproc": nproc,
        "master": master,
        "loadavg_1m_start": load_start[0],
        "loadavg_1m_end": os.getloadavg()[0],
        # steal: share of this machine's CPU time that the hypervisor gave to
        # other guests while measuring; slow runs show it
        "cpu_steal_frac": (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1),
        "calibration_s": calibration,
        "input_rows": rows,
        "warm_untraced_s": [p["wall"] for p in untraced],
        "warm_traced_s": [p["wall"] for p in traced],
        # one sample per process, as a first pass can only run once in a
        # session, so it spreads more than any bound the benchmark may set
        # and is reported here, not gated; its layers are the cold.* ones
        "cold_pass_s": cold["wall"],
        # the per-query median counterpart of warm_pass_s, not gated
        "warm_median_pass_s": _pass_s(untraced, statistics.median),
        "failed_frac": len(failures) / attempted,
        # JVM plus Python driver peak RSS; reported here, not as a gated
        # metric, because JVM heap growth makes it spread more than any
        # bound the benchmark may set
        "peak_rss_mb": peak_rss,
        "run_s": time.monotonic() - T_PROCESS,
    }
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; one summary line each."""
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0"],
            capture_output=True, text=True, check=True,
        )
        lines = proc.stdout.strip().splitlines()
        host, result = json.loads(lines[-2])["host"], json.loads(lines[-1])
        shown = [f"{k}={m['value']:.4g} {m['unit']}" for k, m in result["metrics"].items()]
        shown.append(f"cold_pass_s={host['cold_pass_s']:.4g} s")
        shown.append(f"failed_frac={host['failed_frac']:.4g} ({result['failed']}/{result['attempted']})")
        shown.append(f"peak_rss_mb={host['peak_rss_mb']:.4g} MB")
        print(f"{name}: " + ", ".join(shown))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "ml_data_pipeline_spark" / "__init__.py").is_file() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: the engine sources are not in {ROOT}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
