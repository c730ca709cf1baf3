"""The benchmark's runner: one client, one op at a time, closed loop, on
``local[<cpus>]`` with ``cpus`` = the cores this process may run on.

    python3 perfbench/run.py --workload curation_ops --seed 1 --seconds 20 --trace 0

Run from a checkout of the repository; everything it writes stays under
``.perfbench_work/`` (inputs, Spark scratch, the medallion's tables; removed
at exit) and ``.perfbench_out/`` (result and trace files). One run:

1. generates the workload's inputs from ``--seed`` (perfbench/inputs.py);
2. starts the engine's session (``session.get_spark``);
3. runs a cold pass over the workload's ops and the warm-up passes --
   all of this is ``setup_s``;
4. runs timed passes for ``--seconds`` (at least two);
5. collects the frames the last timed pass returned and checks them, and
   the tables it wrote, against their DuckDB twins, untimed;
6. prints a readable report and, as the last line, one JSON object
   ``{"correct", "attempted", "failed", "metrics"}`` holding the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``, which also writes a span file for perfbench/report.py).

Every op clears Spark's cache first, so no op reuses another's persisted
frames.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.probe import catalyst_phases  # noqa: E402
from perfbench.workloads import STAGES, WORKLOADS, Ctx  # noqa: E402

#: Warm passes after the cold one, before timing starts. The first warm
#: pass is ~20 % slower than the later ones; pass times still drift a few
#: percent after it, and more warm-up does not fit the run budget
#: (perfbench/README.md, "Run budget").
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2
#: Pure-Python calibration loop length (host diagnostics only).
CALIB_N = 2_000_000

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}

PER_LAYER = {
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "operators.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.idle_core_s": "s",
    "execution.s": "s",
    "execution.task_run_s": "s",
    "execution.task_cpu_s": "s",
    "execution.gc_s": "s",
    "execution.shuffle_write_bytes": "B",
    "execution.shuffle_read_bytes": "B",
    "execution.shuffle_fetch_wait_s": "s",
    "execution.spill_bytes": "B",
    "sources.input_bytes": "B",
    "sources.input_rows": "count",
    "sinks.output_bytes": "B",
    "sinks.output_files": "count",
    **{f"plans.{s}_s": "s" for s in STAGES},
    "arrow.bytes_to_python": "B",
    "arrow.bytes_from_python": "B",
    "arrow.python_run_s": "s",
    "arrow.python_start_s": "s",
    "driver.result_bytes": "B",
    "driver.cached_bytes": "B",
    "driver.peak_rss_mb": "MB",
    "write_s": "s",
    "read_s": "s",
    "bytes_written_per_input_byte": "ratio",
}


def _steal_s() -> float:
    """CPU time stolen from this host by its hypervisor so far."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _calibrate() -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(CALIB_N):
        acc += i * i % 7
    return time.perf_counter() - t


def _env(work: str, cpus: int) -> None:
    """Point every scratch path of the JVM, Spark and Python at ``work``
    and let the Python workers import the engine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the launcher JVM that builds the spark-submit command line, too
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '{java_opts}' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _stop(spark) -> None:
    """Stop the session and end the driver JVM, waiting until it has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _output_files(out_dir: str) -> tuple[int, int]:
    """(files, bytes) of Parquet under the medallion's layer directories."""
    n = size = 0
    for layer in ("bronze", "silver", "gold"):
        for dirpath, _, files in os.walk(os.path.join(out_dir, layer)):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Runner:
    """Runs a workload's passes and keeps every sample (and, traced, every
    span) in memory."""

    def __init__(self, spark, workload, ctx, probe=None):
        self.spark = spark
        self.workload = workload
        self.ctx = ctx
        self.probe = probe
        self.cpus = spark.sparkContext.defaultParallelism
        self.spans: list[dict] = []
        self.failures: list[str] = []
        #: op name -> the frame its latest call returned
        self.frames: dict = {}
        #: first pass traced (with a probe): the timed passes only
        self.traced_from = 1 + WARMUP_PASSES

    def _span(self, name, start, end, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return sid

    def _execute(self, op, df) -> None:
        self.frames[op.name] = df
        df.write.format("noop").mode("overwrite").save()

    def run_op(self, op, pass_no: int) -> tuple[float | None, dict]:
        """One op: the engine call, then the noop write of the frame it
        returns. Returns (latency, or None if it raised; per-layer
        counters)."""
        self.spark.catalog.clearCache()
        self.frames.pop(op.name, None)
        try:
            if self.probe is None or pass_no < self.traced_from:
                t0 = time.perf_counter()
                df = op.build(self.ctx)
                if df is not None:
                    self._execute(op, df)
                return time.perf_counter() - t0, {}
            return self._traced(op, pass_no)
        except Exception as e:  # a failing op is counted, not fatal
            self.failures.append(f"pass {pass_no} {op.name}: {type(e).__name__}: {str(e)[:200]}")
            return None, {}

    def _traced(self, op, pass_no: int) -> tuple[float, dict]:
        """``run_op`` with a span around each layer call and the counters
        Spark's status stores hold for the jobs the op launched."""
        sc, probe = self.spark.sparkContext, self.probe
        group = f"p{pass_no}:{op.name}"
        layers: dict[str, float] = {}
        gc0 = probe.gc_s()
        t_op = time.time()
        c0 = time.perf_counter()
        try:
            sc.setJobGroup(group + ":build", op.name)
            df = op.build(self.ctx)
            t_b1 = time.time()
            t_c1 = t_e1 = t_b1
            if df is not None:
                layers.update(catalyst_phases(df))
                t_c1 = time.time()
                sc.setJobGroup(group + ":exec", op.name)
                self._execute(op, df)
                t_e1 = time.time()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        latency = time.perf_counter() - c0
        probe.drain()
        build_jobs, exec_jobs = probe.jobs(group + ":build"), probe.jobs(group + ":exec")
        build_iv, exec_iv = probe.job_intervals(build_jobs), probe.job_intervals(exec_jobs)

        root = self._span(f"op:{op.name}", t_op, t_op + latency, None, op=op.name, pass_no=pass_no)
        entry = {"plans": f"plans.{op.name}", "sinks": "sinks.read"}.get(op.entry, "operators.build")
        phases = [(self._span(entry, t_op, t_b1, root), build_iv)]
        if df is not None:
            self._span("catalyst", t_b1, t_c1, root)
            phases.append((self._span("execution.noop_write", t_c1, t_e1, root), exec_iv))
        for parent, ivs in phases:
            for a, b in ivs:
                self._span("scheduler.job", a, b, parent)

        counters = probe.stage_counters(build_jobs + exec_jobs)
        layers.update(counters)
        layers.update(probe.python_counters())
        build_s = t_b1 - t_op
        if op.entry == "suite":
            layers["operators.build_s"] = build_s
            layers["operators.build_self_s"] = build_s - stats.covered(build_iv, t_op, t_b1)
            layers["operators.build_jobs"] = len(build_jobs)
        elif op.entry == "plans":
            layers[f"plans.{op.name}_s"] = build_s
            layers["write_s"] = build_s
        else:
            layers["read_s"] = latency
        layers["scheduler.jobs"] = len(build_jobs) + len(exec_jobs)
        layers["scheduler.idle_core_s"] = self.cpus * latency - counters["execution.task_run_s"]
        layers["execution.s"] = stats.covered(build_iv + exec_iv, t_op, t_op + latency)
        layers["execution.gc_s"] = probe.gc_s() - gc0
        layers["driver.cached_bytes"] = probe.cached_bytes()
        self.spans[root]["counters"] = layers
        return latency, layers

    def run_pass(self, pass_no: int) -> tuple[float, list]:
        """All ops once; returns (pass wall time, [(op, latency, layers)])."""
        t0 = time.perf_counter()
        samples = [(op.name, *self.run_op(op, pass_no)) for op in self.workload.ops]
        return time.perf_counter() - t0, samples

    def collect(self) -> dict:
        """The frames of the latest pass, collected to pandas (untimed);
        an op whose collect raised is left out and counted as failed."""
        results = {}
        for name, df in self.frames.items():
            self.spark.catalog.clearCache()
            try:
                results[name] = df.toPandas()
            except Exception as e:
                self.failures.append(f"collect {name}: {type(e).__name__}: {str(e)[:200]}")
        return results


def _per_layer(timed: list, in_bytes: int) -> dict[str, float]:
    """Each layer metric summed over a pass's ops, median over passes
    (``driver.peak_rss_mb`` is per run and added by the caller)."""
    names = [k for k in PER_LAYER if k != "driver.peak_rss_mb"]
    per_pass = []
    for p in timed:
        tot = dict.fromkeys(names, 0.0)
        for _, _, layers in p["samples"]:
            for k, v in layers.items():
                if k in tot:
                    tot[k] += v
        tot["sinks.output_files"] = p.get("output_files", 0)
        tot["bytes_written_per_input_byte"] = p.get("output_bytes", 0) / in_bytes if p.get("output_files") else 0.0
        per_pass.append(tot)
    return {k: stats.median([t[k] for t in per_pass]) for k in names}


def account(timed: list[dict], problems: dict[str, list[str]]) -> tuple[int, int]:
    """(attempted, failed) over the timed op executions. An execution
    failed when it raised or when its op's output failed the check; the
    error rate is failed / attempted."""
    bad = {op for op, ps in problems.items() if ps}
    samples = [(op, s) for p in timed for op, s, _ in p["samples"]]
    return len(samples), sum(1 for op, s in samples if s is None or op in bad)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "datalake_nba_dmc_spark")):
        print(f"engine package datalake_nba_dmc_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    t_start = time.perf_counter()
    steal0 = _steal_s()
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{workload.name}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _env(work, cpus)
    spark = None
    try:
        from perfbench import inputs

        in_dir = os.path.join(work, "in")
        sizes = inputs.generate(in_dir, workload.sf, args.seed, workload.replicas, workload.tables)
        from datalake_nba_dmc_spark.plans.medallion import LayerIO
        from datalake_nba_dmc_spark.session import get_spark

        spark = get_spark(f"perfbench-{workload.name}")
        spark.sparkContext.setLogLevel("ERROR")
        lake = os.path.join(work, "lake")
        ctx = Ctx(spark, in_dir, lake, LayerIO(spark, lake))
        probe = None
        if args.trace:
            from perfbench.probe import SparkProbe

            probe = SparkProbe(spark)
        runner = Runner(spark, workload, ctx, probe)

        warm = []
        while len(warm) < 1 + WARMUP_PASSES:
            warm.append(runner.run_pass(len(warm))[0])
        setup_s = time.perf_counter() - t_start
        if probe is not None:
            probe.skip_executions()

        timed = []
        t_window = time.perf_counter()
        # no pass is started that the last one says would end past the window
        while len(timed) < MIN_TIMED_PASSES or (
            time.perf_counter() - t_window + timed[-1]["wall_s"] <= args.seconds
        ):
            wall, samples = runner.run_pass(len(warm) + len(timed))
            p = {"wall_s": wall, "samples": samples}
            if any(op.entry == "plans" for op in workload.ops):
                p["output_files"], p["output_bytes"] = _output_files(lake)
            timed.append(p)
        window_s = time.perf_counter() - t_window
        # peak memory of the timed work, before the checks add their own
        py_hwm_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            jvm_hwm_kb = int(next(ln for ln in f if ln.startswith("VmHWM")).split()[1])

        from perfbench.checks import duckdb_over

        t_check = time.perf_counter()
        results = runner.collect()
        con = duckdb_over(in_dir, workload.tables, os.path.join(work, "tmp"))
        try:
            problems = workload.check(ctx, con, results)
        finally:
            con.close()
        check_s = time.perf_counter() - t_check
        confs = {
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
            "pyspark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    lat = [s for p in timed for _, s, _ in p["samples"] if s is not None]
    attempted, failed = account(timed, problems)
    walls = [p["wall_s"] for p in timed]
    tail_s, tail_pct, n_lat = stats.tail(lat) if len(lat) > 10 else (None, None, len(lat))
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": stats.median(walls),
        "op_p50_s": stats.median(lat),
    }
    peak_rss_mb = (jvm_hwm_kb + py_hwm_kb) / 1024
    in_bytes = sum(t["bytes"] for t in sizes.values())
    host = {"host.steal_s": _steal_s() - steal0, "host.calib_s": _calibrate()}
    result = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": args.trace,
        "confs": confs,
        "inputs": {"sf": workload.sf, "replicas": workload.replicas, "tables": sizes},
        "passes": {"warmup_s": warm, "timed_s": walls, "window_s": window_s, "check_s": check_s},
        "op_tail": {"value_s": tail_s, "percentile": tail_pct, "samples": n_lat},
        "op_median_s": {
            op.name: stats.median(
                [s for p in timed for n, s, _ in p["samples"] if n == op.name and s is not None] or [0.0]
            )
            for op in workload.ops
        },
        "end_to_end": end_to_end,
        "driver_peak_rss_mb": peak_rss_mb,
        "host": host,
        "problems": {k: v for k, v in problems.items() if v},
        "failures": runner.failures,
    }
    if args.trace:
        result["per_layer"] = {**_per_layer(timed, in_bytes), "driver.peak_rss_mb": peak_rss_mb}
        trace_path = os.path.join(out_dir, f"trace-{workload.name}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump(
                {
                    "workload": workload.name,
                    "seed": args.seed,
                    "timed_passes": list(range(len(warm), len(warm) + len(timed))),
                    "spans": runner.spans,
                },
                f,
            )
        result["trace_file"] = os.path.relpath(trace_path, ROOT)
    with open(os.path.join(out_dir, f"result-{workload.name}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)

    _print_report(result)
    metrics, units = (result["per_layer"], PER_LAYER) if args.trace else (end_to_end, END_TO_END)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def _print_report(r: dict) -> None:
    c, e = r["confs"], r["end_to_end"]
    rows = sum(t["rows"] for t in r["inputs"]["tables"].values())
    size = sum(t["bytes"] for t in r["inputs"]["tables"].values())
    print(
        f"# {r['workload']} seed={r['seed']} trace={r['trace']} cpus={c['cpus']} "
        f"shuffle_partitions={c['shuffle_partitions']} driver_memory={c['driver_memory']} "
        f"pyspark={c['pyspark']} java={c['java']}"
    )
    print(
        f"# inputs: sf={r['inputs']['sf']} x{r['inputs']['replicas']}, {rows} rows, {size} bytes"
    )
    print(
        "# passes: warm-up " + " ".join(f"{w:.2f}" for w in r["passes"]["warmup_s"])
        + " | timed " + " ".join(f"{w:.2f}" for w in r["passes"]["timed_s"])
    )
    for k, u in END_TO_END.items():
        print(f"# {k} = {e[k]:.4f} {u}")
    print(f"# driver_peak_rss_mb = {r['driver_peak_rss_mb']:.1f} MB")
    t = r["op_tail"]
    if t["value_s"] is not None:
        print(f"# op_tail_s = {t['value_s']:.4f} s (p{t['percentile']:.1f} of {t['samples']} samples)")
    else:
        print(f"# op_tail_s: {t['samples']} samples, too few for a tail percentile")
    for k, v in r["host"].items():
        print(f"# {k} = {v:.4f} s")
    for k, v in r.get("per_layer", {}).items():
        print(f"# {k} = {v:.6g} {PER_LAYER[k]}")
    for op, ps in r["problems"].items():
        print(f"# CHECK FAILED {op}: {'; '.join(ps)}")
    for f in r["failures"]:
        print(f"# OP FAILED {f}")


if __name__ == "__main__":
    sys.exit(main())
