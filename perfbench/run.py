"""Benchmark of the engine: one seeded workload per run, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all [--seed <n>] [--seconds <s>]

Run from the repository root.  Workloads (see perfbench/README.md):
``repl_interactive``, ``pipeline_batch``, ``lake_ingest``.  A run

1. makes a private run directory under ``.perfbench_runs/`` — ``TMPDIR``,
   ``SPARK_LOCAL_DIRS``, the JVM's ``java.io.tmpdir`` and the generated
   inputs all live there, and it is deleted at exit, so no run inherits
   derived copies from another;
2. generates the inputs from ``--seed`` and the expected results (untimed);
3. sets up three times — the first launches the JVM, the next two restart
   the session inside it — and reports the median as ``setup_s``;
4. makes a first pass over the workload's seeded operations, then warm
   passes until ``--seconds`` have gone by (at least one warm pass);
5. checks every operation's output, untimed; a mismatch or an exception
   counts as failed.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the
per-layer metrics from the benchmark's own wrappers (perfbench/tracing.py).
``--results FILE`` appends the full record (extras, host facts, per-op
figures) as one JSON line, the input of perfbench/compare.py.

``--workload all`` runs every workload untraced and traced in child
processes and prints each workload's named metrics and the tracing
overhead (traced minus untraced).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUP_REPS = 3


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


class Context:
    def __init__(self, args, run_dir: str) -> None:
        self.root = ROOT
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.tmp_dir = os.path.join(run_dir, "tmp")
        self.local_dir = os.path.join(run_dir, "spark-local")
        self.event_dir = os.path.join(run_dir, "eventlog")
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.cold_leg = args.cold_leg
        self.tiny = args.size == "tiny"
        self.cpus = os.cpu_count() or 1
        self.heap = driver_heap()
        self.tracer = None
        self.spark = None

    @contextlib.contextmanager
    def phase(self, op: dict, span: str, name: str):
        """A traced phase of one operation: a span and a job group."""
        if self.tracer is None:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{op['id']}|{name}", span)
        try:
            with self.tracer.span(span):
                yield
        finally:
            sc.setJobGroup(f"{op['id']}|op", "op")


def driver_heap() -> str:
    """A quarter of physical memory, capped at 2 GiB: well below RAM on any
    host, and ample for the benchmark's inputs."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        ram = 8 << 30
    return f"{max(512, min(2048, ram // 4 >> 20))}m"


def cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of a process so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_session(ctx: Context):
    from simple_query_engine_spark.session import get_spark

    conf = {
        "spark.driver.memory": ctx.heap,
        # A fixed-size heap with a fixed young generation: eden is fully
        # touched once it has filled, so peak RSS follows retained memory
        # rather than when the collector chose to grow the heap.
        # Compiling at C1 only, the JVM reaches steady code within the first
        # pass; with C2 the short warm passes would time its recompiles.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={ctx.tmp_dir} -Xms{ctx.heap} "
            "-XX:+UseParallelGC -XX:TieredStopAtLevel=1"
        ),
        "spark.local.dir": ctx.local_dir,
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if ctx.trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(ctx.event_dir))
    return get_spark(
        app_name="perfbench", master=f"local[{ctx.cpus}]", extra_conf=conf
    )


def stop_jvm(spark) -> float:
    """Stop the session, then the gateway JVM, and wait for it to exit.
    Returns the JVM's peak resident memory in MB."""
    from pyspark import SparkContext

    pid = spark._jvm.ProcessHandle.current().pid()
    spark.stop()
    peak_mb = vm_hwm_mb(pid)
    gateway = SparkContext._gateway
    if gateway is None:
        return peak_mb
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return peak_mb


def calibrate(spark) -> float:
    """Warm time of a fixed JVM-side sum: a host-speed stamp per run."""
    probe = lambda: spark.range(20_000_000, numPartitions=8).selectExpr(
        "sum(id * 2)"
    ).collect()
    probe()
    start = time.perf_counter()
    probe()
    return time.perf_counter() - start


def run_workload(args) -> int:
    from workloads import WORKLOADS, percentile

    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    ctx = Context(args, run_dir)
    for d in (ctx.tmp_dir, ctx.local_dir, ctx.data_dir):
        os.makedirs(d)
    os.environ["TMPDIR"] = ctx.tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = ctx.local_dir
    import tempfile

    tempfile.tempdir = None
    spark = None
    phases = {}
    clock = time.perf_counter()
    try:
        workload = WORKLOADS[args.workload](ctx)
        workload.prepare()
        phases["prepare_s"] = time.perf_counter() - clock
        if ctx.trace:
            import tracing

            ctx.tracer = tracing.Tracer()
            tracing.install(ctx.tracer)
        setups = []
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            start = time.perf_counter()
            spark = start_session(ctx)
            ctx.spark = spark
            workload.setup(spark)
            setups.append(time.perf_counter() - start)
        calibration = calibrate(spark)
        clock = time.perf_counter()
        if ctx.tracer is not None:
            tracing.add_stream_listener(spark, ctx.tracer)

        ops, passes, failures, pass_cpu = [], [], [], []
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        deadline = time.perf_counter() + args.seconds
        while len(passes) < workload.min_passes or time.perf_counter() < deadline:
            this_pass = []
            cpu_start = cpu_s(jvm_pid) + cpu_s("self")
            for op in workload.pass_ops(len(passes)):
                op["id"] = f"p{len(passes)}o{len(this_pass)}"
                problem = _run_one(ctx, workload, spark, op)
                if problem:
                    failures.append(f"{op['id']} {op.get('entry', op['kind'])}: {problem}")
                ops.append(op)
                this_pass.append(op)
            passes.append(this_pass)
            pass_cpu.append(cpu_s(jvm_pid) + cpu_s("self") - cpu_start)
        pass_s = [sum(op["ms"] for op in p) / 1e3 for p in passes]
        latency = [op["ms"] for p in passes[1:] for op in workload.latency_ops(p)]
        phases["measure_s"] = time.perf_counter() - clock
        extras = workload.extras(spark, ops, passes)
        clock = time.perf_counter()
        peak_rss = stop_jvm(spark) + vm_hwm_mb("self")
        phases["teardown_s"] = time.perf_counter() - clock
        spark = None
        if ctx.tracer is not None:
            jobs = tracing.parse_event_logs(ctx.event_dir)
    finally:
        if spark is not None:
            with contextlib.suppress(Exception):
                stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))

    if ctx.trace:
        layers, spark_per_op = tracing.layer_metrics(ctx.tracer, ops, jobs)
        layers["trace.pass_s"] = statistics.median(pass_s[1:])
        layers["trace.op_p50_ms"] = percentile(latency, 50)
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in metric_units("per_layer").items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(
            os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json"),
            {"ops": ops, "spark_per_op": spark_per_op},
        )
    else:
        values = {
            "setup_s": statistics.median(setups),
            "first_pass_s": pass_s[0],
            "pass_s": statistics.median(pass_s[1:]),
            "op_p50_ms": percentile(latency, 50),
            "peak_rss_mb": peak_rss,
        }
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in metric_units("end_to_end").items()}

    extras.update({
        "failed_frac": len(failures) / len(ops),
        "op_samples": len(latency),
        "setup_runs_s": setups,
        "pass_runs_s": pass_s,
        "pass_cpu_runs_s": pass_cpu,
        "cpus": ctx.cpus,
        "master": f"local[{ctx.cpus}]",
        "driver_heap": ctx.heap,
        "calibration_jvm_sum_s": calibration,
        **phases,
    })
    for problem in failures:
        print(f"FAILED {problem}")
    for key, value in extras.items():
        print(f"{args.workload} {key} {value}")
    result = {
        "correct": not failures,
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": metrics,
    }
    if args.results:
        record = dict(result, workload=args.workload, seed=args.seed,
                      trace=int(args.trace), sizes=workload.sizes, extras=extras,
                      ops=[[op["id"], op.get("entry", op.get("write", op["kind"])),
                            op["ms"]] for op in ops])
        with open(args.results, "a") as fh:
            fh.write(json.dumps(record, default=str) + "\n")
    print(json.dumps(result))
    return 0


def _run_one(ctx, workload, spark, op: dict) -> str | None:
    tracer = ctx.tracer
    if tracer is not None:
        tracer.op = op["id"]
        spark.sparkContext.setJobGroup(f"{op['id']}|op", "op")
    op["start"] = time.time()
    start = time.perf_counter()
    try:
        if tracer is not None:
            with tracer.span("bench.op", kind=op["kind"]):
                result = workload.run_op(spark, op)
        else:
            result = workload.run_op(spark, op)
    except Exception as error:  # an operation that raises counts as failed
        op["ms"] = (time.perf_counter() - start) * 1e3
        op["end"] = time.time()
        return f"raised {type(error).__name__}: {str(error).splitlines()[0][:200]}"
    finally:
        if tracer is not None:
            tracer.op = None
            spark.sparkContext.setJobGroup("bench", "between operations")
    op["ms"] = (time.perf_counter() - start) * 1e3
    op["end"] = time.time()
    return workload.check(op, result)


# ------------------------------------------------------------ all three

# The figures each workload is known by, printed by name under --workload all.
NAMED_METRICS = {
    "repl_interactive": [("setup_s", "s"), ("first_row_s", "s"),
                         ("line_p50_ms", "ms"), ("line_p90_ms", "ms")],
    "pipeline_batch": [("setup_s", "s"), ("first_pass_s", "s"), ("pass_s", "s")],
    "lake_ingest": [("setup_s", "s"), ("commit_p50_ms", "ms"), ("commit_p90_ms", "ms"),
                    ("read_p50_ms", "ms"), ("read_p90_ms", "ms"),
                    ("stream_pass_s", "s"), ("write_amp", "ratio")],
}
COMMON = [("failed_frac", "ratio"), ("peak_rss_mb", "MB")]


def run_all(args) -> int:
    """Every workload, untraced then traced; named metrics and overhead."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    results = args.results or os.path.join(out_dir, f"all-{int(time.time())}.jsonl")
    ok = True
    for name in NAMED_METRICS:
        records = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace), "--size", args.size, "--results", results]
            if name == "repl_interactive" and not trace:
                cmd.append("--cold-leg")
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if proc.returncode != 0:
                print(proc.stdout + proc.stderr[-3000:], file=sys.stderr)
                return proc.returncode
            with open(results) as fh:
                records[trace] = json.loads(fh.readlines()[-1])
        plain, traced = records[0], records[1]
        ok &= plain["correct"] and traced["correct"]
        values = {k: v["value"] for k, v in plain["metrics"].items()}
        values.update(plain["extras"])
        for metric, unit in NAMED_METRICS[name] + COMMON:
            print(f"{name:17s} {metric:15s} {values[metric]:12.4f} {unit}")
        overhead = traced["metrics"]["trace.pass_s"]["value"] - values["pass_s"]
        print(f"{name:17s} {'trace_overhead_s':15s} {overhead:12.4f} s "
              f"(traced minus untraced pass_s)")
    print(f"results: {os.path.relpath(results, ROOT)}")
    return 0 if ok else 1


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=8)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--size", choices=("full", "tiny"), default="full")
    parser.add_argument("--results", help="append the full record to this file")
    parser.add_argument("--cold-leg", action="store_true",
                        help="repl_interactive: also time a cold REPL process")
    args = parser.parse_args()
    # A terminated run still stops its JVM and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in ("simple_query_engine_spark/__init__.py",
                           "__spark_entry__.py", "tools/check_correctness.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    return run_workload(args)


if __name__ == "__main__":
    raise SystemExit(main())
