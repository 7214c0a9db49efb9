"""Benchmark entry point.

    python3 perfbench/run.py --workload kql_analytics --seed 1 \\
        --seconds 16 --trace 0

Run from the root of a source checkout. One run generates the workload's
inputs from ``--seed``, starts the engine on 2 local cores, runs an
untimed warm-up pass, then times about ``--seconds`` worth of whole
passes (a fixed count, see PASS_S). Every op of every pass, the warm-up
pass included, is checked against an independent answer after its timed
window. The last line of stdout is the result object; everything else
goes to stderr. Per-run detail (per-op percentiles, py4j counts, spans)
is written under ``.perfbench_out/``.

With ``--trace 1`` the run enables Spark's event log, records spans
around every engine call, warms up with two passes and times three,
traced, untraced, traced, so that the tracing overhead is measured in
the same run and a steady drift between passes (the JIT's) does not
count as overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "azure_kusto_parquet_conv_spark"
CPUS = 2
#: A second warm-up pass does not fit the time budget: see RATIONALE.md.
#: A traced run warms up once more: its T U T comparison cancels a steady
#: drift, and the drop from the first pass after the cold one to the next
#: is steeper than the drift after it.
WARMUP_PASSES = 1
#: Nominal seconds of one timed pass on a 4-core host. A run times
#: ``round(--seconds / PASS_S)`` passes, at least MIN_PASSES, so every run
#: times the same passes whatever the host's load: pass times keep
#: falling for several passes (JIT), so a count that depended on the
#: clock would make a slow run's median slower still.
PASS_S = 8.0
MIN_PASSES = 2
#: When the host is so busy that the next pass would end after
#: RUN_LIMIT_S, the run stops timing, after at least one pass (two when
#: traced). Undisturbed runs end within 80 s; the time budget of a full
#: comparison has no room for slower ones, and a run must end within 180 s.
RUN_LIMIT_S = 100.0
#: largest share of an op's wall time that may fall outside every layer
#: span before the trace accounting check fails
UNATTRIBUTED_LIMIT = 0.10

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s",
              "cpu_s": "s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["kql_analytics", "llm_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str, trace: bool) -> str:
    """Point every scratch directory of Spark, the JVM and Python at the
    work directory, and pass the event-log confs for a traced run."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "events")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = {
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + events,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ.update({
        "SPARK_LAUNCHER_OPTS": jvm_opts,  # the JVM that builds the command
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        + " pyspark-shell",
        "OMP_NUM_THREADS": "1",
    })
    import tempfile
    tempfile.tempdir = tmp
    return events


def percentile_report(xs: list[float]) -> dict:
    """Median plus the highest of p90/p99/p99.9 that has at least ten
    samples beyond it (nearest rank), with the sample count."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "median_s": statistics.median(xs)}
    for p in (99.9, 99.0, 90.0):
        if n * (1 - p / 100) >= 10:
            out[f"p{p:g}_s"] = xs[min(n - 1, math.ceil(p / 100 * n) - 1)]
            break
    return out


def clear_caches(spark) -> int:
    """Count the RDDs still persisted, then drop them and Spark's
    Dataset cache, so the next op cannot time a cache hit."""
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    n = rdds.size()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    return n


class Runner:
    def __init__(self, spark, ctx, ops, tracer):
        self.spark, self.ctx, self.ops, self.tracer = spark, ctx, ops, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run_op(self, op, traced: bool) -> dict:
        from spans import CpuMeter
        from workloads import CheckFailed, plan_ms

        ctx, sc = self.ctx, self.spark.sparkContext
        rec = {"op": op.name, "persisted_rdds": clear_caches(self.spark),
               "plan_s": 0.0}
        gid = f"{ctx.pass_no}:{op.name}"
        if traced:
            self.tracer.op = gid
            sc.setJobGroup(gid, op.name)
        err = out = None
        with CpuMeter() as cpu:
            t0 = time.perf_counter()
            try:
                with ctx.tr.span(op.name):
                    out = op.run(ctx)
            except Exception as e:  # an op failure is a result, not a crash
                err = f"{op.name}: {type(e).__name__}: {e}"
            wall = time.perf_counter() - t0
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if err is None:
            try:
                if traced:
                    rec["plan_s"] = plan_ms(out) / 1e3
                op.check(ctx, out)
            except Exception as e:  # a check that crashes fails the op too
                err = (str(e) if isinstance(e, CheckFailed) else
                       f"{op.name} check: {type(e).__name__}: {e}")
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(err.splitlines()[0][:300])
        rec.update(wall=wall, cpu_s=cpu.cpu_s, exo_s=cpu.exo_s,
                   ok=err is None)
        return rec

    def run_pass(self, traced: bool) -> dict:
        from spans import NullTracer

        self.ctx.tr = self.tracer if traced else NullTracer()
        recs = [self.run_op(op, traced) for op in self.ops]
        p = {"pass": self.ctx.pass_no, "traced": traced, "ops": recs,
             "wall": sum(r["wall"] for r in recs),
             "cpu_s": sum(r["cpu_s"] for r in recs),
             "exo_s": sum(r["exo_s"] for r in recs),
             "rpc": dict(self.ctx.rpc)}
        self.ctx.pass_no += 1
        shutil.rmtree(os.path.join(self.ctx.work, "out"), ignore_errors=True)
        return p


def install_span_wrappers(ctx) -> None:
    """Traced runs: spans around the scans the engine opens internally."""
    import importlib

    for mod, attr, name in (
            (f"{PKG}.operators.convert", "read_parquet",
             "sources.read_parquet"),
            (f"{PKG}.kql", "load_table", "sources.load_table")):
        m = importlib.import_module(mod)
        fn = getattr(m, attr)

        def wrapped(*a, _fn=fn, _name=name, **kw):
            with ctx.tr.span(_name):
                return _fn(*a, **kw)
        setattr(m, attr, wrapped)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: {PKG}/ not found under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    events = configure_env(work, bool(args.trace))
    try:
        return bench(args, work, out_dir, events)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: str, out_dir: str, events: str) -> int:
    import datagen
    import layers
    from spans import Py4jCounter, Tracer
    from workloads import OPS, Ctx

    t0 = time.perf_counter()
    inputs = datagen.generate(args.workload, args.seed,
                              os.path.join(work, "input"))
    datagen_s = time.perf_counter() - t0
    input_bytes = sum(
        os.path.getsize(os.path.join(work, "input", f))
        for f in os.listdir(os.path.join(work, "input")))

    t0 = time.perf_counter()
    from azure_kusto_parquet_conv_spark import get_spark
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    phases = {"session_end": time.perf_counter() - T_START}

    try:
        tracer = Tracer() if args.trace else None
        ctx = Ctx(spark=spark, work=work, inputs=inputs, tr=None)
        if args.trace:
            ctx.py4j = Py4jCounter(spark)
            install_span_wrappers(ctx)
        runner = Runner(spark, ctx, OPS[args.workload](inputs), tracer)
        warm = [runner.run_pass(traced=False)
                for _ in range(WARMUP_PASSES + args.trace)]
        warmup_s = warm[0]["wall"]
        phases["warmup_end"] = time.perf_counter() - T_START
        if args.trace:
            # both kinds have the same mean position
            kinds = [True, False, True]
        else:
            kinds = [False] * max(MIN_PASSES, round(args.seconds / PASS_S))
        timed = []
        for t in kinds:
            if (len(timed) >= (2 if args.trace else 1)
                    and time.perf_counter() - T_START + timed[-1]["wall"]
                    > RUN_LIMIT_S):
                print(f"perfbench: {len(timed)} of {len(kinds)} passes "
                      f"timed, to end within {RUN_LIMIT_S:.0f} s",
                      file=sys.stderr)
                break
            timed.append(runner.run_pass(traced=t))
        phases["timed_end"] = time.perf_counter() - T_START
    finally:
        stop_spark(spark)
    phases["stop_end"] = time.perf_counter() - T_START

    setup = {"setup.datagen_s": datagen_s,
             "session.start_s": session_s, "setup.warmup_s": warmup_s,
             "setup.input_bytes": input_bytes}
    # from start to the first timed pass, warm-up checks included
    setup_s = phases["warmup_end"]
    ops = [op.name for op in runner.ops]
    per_op = {name: percentile_report(
                  [p["ops"][i]["wall"] for p in timed])
              for i, name in enumerate(ops)}
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall"] for p in timed),
        "op_geomean_s": math.exp(statistics.fmean(
            math.log(max(v["median_s"], 1e-6)) for v in per_op.values())),
        "cpu_s": statistics.median(p["cpu_s"] for p in timed),
    }
    detail = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cpus": CPUS,
              "input_bytes": input_bytes, "passes": len(timed),
              "pass_walls_s": [p["wall"] for p in warm + timed],
              "warmup_op_s": {r["op"]: r["wall"] for r in warm[0]["ops"]},
              "end_to_end": e2e, "setup": setup, "per_op": per_op,
              "exo_cpu_frac": [layers.exo_frac(p) for p in timed],
              "phases_s": phases, "errors": runner.errors}
    if args.trace:
        metrics = layers.per_layer(runner, timed, tracer, events, setup,
                                   detail)
        tracer.dump(os.path.join(
            out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
        if metrics["trace.unattributed_frac"] > UNATTRIBUTED_LIMIT:
            runner.errors.append(
                f"trace: {metrics['trace.unattributed_frac']:.3f} of an "
                f"op's wall time is outside every layer span")
        units = layers.UNITS
    else:
        metrics, units = e2e, END_TO_END
    with open(os.path.join(
            out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
            "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for e in runner.errors:
        print("perfbench FAILED:", e, file=sys.stderr)
    print(json.dumps({
        "correct": not runner.errors,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
