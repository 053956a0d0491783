"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Runs one workload (see perfbench/README.md) against the engine package
in the enclosing checkout and prints, as the last line of standard
output, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics
named in BENCHMARK.json; with ``--trace 1`` they are its per-layer
metrics, from a run that measures the first half of ``--seconds``
untraced and the second half traced, so the difference between the
two halves is the tracing overhead.

``--smoke`` runs every workload once at toy size in one process, both
untraced and traced, and checks that every metric name is produced.

Everything the run writes stays under ``.bench_work/`` (removed at
exit) and ``.bench_out/`` (span dumps of traced runs) in the checkout.
"""

# The clock starts before any import: set-up time includes the
# interpreter's imports of pyspark, pyarrow and duckdb.
import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "retail_sales_analysis_etl_bi_project_spark"
CPUS = 4
WORKLOADS = ("bi_dashboard", "stream_ingest")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _environment(work: str) -> None:
    """Pin the engine's deployment settings and keep every scratch file
    of Spark, the JVM and Python inside ``work``."""
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine's own defaults: 8 GB driver heap, ANSI off
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_ANSI", None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # JIT of every JVM this process starts (Spark's launcher and the
    # driver): the default tiered compiler, with the top tier (C2)
    # compiling after a tenth of its usual invocation and loop counts.
    # A run lasts about a minute in a fresh JVM, and the dashboard's
    # latency kept falling for minutes after warm-up (by about a third
    # over the first 100 s); sooner C2 code puts the timed window nearer
    # the engine's warm speed.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join((
        "-XX:Tier4InvocationThreshold=500",
        "-XX:Tier4MinInvocationThreshold=60",
        "-XX:Tier4CompileThreshold=1500",
        "-XX:Tier4BackEdgeThreshold=4000",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
    ))
    sys.path.insert(0, ROOT)


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def _workload_class(name: str):
    if name == "bi_dashboard":
        from bi import BiDashboard as cls
    else:
        from stream import StreamIngest as cls
    return cls


class Session:
    """The Spark session plus the registry handles, started once per
    process; ``close`` stops Spark and waits for the JVM to exit."""

    def __init__(self, work: str, timings: dict[str, float]):
        t = time.perf_counter()
        from retail_sales_analysis_etl_bi_project_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=_spark_conf(work))
        self.spark.sparkContext.setLogLevel("ERROR")
        timings["session.get_spark_s"] = time.perf_counter() - t

        t = time.perf_counter()
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        timings["plans.registry_import_s"] = time.perf_counter() - t

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def run_workload(sess: Session, name: str, seed: int, seconds: float, trace: bool,
                 smoke: bool, work: str, timings: dict[str, float]):
    """Set up, warm up and measure one workload. Returns the end-to-end
    metric values, the per-layer values (traced runs only; else None),
    the measured Outcome and the tracer."""
    from common import Ctx
    from probes import SparkCounters, Tracer, median, tail

    tracer = Tracer(trace)
    ctx = Ctx(
        spark=sess.spark, queries=sess.queries, oracles=sess.oracles,
        work=os.path.join(work, name), seed=seed, smoke=smoke,
        tracer=tracer, counters=SparkCounters(sess.spark),
    )
    os.makedirs(ctx.work, exist_ok=True)
    wl = _workload_class(name)(ctx)

    with tracer.span("bench.inputs", "setup"):
        wl.setup()
    t = time.perf_counter()
    with tracer.span("session.warmup", "setup"):
        wl.warmup()
    timings["session.warmup_s"] = time.perf_counter() - t
    setup_s = time.perf_counter() - T0

    counters = ctx.counters
    tracer.phase = "measure"
    if trace:
        # the untraced half: same code with spans and counters off
        seconds /= 2
        tracer.enabled = False
        base = wl.measure(seconds)
        tracer.enabled = True
    mark = counters.job_mark() if trace else -1
    gc0 = counters.gc_ms()
    out = wl.measure(seconds)
    gc_ms = counters.gc_ms() - gc0
    if hasattr(wl, "teardown"):
        wl.teardown()

    e2e = {"setup_s": setup_s, "work_per_s": out.work_per_s, "op_ms": out.op_ms}
    if not trace:
        return e2e, None, out, tracer

    ops = max(1, out.attempted - out.failed)
    jobs, stages, tasks = counters.jobs_since(mark)
    layer = dict(timings)
    layer.update(out.layer)
    tail_ms, tail_pct = tail(out.lat_ms)
    layer.update({
        "op.samples": float(len(out.lat_ms)),
        "op.p50_ms": median(out.lat_ms),
        "op.tail_ms": tail_ms,
        "op.tail_pct": float(tail_pct),
        "spark.jobs_per_op": jobs / ops,
        "spark.stages_per_op": stages / ops,
        "spark.tasks_per_op": tasks / ops,
        "jvm.gc_ms": gc_ms / ops,
        "trace.overhead_ms": out.op_ms - base.op_ms,
        "jvm.peak_rss_mb": counters.jvm_peak_rss_mb(),
        "python.peak_rss_mb": counters.python_peak_rss_mb(),
        "trace.spans_per_op": sum(1 for s in tracer.spans if s[5] == "measure") / ops,
    })
    for lyr, secs in tracer.self_time_by_layer().items():
        layer[f"self_ms.{lyr}"] = 1000 * secs / ops
    # the untraced half's operations are checked too
    out.attempted += base.attempted
    out.failed += base.failed
    out.errors = base.errors + out.errors
    return e2e, layer, out, tracer


def _metrics(spec_metrics: list[dict], values: dict[str, float]) -> dict:
    """Keep exactly the metrics BENCHMARK.json names; a per-layer metric
    of a layer this workload never calls reads 0."""
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec_metrics
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    spec = _spec()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload or 'smoke'}-{os.getpid()}")
    _environment(work)
    sess = None
    try:
        timings: dict[str, float] = {}
        sess = Session(work, timings)
        if args.smoke:
            return smoke(sess, spec, work, timings)
        e2e, layer, out, tracer = run_workload(
            sess, args.workload, args.seed, args.seconds, bool(args.trace),
            False, work, timings,
        )
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        for err in out.errors:
            print(f"perfbench: {err}", file=sys.stderr)
        metrics = (
            _metrics(spec["per_layer"], layer)
            if args.trace
            else _metrics(spec["end_to_end"], e2e)
        )
        print(json.dumps({
            "correct": out.failed == 0 and out.attempted > 0,
            "attempted": out.attempted,
            "failed": out.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if sess is not None:
            sess.close()
        shutil.rmtree(work, ignore_errors=True)


def smoke(sess: Session, spec: dict, work: str, timings: dict[str, float]) -> int:
    """Every workload once at toy size, untraced then traced."""
    ok = True
    want_e2e = {m["name"] for m in spec["end_to_end"]}
    for name in WORKLOADS:
        for trace in (False, True):
            e2e, layer, out, _ = run_workload(
                sess, name, 1, 0.0, trace, True, work, dict(timings)
            )  # seconds=0: every workload runs its minimum of one operation
            values = layer if trace else e2e
            problems = [f"missing {m}" for m in want_e2e if m not in e2e]
            if trace:
                owned = _workload_class(name).layer_metrics
                problems += [f"missing {m}" for m in owned if m not in layer]
                declared = {m["name"] for m in spec["per_layer"]}
                problems += [f"undeclared {m}" for m in layer if m not in declared]
            status = "ok" if not problems and not out.failed else "FAIL"
            ok &= status == "ok"
            print(f"{status} {name} trace={int(trace)} attempted={out.attempted} "
                  f"failed={out.failed} problems={sorted(problems)}")
            for err in out.errors:
                print(f"  {err}")
            for k, v in sorted(values.items()):
                print(f"  {k} = {v:.4f}")
    print("smoke", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
