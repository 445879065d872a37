"""Benchmark of the engine's batch flows and gated query registry.

    python3 perfbench/run.py --workload fetch_load|merge_upsert|query_mix \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  One closed-loop client in one Python process
on ``local[k]`` (k = min(the workload's cores, nproc)).  Set-up starts the
session, builds the seeded fixtures and runs untimed warm-up iterations,
all but the first pinned with the Spark JVM to k CPUs; then iterations run
back to back for ``--seconds`` (at least ``MIN_ITERATIONS`` of them), and
each one's output is checked.  The last line of standard output is one JSON
object: end-to-end metrics with ``--trace 0``, per-layer metrics (from
spans around each public call) with ``--trace 1``.  Everything the run
writes stays under ``.perfbench-runs/``; its artifact (environment, sizes,
every sample, checks and spans) is kept in ``.perfbench-runs/artifacts/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "datapipeline_omnichanneltobigquery_spark"
DRIVER_MEM = "1g"
MIN_ITERATIONS = 4
# The Spark JVM compiles with C1 only, and early: C2, or C1 at its default
# thresholds, is still speeding up after 10-15 iterations, so timed
# iterations would fall on a slope whose position depends on how busy the
# host was.  C1's default 48m code cache fills after about ten query passes
# and is flushed, and the passes that recompile run up to 50 % slower, so
# the cache is larger and never flushed.  A fixed heap and two GC threads
# keep the JVM's own threads from competing with the measured ones.
JVM_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:Tier3InvocationThreshold=4"
    " -XX:Tier3MinInvocationThreshold=2 -XX:Tier3CompileThreshold=40"
    " -XX:Tier3BackEdgeThreshold=500"
    " -XX:ReservedCodeCacheSize=256m -XX:-UseCodeCacheFlushing"
    f" -Xms{DRIVER_MEM} -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "spark_jobs": "count",
    "live_heap_mb": "MB",
    "succeeded_frac": "fraction",
}


def per_layer_units(mix: tuple[str, ...]) -> dict[str, str]:
    """Every per-layer metric name and unit; a layer a workload leaves idle
    reports 0."""
    units = {
        "session.start_s": "s",
        "session.jvm_hwm_mb": "MB",
        "spark.gc_s": "s",
        "sources.page_calls": "count",
        "sources.calls_per_page": "count",
        "sources.fetch_s": "s",
        "sources.scan_s": "s",
        "sources.scan_tasks": "count",
        "normalize.cast_s": "s",
        "normalize.sort_s": "s",
        "normalize.sort_jobs": "count",
        "normalize.sort_shuffle_bytes": "bytes",
        "catalog.write_s": "s",
        "catalog.write_jobs": "count",
        "catalog.verify_s": "s",
        "catalog.verify_scans": "count",
        "catalog.bytes_written": "bytes",
        "catalog.files_written": "count",
        "upsert.s": "s",
        "upsert.jobs": "count",
        "upsert.exchanges": "count",
        "upsert.broadcast": "count",
        "plans.build_s": "s",
        "plans.build_jobs": "count",
        "plans.exec_s": "s",
        "plans.exec_jobs": "count",
        "plans.shuffle_bytes": "bytes",
        "tables.schema_jobs": "count",
        "spark.tasks": "count",
        "spark.stages": "count",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.shuffle_write_bytes": "bytes",
        "trace.run_s": "s",
        "trace.overhead_s": "s",
        "trace.accounted_s": "s",
    }
    for q in mix:
        units.update({f"query.{q}.build_s": "s", f"query.{q}.exec_s": "s", f"query.{q}.jobs": "count"})
    return units


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(samples: dict[str, list[float]], units: dict[str, str]) -> dict[str, dict]:
    out = {}
    for name, unit in units.items():
        xs = samples.get(name) or [0]
        q1, q3 = quartiles(xs)
        out[name] = {"value": statistics.median(xs), "unit": unit, "q1": q1, "q3": q3, "n": len(xs)}
    return out


def prepare_env(work_dir: str) -> None:
    """Pin every path Spark and its workers write to inside ``work_dir``
    and the JVM heap to a size the host can hold; set before the JVM
    starts."""
    tmp, local = os.path.join(work_dir, "tmp"), os.path.join(work_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}"),
            "pyspark-shell",
        ]
    )


def shutdown(spark) -> None:
    """Stop Spark and wait for the Spark JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_times() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host so far, from ``/proc/stat``;
    (0, 0) where there is none.  Steal is the time a virtual machine's CPUs
    waited for the hypervisor: a busy host, not a slower program."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks[:8])


def pin_tree(cpus: list[int]) -> None:
    """Pin every thread of this process and of its descendants (the Spark
    JVM and its Python workers) to ``cpus``; threads and processes they
    start later inherit the pinning."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue  # the process ended meanwhile
            children.setdefault(ppid, []).append(int(entry))
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                os.sched_setaffinity(int(tid), cpus)
        except OSError:
            continue  # the process or thread ended meanwhile


def run_iteration(wl, ctx, traced: bool) -> tuple[object, str | None]:
    """One iteration plus its check; a raised error fails the iteration."""
    try:
        it = wl.iterate(ctx, traced)
    except Exception:  # measured boundary: report and count, keep the run going
        traceback.print_exc()
        return None, "iteration raised"
    spans = [s for root in it.roots for s in ctx.tracer.subtree(root)]
    ctx.tracer.collect_jobs(spans, stages=traced)
    it.jobs = sum(len(s.jobs) for s in ctx.tracer.subtree(it.roots[0]))
    return it, wl.check(ctx, it)


def measure(wl, ctx, probe, seconds: int, trace: bool, pin: list[int]) -> dict:
    warm_errors, warm_s = [], []
    for i in range(wl.warmups):
        if i == 1:
            # The session start and the cold first iteration, mostly class
            # loading and JIT compilation, run on every CPU; the rest on
            # ``pin``.  On a virtual machine a hand-off to an idle CPU waits
            # until the host runs that CPU again; fewer CPUs, fewer waits.
            pin_tree(pin)
        it, err = run_iteration(wl, ctx, False)
        warm_s.append(it.seconds if it is not None else None)
        if err:
            warm_errors.append(err)
    setup_s = time.perf_counter() - PROCESS_START

    # untraced iterations for --seconds (half of it when traced iterations
    # follow), then as many traced ones as untraced
    samples: dict[str, list[float]] = {}
    untraced, traced, errors = [], [], []
    steal0, total0 = cpu_times()
    min_n = (MIN_ITERATIONS + 1) // 2 if trace else MIN_ITERATIONS
    until = time.perf_counter() + (seconds / 2 if trace else seconds)
    while len(untraced) < min_n or time.perf_counter() < until:
        it, err = run_iteration(wl, ctx, False)
        untraced.append(it)
        errors.append(err)
    steal1, total1 = cpu_times()
    for _ in range(len(untraced) if trace else 0):
        gc0 = probe.gc_seconds()
        it, err = run_iteration(wl, ctx, True)
        traced.append(it)
        errors.append(err)
        if it is not None:
            layer = wl.layers(ctx, it)
            layer["spark.gc_s"] = probe.gc_seconds() - gc0
            layer["trace.run_s"] = it.seconds
            for k, v in layer.items():
                samples.setdefault(k, []).append(v)

    ok_runs = [it for it, err in zip(untraced, errors) if it is not None and not err]
    for it in ok_runs:
        samples.setdefault("run_s", []).append(it.seconds)
        samples.setdefault("rows_per_s", []).append(wl.rows / it.seconds)
        samples.setdefault("spark_jobs", []).append(it.jobs)
    attempted = len(errors)
    failed = sum(1 for e in errors if e)
    result = {
        "attempted": attempted,
        "failed": failed,
        "warmup_errors": warm_errors,
        "warmup_s": warm_s,
        "errors": [e for e in errors if e],
        "samples": samples,
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }
    if trace:
        untraced_s = statistics.median(samples.get("run_s") or [0.0])
        samples["trace.overhead_s"] = [t - untraced_s for t in samples.get("trace.run_s", [])]
        samples["session.jvm_hwm_mb"] = [probe.jvm_hwm_mb()]
    else:
        samples["live_heap_mb"] = [probe.live_heap_mb()]
        samples["setup_s"] = [setup_s]
        samples["succeeded_frac"] = [(attempted - failed) / attempted]
    # exact-count guard: these counts must not vary between iterations
    result["guard"] = {
        name: sorted(set(samples[name]))
        for name in ("spark_jobs", "sources.page_calls", "tables.schema_jobs")
        if name in samples
    }
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"perfbench: {PACKAGE}/ not found beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import MIX, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    runs_dir = os.path.join(ROOT, ".perfbench-runs")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work_dir = os.path.join(runs_dir, tag)
    os.makedirs(work_dir)
    prepare_env(work_dir)
    load_at_start = os.getloadavg()
    cpus = sorted(os.sched_getaffinity(0))
    nproc = len(cpus)
    wl = WORKLOADS[args.workload]()
    k = min(wl.cores, nproc)

    import pyspark

    from datapipeline_omnichanneltobigquery_spark.session import get_spark
    from perfbench.sparkstats import SparkProbe, Tracer

    warehouse = os.path.join(work_dir, "warehouse")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{k}]",
        shuffle_partitions=2 * k,
        warehouse_dir=warehouse,
    )
    session_start_s = time.perf_counter() - t0
    try:
        probe = SparkProbe(spark)
        tracer = Tracer(probe)
        ctx = Ctx(spark, tracer, args.seed, work_dir, warehouse)
        t0 = time.perf_counter()
        wl.setup(ctx)
        fixture_s = time.perf_counter() - t0
        res = measure(wl, ctx, probe, args.seconds, bool(args.trace), cpus[:k])
        versions = probe.versions()
    finally:
        shutdown(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    samples = res["samples"]
    if args.trace:
        samples["session.start_s"] = [session_start_s]
        units = per_layer_units(MIX)
    else:
        units = END_TO_END_UNITS
    metrics = summarize(samples, units)
    unsteady = {n: v for n, v in res["guard"].items() if len(v) > 1}
    correct = res["failed"] == 0 and not res["warmup_errors"]
    artifact = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "k": k,
        "nproc": nproc,
        "pinned_cpus": cpus[:k],
        "load_at_start": load_at_start,
        "steal_frac": res["steal_frac"],
        "driver_mem": DRIVER_MEM,
        "jvm_options": JVM_OPTIONS,
        "versions": {
            **versions,
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
        },
        "sizes": wl.sizes(),
        "warmups": wl.warmups,
        "setup_parts_s": {
            "session": session_start_s,
            "fixtures": fixture_s,
            "warmups": res["warmup_s"],
        },
        "attempted": res["attempted"],
        "failed": res["failed"],
        "errors": res["errors"],
        "warmup_errors": res["warmup_errors"],
        "count_guard": res["guard"],
        "metrics": metrics,
        "samples": samples,
        "spans": tracer.dump() if args.trace else [],
    }
    os.makedirs(os.path.join(runs_dir, "artifacts"), exist_ok=True)
    with open(os.path.join(runs_dir, "artifacts", f"{tag}.json"), "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} local[{k}] nproc={nproc} "
          f"load={load_at_start[0]:.2f} steal={res['steal_frac']:.3f} sizes={json.dumps(wl.sizes())}")
    for name, m in metrics.items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']:8s} q1={m['q1']:.6g} q3={m['q3']:.6g} n={m['n']}")
    print(f"check: {res['attempted'] - res['failed']}/{res['attempted']} iterations correct"
          + "".join(f"\n  failed: {e}" for e in res["warmup_errors"] + res["errors"]))
    print("exact-count guard: " + ("ok " + json.dumps(res["guard"]) if not unsteady
                                   else "VARIES " + json.dumps(unsteady)))
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": m["value"], "unit": m["unit"]} for n, m in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
