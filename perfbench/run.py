"""Benchmark command: one workload, one seed, one process.

    python3 perfbench/run.py --workload flagship_small --seed 1 --seconds 5 --trace 0

Run from the repository root. The process builds a Spark session sized to
the host (``local[<cores>]``), generates the workload's inputs from the
seed, runs the workload's job once cold and then in a closed loop (each
iteration starts after the previous one finished) for ``--seconds`` and
at least ``MIN_WARM`` iterations, and checks every output. Jobs and set-up
are timed in CPU seconds of the process tree, scaled by the CPU time of a
fixed JVM program run three times in between (see ``cpuacct.py``); their
wall times go to the side file. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` one more iteration runs
with spans and Spark's event log on, and the metrics are the per-layer ones.
Spans, the reduced event log and every figure of the run go to a side file
under ``.perfbench/results/``. Scratch data lives under ``.perfbench/`` and
is deleted when the run ends.
"""

import time

_T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import cpuacct  # noqa: E402

PACKAGE = "opentelemetry_collector_spark"
WORKLOAD_NAMES = ("flagship_small", "otlp_wire")
# Warm iterations every run measures. The JIT is still warming over them,
# so each costs less CPU than the one before: the count is fixed, and
# ``--seconds`` is chosen short enough that it never adds one.
MIN_WARM = 3
# The time metrics are scaled to a host whose cores run ``Ref.java`` in
# this many CPU seconds; it took 2.0-3.7 on the 4-core host it was tuned on.
REF_CPU_S = 3.5
# A run must end well inside three minutes; no optional iteration starts
# after this much wall time.
DEADLINE_S = 120.0


def _process_age_s() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK"), 0.0)


_PRE_S = _process_age_s()


def _since_start() -> float:
    return _PRE_S + time.monotonic() - _T0


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _wait_gone(pids: set[int], timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _per_layer_units(root: str) -> dict[str, str]:
    """Per-layer metric name -> unit, as ``BENCHMARK.json`` lists them."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _fit_host(root: str, run_dir: str) -> dict:
    """Session settings for this host, through the program's own
    environment knobs: all cores, one shuffle partition per core, a
    driver heap of a quarter of memory (at most 4 GB), and every scratch
    directory inside the run directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_gb = max(1, min(4, mem_kb // (4 << 20)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_SHUFFLE": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p),
    })
    return {"cores": cores, "driver_mem_gb": driver_gb, "mem_total_gb": mem_kb / (1 << 20)}


def _shutdown(spark) -> None:
    """Stop the session, end the JVM and every process it started, and
    wait for all of them."""
    from pyspark import SparkContext

    procs = cpuacct.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    # mark the client closed first, so late finalizers of Java object
    # handles do not try to reach the exiting JVM
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait()
    _wait_gone(procs, 30.0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    host = _fit_host(root, run_dir)
    sys.path.insert(0, root)
    try:
        return _run(args, root, run_dir, results_dir, host)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, root: str, run_dir: str, results_dir: str, host: dict) -> int:
    import spans as tr
    import workloads as wls
    from opentelemetry_collector_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
    }
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     # one plain JSON-lines file, readable without Spark
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    t = time.monotonic()
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    get_spark_s = time.monotonic() - t
    setup_wall_s = _since_start()
    setup_cpu_s = cpuacct.tree_cpu_s(os.getpid())
    spark.sparkContext.setLogLevel("ERROR")

    try:
        wl = wls.WORKLOADS[args.workload](spark, run_dir, args.seed)
        t = time.monotonic()
        wl.prepare()
        prepare_s = time.monotonic() - t
        refs = [cpuacct.reference_cpu_s()]
        tracer = tr.Tracer(spark, enabled=False)
        attempted = failed = 0
        errors: list[str] = []
        timed: list[dict] = []
        jvm_pid = spark.sparkContext._gateway.proc.pid

        def one():
            """Run one job and check it; return its output (None if it
            raised) and its wall time. Its wall, CPU and stolen seconds
            are appended to ``timed``."""
            nonlocal attempted, failed
            attempted += 1
            cpu0, steal0 = cpuacct.tree_cpu_s(os.getpid()), cpuacct.steal_s()
            t0 = time.monotonic()
            try:
                out = wl.job(tracer)
            except Exception:
                out = None
                failed += 1
                errors.append(traceback.format_exc())
            wall = time.monotonic() - t0
            timed.append({"wall_s": wall,
                         "cpu_s": cpuacct.tree_cpu_s(os.getpid()) - cpu0,
                         "steal_s": cpuacct.steal_s() - steal0})
            if out is None:
                return None, wall
            errs = wl.check(out)
            if errs:
                failed += 1
                errors.extend(errs)
            return out, wall

        out, _ = one()
        # after set-up and the cold job, the same work in every run
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        if out is not None:
            wl.cleanup(out)
        refs.append(cpuacct.reference_cpu_s())
        for _ in range(wl.WARMUP):
            out, _ = one()
            if out is not None:
                wl.cleanup(out)
        warm_from = len(timed)
        warm: list[float] = []
        sink = (0, 0)
        loop_t0 = time.monotonic()
        while (len(warm) < MIN_WARM
               or (time.monotonic() - loop_t0 < args.seconds
                   and _since_start() < DEADLINE_S)):
            out, wall = one()
            warm.append(wall)
            if out is not None:
                sink = wl.sink_stats(out)
                wl.cleanup(out)
        refs.append(cpuacct.reference_cpu_s())

        per_layer, table, span_rows = {}, None, []
        if args.trace:
            tracer.enabled = True
            wl.instrument(tracer)
            try:
                failed_before = failed
                with tracer.trace("job"):
                    out, traced_wall = one()
            finally:
                tracer.unwrap()
                tracer.enabled = False
            # the untraced neighbours on both sides cancel the warm-up drift
            # out of the tracing overhead
            untraced_wall = warm[-1]
            if _since_start() < DEADLINE_S:
                after, after_wall = one()
                if after is not None:
                    wl.cleanup(after)
                untraced_wall = (warm[-1] + after_wall) / 2
            tracer.enabled = True
            breakdown, errs = wl.breakdown(tracer)
            if errs is not None:
                attempted += 1
                failed += bool(errs)
                errors.extend(errs)
    finally:
        _shutdown(spark)

    units = _per_layer_units(root) if args.trace else {}
    attribution = None
    if args.trace and out is not None:
        reduced = tr.reduce_event_log(tr.read_event_log(log_dir))
        job_spans = tracer.spans_of("job")
        root_span = out["root"]
        per_layer = dict.fromkeys(units, 0)
        per_layer["session.get_spark_s"] = get_spark_s
        per_layer.update(breakdown)
        try:
            attribution = tr.check_attribution(reduced, job_spans, root_span, traced_wall)
            layer_m, table = wl.layers(tracer, out, reduced)
        except ValueError as e:
            failed = max(failed, failed_before + 1)
            errors.append(str(e))
            layer_m = {}
        per_layer.update(layer_m)
        engine = tr.engine_totals(reduced, {s.id for s in job_spans},
                                  root_span.duration, host["cores"])
        per_layer.update({f"engine.{k}": v for k, v in engine.items()})
        per_layer["trace.overhead_s"] = traced_wall - untraced_wall
        jobs = tr.jobs_by_span(reduced)
        st = tr.self_times(tracer.spans)
        span_rows = [
            {"id": s.id, "trace": s.trace, "name": s.name, "parent": s.parent,
             "start": s.start - _T0, "end": s.end - _T0, "self_s": st[s.id],
             "jobs": jobs.get(s.id, 0)}
            for s in tracer.spans
        ]
        wl.cleanup(out)
    elif args.trace:
        per_layer = dict.fromkeys(units, 0)

    # timed[0] is the cold job, then come the warm-up jobs and the warm loop
    warm_cpu = [j["cpu_s"] for j in timed[warm_from:warm_from + len(warm)]]
    # CPU seconds on a host whose cores run Ref.java in REF_CPU_S
    scale = REF_CPU_S / statistics.mean(refs)
    e2e = {
        "turns_per_cpu_s": (wl.turns * len(warm_cpu) / (sum(warm_cpu) * scale), "1/s"),
        "first_run_cpu_s": (timed[0]["cpu_s"] * scale, "s"),
        "setup_s": (setup_cpu_s * scale, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "input": wl.shares,
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "errors": errors,
        "jobs": timed, "warm_walls_s": warm,
        "turns_per_s": wl.turns / statistics.median(warm),
        "first_run_s": timed[0]["wall_s"], "setup_wall_s": setup_wall_s,
        "setup_cpu_s": setup_cpu_s, "ref_cpu_s": refs,
        "get_spark_s": get_spark_s, "prepare_s": prepare_s,
        "sink_mb": sink[1] / (1 << 20), "sink_files": sink[0],
        "e2e": {k: v for k, (v, _) in e2e.items()},
        "per_layer": per_layer, "reconciliation": table,
        "attribution": attribution, "spans": span_rows,
    }
    side["run_s"] = _since_start()
    with open(os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(side, f, indent=1)
    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)

    if args.trace:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    # compact, so the traced line of 41 metrics stays short
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
