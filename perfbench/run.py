#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream_tail,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The engine package is imported from the
checkout; all inputs are generated from the seed under `.bench_work/`, which
is removed at exit (traced runs keep their span/call-site dump under
`.bench_work/traces/`). Progress goes to stderr; the last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}; the line
before it records the machine, versions, seed, run length, sample count,
the wall time of each phase and the JIT CPU of the timed cycles.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json. `--trace 1`
splits the time in two: an untraced half, then a traced half with the Spark
event log on and span wrappers around the engine's public calls; it reports
the per-layer metrics, including the tracing overhead (traced minus untraced
time of the cycles both halves ran).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a fixed young generation: the JVM's resident size then follows the old
# generation's live data, not G1's young-gen sizing
YOUNG_GEN_MB = 256


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def machine() -> dict:
    """nproc from the CPU affinity mask; RAM from /proc/meminfo; the driver
    heap is an eighth of RAM, clamped to [1, 2] GiB (the workloads' data is
    small, and a bounded heap keeps the JVM's peak RSS from wandering)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    ram_gb = kb / 2**20
    import pyspark

    return {"nproc": nproc, "ram_gb": round(ram_gb, 1),
            "driver_heap_gb": int(min(2, max(1, ram_gb // 8))),
            "pyspark": pyspark.__version__, "python": sys.version.split()[0]}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024


class Runner:
    def __init__(self, args, work: str):
        from spantrace import Tracer

        self.args = args
        self.seed = args.seed
        self.work = work
        self.machine = machine()
        self.spark = None
        self.jvm_pid = None
        self.tracer = Tracer(False)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.phases: dict[str, float] = {}
        self._t_phase = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases[name] = round(now - self._t_phase, 2)
        self._t_phase = now

    @contextlib.contextmanager
    def op(self, name: str, *, fatal: bool = True):
        """Count one attempted op; an exception counts it failed. Checks pass
        fatal=False so one mismatch does not hide the others."""
        self.attempted += 1
        try:
            yield
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            self.errors.append(f"{name}: {e!r}"[:400])
            log(f"op {name} failed:\n{traceback.format_exc()}")
            if fatal:
                raise

    def start_session(self, master: str, eventlog_dir: str | None = None) -> None:
        from recidiviz_data_spark.session import get_spark, stop_spark

        stop_spark()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file under /tmp: the run writes only in the
            # checkout; JIT compiler threads that live as long as the JVM, so
            # cpu_seconds can leave them out; the JIT stops at C1, since a
            # one-minute JVM spends about half its CPU on C2 compiles that do
            # not pay off within it; a fixed heap (-Xms = -Xmx)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1 "
                f"-Xms{self.machine['driver_heap_gb']}g -Xmn{YOUNG_GEN_MB}m",
        }
        if eventlog_dir:
            os.makedirs(eventlog_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        # shuffle partitions = nproc (the engine's default at local[nproc]),
        # kept identical at every parallelism level
        self.spark = get_spark(master, app_name=f"perfbench-{self.args.workload}",
                               shuffle_partitions=self.machine["nproc"], extra_conf=conf)
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.machine["spark"] = self.spark.version

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + (vm_hwm_mb(self.jvm_pid) if self.jvm_pid else 0.0)

    def shutdown(self) -> None:
        """Stop the session, then the JVM it launched, and wait for it."""
        from pyspark import SparkContext

        from recidiviz_data_spark.session import stop_spark

        stop_spark()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def measure(self, wl, seconds: float) -> None:
        from workloads import cpu_seconds

        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline or not wl.done():
            c0, j0 = cpu_seconds()
            wl.cycle()
            c1, j1 = cpu_seconds()
            wl.samples[-1].update(cpu_s=c1 - c0, jit_s=j1 - j0)
            log(f"cycle {len(wl.samples)}: " + " ".join(
                f"{k}={v:.3f}" for k, v in wl.samples[-1].items() if isinstance(v, float)))


def install_wrappers(tracer) -> None:
    """Benchmark-side spans around the engine's public calls."""
    from recidiviz_data_spark.cdc import apply as apply_mod
    from recidiviz_data_spark.operators import aggview
    from recidiviz_data_spark.tables.miniberg import Miniberg

    tracer.wrap(apply_mod, "read_batch", "sources.read_batch")
    tracer.wrap(Miniberg, "commit", "tables.commit")
    tracer.wrap(Miniberg, "_commit_once", "tables.commit_once")
    tracer.wrap(Miniberg, "collect_staged_files", "tables.collect_staged")
    for attr in ("manifest", "bucket_summaries", "files"):
        tracer.wrap(Miniberg, attr, "tables.metadata")
    tracer.wrap(Miniberg, "files_for_keys", "tables.files_for_keys", result_len=True)
    tracer.wrap(aggview, "agg_view_sync", "sync.agg")
    tracer.wrap(aggview, "distinct_view_sync", "sync.distinct")


def run_workload(r: Runner, wl) -> dict:
    args, m = r.args, r.machine
    master = f"local[{m['nproc']}]"
    setup = []
    # one set-up: a fresh session from the engine's session factory (the
    # first also launches the JVM), then the workload's own set-up. A traced
    # run reports no setup_s and sets up once.
    for i in range(1 if args.trace else wl.setup_reps):
        if i:
            shutil.rmtree(os.path.join(r.work, f"rep{i - 1}"))
        t0 = time.perf_counter()
        r.start_session(master)
        wl.prepare(os.path.join(r.work, f"rep{i}"))
        setup.append(time.perf_counter() - t0)
    log(f"setup reps {[round(s, 2) for s in setup]}")
    r.phase("setup")

    if not args.trace:
        r.measure(wl, args.seconds)
        r.phase("measure")
        e2e = wl.end_to_end()
        wl.check()
        r.phase("check")
        metrics = {"setup_s": statistics.median(setup), "peak_rss_mb": r.peak_rss_mb(), **e2e}
        return {"metrics": metrics, "samples": len(wl.samples),
                "jit_cpu_s": sum(s["jit_s"] for s in wl.samples),
                "wall": {k: e2e[k] for k in ("op_s_p50", "cycle_s")}}

    # traced run: untraced half, then the traced half in a fresh session
    from layers import per_layer_metrics, write_trace
    from spantrace import Tracer, callsite_table, fold_event_log

    from recidiviz_data_spark.session import stop_spark

    wl.trace_warmup(first=True)
    r.measure(wl, args.seconds / 2)
    untraced_samples = wl.samples
    untraced = wl.end_to_end()
    evdir = os.path.join(r.work, "eventlog")
    r.start_session(master, eventlog_dir=evdir)
    wl.trace_warmup(first=False)
    r.tracer = Tracer(True)
    install_wrappers(r.tracer)
    wl.reset()
    try:
        r.measure(wl, args.seconds / 2)
    finally:
        r.tracer.unwrap_all()
    wl.check()
    overhead_s, overhead_ratio = trace_overhead(untraced_samples, wl.samples)
    extra = {
        "wall.op_s_p50": untraced["op_s_p50"],
        "wall.cycle_s": untraced["cycle_s"],
        "trace.overhead_s": overhead_s,
        "trace.overhead_ratio": overhead_ratio,
    }
    stop_spark()  # closes the event log
    with open(os.path.join(evdir, os.listdir(evdir)[0])) as f:
        jobs = fold_event_log(f)
    metrics = per_layer_metrics(r.tracer, jobs, batches=wl.batches,
                                sync_results=wl.sync_results, table=wl.table, extra=extra)
    write_trace(os.path.join(ROOT, ".bench_work", "traces", f"{wl.name}-seed{r.seed}.json"),
                r.tracer, jobs, callsite_table(jobs))
    return {"metrics": metrics, "samples": len(untraced_samples) + len(wl.samples),
            "jit_cpu_s": sum(s["jit_s"] for s in untraced_samples + wl.samples),
            "wall": {k: untraced[k] for k in ("op_s_p50", "cycle_s")}}


def trace_overhead(untraced: list[dict], traced: list[dict]) -> tuple[float, float]:
    """Traced minus untraced cycle time over the cycles both halves ran
    (same batch, or same query): mean seconds per cycle, and the ratio."""
    def by_key(samples):
        out: dict = {}
        for s in samples:
            out.setdefault(s.get("batch", s.get("q")), []).append(s["cycle_s"])
        return {k: statistics.median(v) for k, v in out.items()}

    u, t = by_key(untraced), by_key(traced)
    common = sorted(set(u) & set(t), key=str)
    tu, tt = sum(u[k] for k in common), sum(t[k] for k in common)
    return (tt - tu) / len(common), tt / tu - 1


def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit for a run, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {x["name"]: x["unit"] for x in spec["per_layer" if trace else "end_to_end"]}


def result_object(attempted: int, failed: int, values: dict, units: dict) -> dict:
    """The result line; raises KeyError naming any metric the run lacks."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics missing from the run: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import recidiviz_data_spark  # noqa: F401
    except ImportError as e:
        log(f"engine package not found next to the benchmark: {e}")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    units = metric_units(bool(args.trace))

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every scratch path the engine, Spark and the JVM use stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    r = Runner(args, work)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{r.machine['driver_heap_gb']}g"
    wl = WORKLOADS[args.workload](r)
    t_start = time.perf_counter()
    try:
        out = run_workload(r, wl)
    except Exception:  # noqa: BLE001 - reported as a failed run below
        log(traceback.format_exc())
        out = None
    finally:
        with contextlib.suppress(Exception):
            r.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    if out is None or not wl.samples:
        log(f"run failed: {r.errors}")
        return 1
    try:
        result = result_object(r.attempted, r.failed, out["metrics"], units)
    except KeyError as e:
        log(e)
        return 1
    # run record first, the result object last
    print(json.dumps({"run": {
        **r.machine, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "samples": out["samples"],
        "wall_op_s_p50": out["wall"]["op_s_p50"], "wall_cycle_s": out["wall"]["cycle_s"],
        "jit_cpu_s": round(out["jit_cpu_s"], 2),
        "wall_s": round(time.perf_counter() - t_start, 2), "phases_s": r.phases,
        "errors": r.errors}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
