"""sparklake benchmark: one command, three workloads.

    python3 perfbench/run.py --workload fleet_sweep --seed 1 --seconds 10 \\
        --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``fleet_sweep``: small tables, ingest with a row-level delete + one
  full maintenance sweep per cycle;
- ``ingest_compact_scan``: two ``lineitem`` tables with row-level
  deletes and merges, readers before and after each sweep;
- ``curation_queries``: a fixed mix of registry queries.

All load comes from this process on ``local[nproc]``. Every run starts
from a fresh warehouse and Spark local dir under ``.perfbench_work/``
in the checkout and removes them when it ends. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` the
per-layer metrics of a run that interleaves untraced and traced cycles,
and the spans go to ``.perfbench_out/``. Outputs are checked outside the
timed regions; a mismatch counts as a failed operation.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("fleet_sweep", "ingest_compact_scan", "curation_queries")
#: set-ups counted in a run; ``setup_s`` is their median
SETUP_REPEATS = 3


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in report order. A
    workload that does not reach a layer reports 0 for it."""
    from perfbench.curation import QUERIES
    from perfbench.lakeload import CLIENT_METHODS, SWEEP_METHODS
    out = [
        ("orchestrator.self_s", "s"), ("orchestrator.worker_busy_frac", "frac"),
        ("orchestrator.jobs_per_table", "count"),
        ("schedule.self_s", "s"), ("schedule.reads_per_sweep", "count"),
        ("schedule.read_s", "s"),
        ("lake.self_s", "s"), ("lake.manifest_bytes", "bytes"),
        ("lake.read_s", "s"), ("lake.files_per_table", "count"),
        ("lake.pending_delete_files", "count"),
        ("lake.bytes_rewritten", "bytes"), ("lake.files_removed", "count"),
    ]
    out += [(f"lake.{m}_s", "s") for m in CLIENT_METHODS + SWEEP_METHODS]
    out += [("stats.self_s", "s"), ("stats.analyze_s", "s"),
            ("stats.rescan_frac", "frac")]
    for q in QUERIES:
        out += [(f"operators.{q}_s", "s"), (f"operators.{q}.jobs", "count")]
    out += [("spark.jobs", "count"), ("spark.tasks", "count"),
            ("spark.gc_ms", "ms"), ("trace.overhead_s", "s"),
            ("write_amp", "ratio"), ("space_amp", "ratio"),
            ("stale_scan_s", "s")]
    return out


class Context:
    """What the workloads share: the session, the seed, the tracer,
    Spark counters and the tally of attempted and failed operations."""

    def __init__(self, spark, seed: int, nproc: int):
        from perfbench import sparkstat, trace
        self.spark = spark
        self.seed = seed
        self.nproc = nproc
        self.tracer = trace.Tracer(enabled=False)
        self.counters = sparkstat.SparkCounters(spark)
        self.traced_table = trace.traced_table_class(self.tracer)
        self.traced_orchestrator = trace.traced_orchestrator_class(self.tracer)
        self.attempted = 0
        self.failed = 0

    def fail(self, msg: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {msg}", file=sys.stderr, flush=True)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="smoke: tiny inputs for the benchmark's own tests")
    return p.parse_args(argv)


def _session(work: str, nproc: int):
    from trino_iceberg_maintenance_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="sparklake-perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a fixed heap and young generation: under adaptive sizing
            # the peak RSS varied by up to a third between runs
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
                "-Xms2g -Xmn512m",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launched JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _workload(ctx, name: str, size: str):
    if name == "curation_queries":
        from perfbench.curation import CurationWorkload
        return CurationWorkload(ctx, size)
    from perfbench.lakeload import LakeWorkload
    return LakeWorkload(ctx, name, size)


def measure(ctx, wl, work: str, seconds: float, traced_run: bool) -> dict:
    """Set up, warm up, then run cycles for about ``seconds``: the next cycle starts only if a cycle of median length
    still fits, and a run makes at least the workload's
    ``min_cycles``. A traced run alternates untraced and traced
    cycles."""
    from perfbench import trace
    setups = []
    n_setup = 0

    def setup():
        nonlocal n_setup
        root = os.path.join(work, f"wh{n_setup}")
        n_setup += 1
        wl.prepare(root)  # the benchmark's inputs, untimed
        t0 = time.perf_counter()
        wl.setup()
        setups.append(time.perf_counter() - t0)
        shutil.rmtree(os.path.join(work, f"wh{n_setup - 2}"),
                      ignore_errors=True)

    # the first set-up also runs the JVM's first Spark jobs; the
    # median sets it aside
    for _ in range(SETUP_REPEATS):
        setup()
    # one untimed cycle warms codegen and the Python workers
    t0 = time.perf_counter()
    wl.warm()
    warm_s = time.perf_counter() - t0
    if wl.needs_setup():
        setup()
    wl.reset()

    counters = ctx.counters
    gc_ms = 0.0
    jobs: set[int] = set()
    cycle_s: list[float] = []
    need = max(wl.min_cycles, 2 if traced_run else 1)
    cpu0 = _cpu_times()
    start = time.perf_counter()
    while True:
        traced = traced_run and len(cycle_s) % 2 == 1
        c0 = time.perf_counter()
        if traced:
            jobs0, gc0 = counters.all_job_ids(), counters.gc_ms()
            ctx.tracer.enabled = True
        wl.cycle(traced)
        if traced:
            ctx.tracer.enabled = False
            jobs |= counters.all_job_ids() - jobs0
            gc_ms += counters.gc_ms() - gc0
        wl.check()
        cycle_s.append(time.perf_counter() - c0)
        elapsed = time.perf_counter() - start
        if (len(cycle_s) >= need
                and elapsed + statistics.median(cycle_s) > seconds):
            break
        if wl.needs_setup():
            setup()
    measured_s = time.perf_counter() - start
    cpu = [b - a for a, b in zip(cpu0, _cpu_times())]

    info = {
        "seed": ctx.seed, "inputs": wl.inputs, "nproc": ctx.nproc,
        "loadavg": os.getloadavg(),
        # the host's share of this VM's CPU time while the cycles ran
        "steal_frac": cpu[7] / max(sum(cpu[:8]), 1),
        "cycles": len(cycle_s),
        "cycle_s": cycle_s, "warm_s": warm_s, "measured_s": measured_s,
        "attempted": ctx.attempted, "failed": ctx.failed,
        "error_rate": ctx.failed / max(ctx.attempted, 1),
        "setups_s": setups,
    }
    if not traced_run:
        metrics = {"setup_s": (statistics.median(setups), "s")}
        metrics |= wl.end_to_end()
        metrics["jvm_peak_rss_mb"] = (counters.jvm_peak_rss_mb(), "MB")
        info["workload_metrics"] = {k: v for k, (v, _) in
                                    wl.extra_metrics().items()}
        info["gc_ms"] = counters.gc_ms()
        return {"metrics": metrics, "info": info}

    n_traced = len(wl.traced_batch_s)
    layer = {k: statistics.median(v) for k, v in wl.layer.items()}
    layer["spark.jobs"] = len(jobs) / n_traced
    layer["spark.tasks"] = counters.tasks(jobs) / n_traced
    layer["spark.gc_ms"] = gc_ms / n_traced
    layer["trace.overhead_s"] = (statistics.median(wl.traced_batch_s)
                                 - statistics.median(wl.batch_s))
    extra = wl.extra_metrics()
    for k in ("write_amp", "space_amp", "stale_scan_s"):
        if k in extra:
            layer[k] = extra[k][0]
    metrics = {name: (float(layer.get(name, 0.0)), unit)
               for name, unit in per_layer_names()}
    info["self_time_s"] = trace.self_times(ctx.tracer.spans)
    info["untraced_batch_s"] = wl.batch_s
    info["traced_batch_s"] = wl.traced_batch_s
    return {"metrics": metrics, "info": info}


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python's and the JVM's scratch files stay inside the run directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        try:
            import __spark_entry__  # noqa: F401  the program under test
            import trino_iceberg_maintenance_spark  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: the program is missing: {exc}", file=sys.stderr)
            return 2
        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        spark = _session(work, nproc)
        session_s = time.perf_counter() - t0
        try:
            ctx = Context(spark, args.seed, nproc)
            wl = _workload(ctx, args.workload, args.size)
            out = measure(ctx, wl, work, args.seconds, bool(args.trace))
            if args.trace:
                spans_dir = os.path.join(ROOT, ".perfbench_out")
                os.makedirs(spans_dir, exist_ok=True)
                spans = os.path.join(
                    spans_dir, f"spans-{args.workload}-{args.seed}.json")
                ctx.tracer.dump(spans)
                out["info"]["spans_file"] = os.path.relpath(spans, ROOT)
        finally:
            t0 = time.perf_counter()
            _stop(spark)
            stop_s = time.perf_counter() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))

    info, metrics = out["info"], out["metrics"]
    info["session_s"], info["stop_s"] = session_s, stop_s
    print("# info " + json.dumps(info, default=float))
    for name, (value, unit) in metrics.items():
        print(f"# {name:40s} {value:14.6f} {unit}")
    print(json.dumps({
        "correct": info["failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
