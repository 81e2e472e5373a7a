#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload orders_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
into a private run directory under ``.perfbench/`` (removed at exit), the
Spark session runs as ``local[$SPARK_GRAFT_CPUS]`` (default: every core
this process may use), and the measured loop is closed: one client lands
a batch (or rebuilds) and waits for it to be applied; after the first unit
it issues one burst of serving reads, and only then lands the next one.

Earlier stdout lines carry the run environment, the landed batches'
properties and per-unit details; the last line is the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (see
``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shlex
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Serving reads per run, in one burst: ten samples lie beyond the median.
READS = 20

DRIVER_HEAP = "2g"
# Run phases whose memory is the program's, not the benchmark's own.
PROGRAM_PHASES = ("setup", "init", "update", "read")

# Corpus sizes other than gen.SCALE: a smoke-test size, and the row
# counts of TPC-H sf0.1 (for comparing layer shares with the default).
SCALES = {
    "default": None,
    "tiny": {"customer": 150, "supplier": 10, "part": 200, "orders": 1500, "documents": 300},
    "sf0.1": {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
              "documents": 5000},
}


_libc = ctypes.CDLL(None, use_errno=True)
_SYS_KCMP = {"x86_64": 312, "aarch64": 272}.get(platform.machine())
_KCMP_VM = 1


def _shares_address_space(a: int, b: int) -> bool:
    """Whether two processes share one address space, as a vfork child
    does with its parent until it execs (false where kcmp is unknown)."""
    return _SYS_KCMP is not None and _libc.syscall(_SYS_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def _proc_tree_pss() -> tuple[int, int]:
    """Resident bytes of this process and all its descendants (the JVM),
    and how many descendants were skipped for sharing their parent's
    address space.

    Summed as proportional set size: a child forked by the JVM shares its
    parent's pages, and plain RSS would count them twice. A child that
    shares the whole address space (the JVM starts programs with vfork)
    reports all of its parent's pages as its own, so it is not counted."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
                parent[int(pid)] = int(stat[stat.rindex(")") + 2 :].split()[1])
            except (OSError, ValueError):
                pass
    tree, frontier, shared = {os.getpid()}, [os.getpid()], 0
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                if _shares_address_space(p, c):
                    shared += 1
                    continue
                tree.add(c)
                frontier.append(c)
    total_kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                total_kb += sum(int(line.split()[1]) for line in fh if line.startswith("Pss:"))
        except (OSError, ValueError):
            pass
    return total_kb * 1024, shared


def _since_process_start() -> float:
    """Seconds since this process started, from its start time in /proc."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


class MemorySampler(threading.Thread):
    """The highest memory sample of the process tree, every ``interval`` s,
    per phase of the run (the phase is set by the caller)."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self._done = interval, threading.Event()
        self.phase, self.peaks, self.shared_vm_skips = "setup", {}, 0

    def run(self) -> None:
        while not self._done.is_set():
            phase = self.phase
            pss, shared = _proc_tree_pss()
            self.peaks[phase] = max(self.peaks.get(phase, 0), pss)
            self.shared_vm_skips += shared
            self._done.wait(self.interval)

    def stop(self) -> None:
        self._done.set()
        self.join()


def _configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the run directory, and
    enable the event log from outside the program when tracing."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # A fixed 2g heap (the program's SPARK_DRIVER_MEM dial, with -Xms equal
    # to it) instead of the default 8g heap that grows on demand. Sized on
    # demand, the heap's growth in the first update varied so much between
    # runs of the same work that peak memory swung by 30% (a 2g limit) or
    # 3x (the 8g default). With a fixed heap, more heap demand shows as GC
    # time in the update's seconds; memory outside the heap shows as memory.
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_HEAP)
    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse")}
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    heap = os.environ["SPARK_DRIVER_MEM"]
    # -XX:-UsePerfData: each JVM, the launcher's too, would otherwise keep a
    # file in /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp} -Xms{heap} -XX:-UsePerfData"]
    args += [f"--conf={k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _start_session(run_dir: str):
    """Start the program's Spark session and warm it with a small parquet
    write and read."""
    from databricks_incremental_lakehouse_spark.session import build_spark

    spark = build_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(run_dir, "warm")
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.mode("overwrite").parquet(path)
    spark.read.parquet(path).groupBy("k").count().collect()
    return spark


def _stop_jvm() -> None:
    """Stop the Spark context and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def environment(spark, args, shuffle_partitions: str) -> dict:
    import pyspark

    sc = spark.sparkContext
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "shuffle_partitions": shuffle_partitions,
        "committer_version": sc.getConf().get(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", None
        ),
        "dials": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": commit,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=tuple(SCALES), default="default")
    args = ap.parse_args(argv)

    run_dir = os.path.join(
        ROOT, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    _configure_env(run_dir, bool(args.trace))
    sys.path.insert(0, ROOT)
    sampler = MemorySampler()
    sampler.start()
    try:
        import databricks_incremental_lakehouse_spark.llmdata.incrstats  # noqa: F401
        import databricks_incremental_lakehouse_spark.pipelines  # noqa: F401
        import databricks_incremental_lakehouse_spark.streaming.refresh  # noqa: F401

        from . import trace as tr
        from .workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return _run(args, run_dir, sampler, tr, WORKLOADS[args.workload])
    finally:
        sampler.stop()
        if "pyspark" in sys.modules:
            _stop_jvm()
        import shutil

        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # other runs' directories are still there


def _run(args, run_dir, sampler, tr, workload_cls) -> int:
    spark = _start_session(run_dir)
    setup_s = _since_process_start()
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    print(json.dumps({"perfbench_env": environment(spark, args, shuffle_partitions)}), flush=True)

    sampler.phase = "generate"
    wl = workload_cls(spark, run_dir, args.seed, SCALES[args.scale])
    tracer = tr.Tracer()
    if args.trace:
        tr.install_layer_wrappers(tracer)
        tracer.wrap(wl, "read", "read")

    attempted = failed = 0
    sampler.phase = "init"
    t0 = time.perf_counter()
    wl.init()
    init_s = time.perf_counter() - t0

    units: list[dict] = []
    reads: list[float] = []
    loop0 = time.perf_counter()
    while True:
        i = len(units)
        # a traced run traces its first unit, the one untraced runs measure
        traced = bool(args.trace) and i == 0
        n_reads = READS if i == 0 else 0
        tracer.enabled = traced
        unit = {"i": i, "traced": traced, "t0": time.time()}
        if traced:
            jobs0 = tr.status_store_job_count(spark.sparkContext)
        attempted += 1
        try:
            sampler.phase = "update"
            unit["update_s"], _ = wl.unit()
            sampler.phase = "read"
            for _ in range(n_reads):
                attempted += 1
                r0 = time.perf_counter()
                wl.read()
                reads.append(time.perf_counter() - r0)
        except Exception:  # noqa: BLE001 - counted, reported, and the loop ends
            traceback.print_exc()
            failed += 1
            break
        finally:
            tracer.enabled = False
        unit["t1"] = time.time()
        if traced:
            unit["status_store_jobs"] = tr.status_store_job_count(spark.sparkContext) - jobs0
        units.append(unit)
        if time.perf_counter() - loop0 >= args.seconds:
            break

    sampler.phase = "check"
    t0 = time.perf_counter()
    n_checks, mismatches = wl.check()
    check_s = time.perf_counter() - t0
    attempted += n_checks
    failed += len(mismatches)
    for m in mismatches:
        print(f"perfbench: correctness mismatch: {m}", file=sys.stderr)
    store_ratio = wl.store_bytes_ratio()
    print(json.dumps({"perfbench_batches": wl.batches}), flush=True)

    app_id = spark.sparkContext.applicationId
    if failed:
        metrics = {}  # no figures from a run that failed; correct is false
    elif args.trace:
        _stop_jvm()  # flushes and closes the event log
        jobs = tr.read_event_log(tr.find_event_log(os.path.join(run_dir, "eventlog"), app_id))
        metrics = _per_layer(tr, jobs, tracer, wl, units[0], reads)
    else:
        # the program's phases; the inputs and the check are the benchmark's
        peak = max(sampler.peaks.get(p, 0) for p in PROGRAM_PHASES)
        metrics = {
            "setup_s": (setup_s, "s"),
            "init_s": (init_s, "s"),
            "first_update_s": (units[0]["update_s"], "s"),
            "read_p50_s": (statistics.median(reads), "s"),
            "store_bytes_ratio": (store_ratio, "ratio"),
            "peak_rss_mb": (peak / 2**20, "MB"),
            "ok_op_share": ((attempted - failed) / attempted, "ratio"),
        }
    detail = {
        "units": [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in u.items()
             if k not in ("t0", "t1")}
            for u in units
        ],
        "reads": len(reads),
        "check_s": round(check_s, 4),
        "peak_mb": {k: round(v / 2**20, 1) for k, v in sampler.peaks.items()},
        "shared_vm_skips": sampler.shared_vm_skips,
    }
    print(json.dumps({"perfbench_detail": detail}), flush=True)
    print(json.dumps({
        "correct": not mismatches and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


# per-layer metric -> (layer, counter); counters are per traced unit
LAYER_COUNTERS = {
    "bronze.s": ("bronze", "s"), "bronze.jobs": ("bronze", "jobs"),
    "bronze.out_bytes": ("bronze", "out_bytes"),
    "silver.s": ("silver", "s"), "silver.jobs": ("silver", "jobs"),
    "silver.shuffle_bytes": ("silver", "shuffle_bytes"),
    "gold.s": ("gold", "s"), "gold.jobs": ("gold", "jobs"),
    "gold.shuffle_bytes": ("gold", "shuffle_bytes"),
    "quality.s": ("quality", "s"), "quality.jobs": ("quality", "jobs"),
    "merge.calls": ("merge", "calls"), "merge.s": ("merge", "s"),
    "merge.jobs": ("merge", "jobs"), "merge.shuffle_bytes": ("merge", "shuffle_bytes"),
    "merge.out_bytes": ("merge", "out_bytes"), "merge.files_out": ("merge", "files_out"),
    "cdf_fold.calls": ("cdf_fold", "calls"), "cdf_fold.s": ("cdf_fold", "s"),
    "cdf_fold.jobs": ("cdf_fold", "jobs"),
    "refresh.s": ("refresh", "s"), "refresh.self_s": ("refresh", "self_s"),
    "refresh.self_jobs": ("refresh", "jobs"),
    "incrstats.s": ("incrstats", "s"), "incrstats.self_s": ("incrstats", "self_s"),
    "incrstats.self_jobs": ("incrstats", "jobs"),
    "read.jobs": ("read", "jobs"), "read.in_bytes": ("read", "in_bytes"),
    "read.files": ("read", "files_read"),
    "spark.unattributed_jobs": ("unattributed", "jobs"),
}


def _unit_of(name: str) -> str:
    if name.endswith(".s") or name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("bytes") else "count"


def _per_layer(tr, jobs, tracer, wl, u, reads) -> dict:
    """Counters of the traced unit ``u`` (with its reads), and its seconds:
    set against an untraced run of the same seed, they give the tracing
    overhead."""
    layers = tr.attribute_unit(jobs, tracer.spans, u["t0"], u["t1"])
    u["layers"] = {k: v["jobs"] for k, v in layers.items()}
    metrics = {
        name: (float(layers.get(layer, {}).get(counter, 0)), _unit_of(name))
        for name, (layer, counter) in LAYER_COUNTERS.items()
    }
    for counter in ("jobs", "stages", "tasks", "shuffle_bytes"):
        name = f"spark.{counter}"
        metrics[name] = (float(sum(v[counter] for v in layers.values())), _unit_of(name))
    entry_s = sum(layers.get(e, {}).get("s", 0.0) for e in tr.ENTRY_LAYERS)
    metrics["stream.overhead_s"] = (u["update_s"] - entry_s if entry_s else 0.0, "s")
    # stage_overlap[0] is the init rebuild; unit i is entry i + 1
    stage_overlap = getattr(wl, "stage_overlap", None)
    metrics["pipelines.overlap"] = (stage_overlap[u["i"] + 1] if stage_overlap else 0.0, "ratio")
    metrics["trace.first_update_s"] = (u["update_s"], "s")
    metrics["trace.read_p50_s"] = (statistics.median(reads), "s")
    return metrics


if __name__ == "__main__":
    if __package__ in (None, ""):
        # run as a script: import this file as part of the perfbench package
        sys.path.insert(0, ROOT)
        from perfbench.run import main as _main

        sys.exit(_main())
    sys.exit(main())
