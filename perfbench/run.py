"""Benchmark entry point.

    python3 perfbench/run.py --workload {cdc_stream,dashboard_reads,corpus_dedup}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It generates the workload's inputs
from the seed, sets up the package (``session.get_spark`` +
``registry.load_all``), runs the closed-loop workload for ``--seconds``,
checks every output, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` prints the per-layer metrics.

Everything the run writes lives under ``.perfbench_runs/<run id>/`` in
the checkout (inputs, Spark local and temp dirs, sink, stream state,
checkpoints, event log) and is removed at the end.

The traced run launches its JVM with Spark's event log on, runs every
layer call under a span, and reports the time tracing itself took (span
bookkeeping, the state poller, the event-log writer thread) as a share
of the workload's wall time: ``trace.overhead_ratio``.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
PKG = "asafaviv_devops_asafaviv_devops_tidb_cdc_spark"

# The package under test; without it the benchmark must fail here.
importlib.import_module(f"{PKG}.registry")

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]
N_WARM_SETUPS = 6
T_START = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with the seconds since start."""
    t = time.perf_counter() - T_START
    print(f"\n[perfbench] +{t:.1f}s {msg}", file=sys.stderr, flush=True)


def setup(fresh_import: bool):
    """One set-up: ``session.get_spark()`` then ``registry.load_all()``.
    With ``fresh_import`` the package is imported anew first, so module
    import and query registration are paid again. Returns the session
    and the two times in seconds."""
    if fresh_import:
        for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
            del sys.modules[name]
    t0 = time.perf_counter()
    session = importlib.import_module(f"{PKG}.session")
    registry = importlib.import_module(f"{PKG}.registry")
    spark = session.get_spark()
    t1 = time.perf_counter()
    registry.load_all()
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def collect_garbage() -> None:
    """Full collection in Python and in the JVM."""
    from pyspark import SparkContext

    gc.collect()
    SparkContext._jvm.java.lang.System.gc()


def stop_spark(spark) -> int:
    """Stop the session and its JVM; returns the JVM's peak RSS in kB."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    hwm = 0
    try:
        with open(f"/proc/{gw.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except OSError:
        pass
    spark.stop()
    gw.shutdown()
    if gw.proc.stdin:
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return hwm


def tree_bytes(path: Path) -> int:
    if not path.exists():
        return 0
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file() and not p.is_symlink())


def shm_used() -> int:
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return 0
    return (st.f_blocks - st.f_bfree) * st.f_frsize


class Run:
    """State of one benchmark run, shared with the workload."""

    def __init__(self, args, run_dir: Path):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.inputs = run_dir / "inputs"
        self.work = run_dir / "work"
        self.sizes: dict = {}
        self.e2e: dict = {}
        self.layer: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.java_version = ""
        self.listener = None
        self.tracer = None
        self.after_stop: list = []  # callbacks given the parsed event log
        self.probe = None  # traced-only layer probe, run after the loop

    log = staticmethod(log)

    def fail(self, name: str, detail: str) -> None:
        self.failed += 1
        self.note_failure(name, detail)

    def note_failure(self, name: str, detail: str) -> None:
        self.failures.append(name)
        log(f"FAILED {name}: {detail.strip().splitlines()[-1][:500]}")


def run_segment(run: Run, traced: bool, seconds: float, event_log: Path | None) -> dict:
    """Launch a JVM, set up, run the workload once and stop the JVM.

    The first set-up launches the JVM (cold). After the workload the
    session is set up ``N_WARM_SETUPS`` more times in that JVM (stopped
    and rebuilt, package imported anew); their median is ``setup_s``."""
    from tracing import ProgressListener, Tracer

    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{event_log} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    spark, t_spark, t_reg = setup(fresh_import=False)
    out = {"cold_get_spark_s": t_spark, "cold_registry_s": t_reg, "warm_setup_s": []}
    log(f"setup.cold {t_spark + t_reg:.2f}s")
    from workloads import WORKLOADS

    run.spark = spark
    run.tracer = Tracer(spark, run_id=f"{run.seed}-{os.getpid()}", enabled=traced)
    run.listener = ProgressListener()
    spark.streams.addListener(run.listener)
    run.seconds = seconds
    run.after_stop, run.probe = [], None
    if run.work.exists():
        shutil.rmtree(run.work)
    run.work.mkdir(parents=True)
    t0 = time.perf_counter()
    try:
        WORKLOADS[run.workload](run)
        if run.probe is not None:
            run.probe()
    except Exception:
        run.fail("workload", traceback.format_exc())
    out["workload_s"] = time.perf_counter() - t0
    out["eventlog_cpu_s"] = _thread_cpu_s(spark, "eventLog") if traced else 0.0
    run.java_version = spark._jvm.java.lang.System.getProperty("java.version")
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    out["gc_ms"] = sum(b.getCollectionTime() for b in beans)
    spark.streams.removeListener(run.listener)
    log("workload done")
    # after the workload, so the JVM is past its start-up compiling;
    # the set-ups start from the same heap, whatever the workload left
    collect_garbage()
    for _ in range(N_WARM_SETUPS):
        spark.stop()  # the JVM stays up
        spark, ts, tr = setup(fresh_import=True)
        out["warm_setup_s"].append(ts + tr)
    log("setup.warm " + " ".join(f"{t:.3f}s" for t in out["warm_setup_s"]))
    out["rss_kb"] = stop_spark(spark)
    log("stopped")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = ROOT / ".perfbench_runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    # every working root of this run lives in its own directory
    os.environ.update(
        {
            "SPARK_GRAFT_ARTIFACT_DIR": str(run_dir / "artifacts"),
            "SPARK_GRAFT_SINK_DIR": str(run_dir / "sink"),
            "SPARK_LOCAL_DIRS": str(tmp),
            "TMPDIR": str(tmp),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    shm0 = shm_used()
    load0 = os.getloadavg()[0]
    run = Run(args, run_dir)
    try:
        event_log = run_dir / "eventlog" if args.trace else None
        seg = run_segment(run, bool(args.trace), args.seconds, event_log)
        if args.trace:
            _traced_layers(run, event_log, seg)
    finally:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
        leftover_tmp = tree_bytes(tmp)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:
            pass
    py_rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    run.e2e["setup_s"] = statistics.median(seg["warm_setup_s"])
    lay = run.layer
    lay["session.get_spark_s"] = seg["cold_get_spark_s"]
    lay["session.registry_load_s"] = seg["cold_registry_s"]
    lay["leftover.tmp_bytes"] = leftover_tmp
    lay["leftover.shm_bytes"] = max(0, shm_used() - shm0)
    lay["ops_failed_ratio"] = run.failed / max(1, run.attempted)
    lay["jvm.peak_rss_mb"] = (seg["rss_kb"] + py_rss_kb) / 1024

    env = {
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "nproc": os.cpu_count(),
        "load_start": load0,
        "load_end": os.getloadavg()[0],
        "python": platform.python_version(),
        "pyspark": importlib.import_module("pyspark").__version__,
        "java": run.java_version,
        "sizes": run.sizes,
        "failures": run.failures,
    }
    log("env " + json.dumps(env))
    if args.trace:
        log("spans " + json.dumps(run.tracer.finished()))
    names = LAYER if args.trace else E2E
    source = run.layer if args.trace else run.e2e
    metrics = {
        n: {"value": float(source.get(n, 0.0)), "unit": unit} for n, unit in names.items()
    }
    result = {
        "correct": run.failed == 0 and all(n in run.e2e for n in E2E),
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


def _thread_cpu_s(spark, name_part: str) -> float:
    """CPU seconds of the JVM threads whose name contains ``name_part``."""
    mx = spark._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    total = 0
    for info in mx.dumpAllThreads(False, False):
        if name_part in info.getThreadName():
            total += max(0, mx.getThreadCpuTime(info.getThreadId()))
    return total / 1e9


def _traced_layers(run: Run, log_dir: Path, seg: dict) -> None:
    from tracing import parse_event_log

    groups = parse_event_log(log_dir)
    for cb in run.after_stop:
        cb(groups)
    lay = run.layer
    tot = {k: sum(g[k] for g in groups.values()) for k in
           ("run_ms", "cpu_ms", "shuffle_write_bytes", "spill_bytes")}
    lay["jvm.gc_ms"] = seg["gc_ms"]
    lay["jvm.executor_run_ms"] = tot["run_ms"]
    lay["jvm.executor_cpu_ms"] = tot["cpu_ms"]
    lay["jvm.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
    lay["jvm.spill_bytes"] = tot["spill_bytes"]
    # the time tracing itself took: span bookkeeping and the state poller
    # on the driver, plus the JVM thread that writes the event log
    cost = run.tracer.cost_s + seg["eventlog_cpu_s"]
    lay["trace.overhead_ratio"] = cost / seg["workload_s"]


if __name__ == "__main__":
    sys.exit(main())
