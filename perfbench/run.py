"""CDC lake benchmark: one closed-loop client driving the engine's public
entry points on ``local[4]``.

    python3 perfbench/run.py --workload cdc-cow --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/RATIONALE.md): ``cdc-cow``, ``cdc-mor``. Every
run times the same fixed work (``timed_batches`` below); ``--seconds``
is accepted for the command's interface and does not change it. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the same loop runs under span tracing and the last line
carries the per-layer metrics. Earlier lines hold the host record and a
report of every metric by name and unit. Every result is checked against
a pure-Python replay of the generated events; any mismatch makes the exit
code non-zero.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
# a run is marked contended when the hypervisor stole more than this share
# of the VM's CPU time (wall time x nproc) while it ran
STEAL_CONTENDED = 0.01

# name -> workload parameters; sizes are explained in RATIONALE.md
WORKLOADS = {
    "cdc-cow": dict(mode="cow", keys=2000, rows_per_batch=1000, timed_batches=3),
    "cdc-mor": dict(mode="mor", keys=20000, rows_per_batch=2000, timed_batches=2),
}
E2E = ("setup_s", "ingest_rows_per_s", "sync_p50_ms", "live_bytes_per_row")
UNITS = {"setup_s": "s", "ingest_rows_per_s": "rows/s", "live_bytes_per_row": "bytes/row",
         "lake_table.bytes_written_per_row": "bytes/row", "failed_frac": "fraction"}


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


# interpreter start-up before T_START counts toward set-up time
STARTUP_S = process_age_s()


def cpu_steal_s() -> float:
    """CPU time the hypervisor took from this VM since boot, all CPUs."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def host_record(foreign: list[int]) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": f"local[{CORES}]",
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "loadavg_1m": os.getloadavg()[0],
        "foreign_spark_jvms_at_start": foreign,
        "cpu_steal_s": cpu_steal_s(),
    }


def start_session(work: str):
    from pyspark.sql import SparkSession

    from hudi_spark_plus_spark.session import configure_session

    spark = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{CORES}]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return configure_session(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            proc.wait(timeout=60)


def pct_tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (None, None) below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None
    s = sorted(xs)
    return s[n - 11], 100.0 * (n - 10) / n


def e2e_metrics(wl, setup_s: float) -> dict:
    out: dict = {"setup_s": setup_s}
    spent = sum(o.ms for o in wl.ops) / 1000.0
    for kind in ("sync_batch", "lookup", "scan"):
        xs = [o.ms for o in wl.ops if o.kind == kind]
        if not xs:
            continue
        name = "sync" if kind == "sync_batch" else kind
        out[f"{name}_p50_ms"] = statistics.median(xs)
        tail, pct = pct_tail(xs)
        out[f"{name}_tail_ms"] = tail
        out[f"{name}_tail_pct"] = pct
        out[f"{name}_samples"] = len(xs)
    out["ingest_rows_per_s"] = wl.change_rows / spent if spent else None
    live_bytes, live_rows = wl.storage()
    out["live_bytes_per_row"] = live_bytes / live_rows if live_rows else None
    out["live_bytes"] = live_bytes
    out["live_rows"] = live_rows
    out["timed_s"] = spent
    out["failed_frac"] = wl.checker.failed / max(1, wl.checker.attempted)
    return out


def unit_of(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_frac", "fraction"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine and bench.py sit at the root of the checkout
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from bench import _foreign_spark_jvms

    import hudi_spark_plus_spark  # noqa: F401  (fail before creating anything)

    foreign = _foreign_spark_jvms()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # temp files of Python, the launcher JVM and the gateway JVM stay in
    # the checkout
    os.environ["TMPDIR"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")  # wins over spark.local.dir
    import tempfile

    tempfile.tempdir = work
    host = host_record(foreign)
    print(json.dumps({"host": host}), flush=True)

    from workloads import CdcWorkload

    t = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t
    try:
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        wl = CdcWorkload(spark, work, args.seed, **WORKLOADS[args.workload])
        wl.setup()
        setup_s = STARTUP_S + (time.perf_counter() - T_START)
        if tracer is not None:
            wl.tracer = tracer
            tracer.install()
        try:
            wl.run()
        except Exception as ex:  # a failed operation is counted, not fatal
            wl.checker.error("run", ex)
        finally:
            if tracer is not None:
                tracer.uninstall()
        t = time.perf_counter()
        try:
            wl.verify()
        except Exception as ex:
            wl.checker.error("verify", ex)
        wl.phases["verify_s"] = time.perf_counter() - t
        m = e2e_metrics(wl, setup_s)
        if tracer is not None:
            from spans import layer_metrics

            layers = layer_metrics(tracer.spans, wl.change_rows, tracer.overhead_s)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"))
        host["loadavg_1m_end"] = os.getloadavg()[0]
        host["cpu_steal_s"] = cpu_steal_s() - host["cpu_steal_s"]
        gw_pid = getattr(getattr(spark.sparkContext._gateway, "proc", None), "pid", None)
        host["foreign_spark_jvms_at_end"] = [p for p in _foreign_spark_jvms() if p != gw_pid]
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    wall_s = time.perf_counter() - T_START + STARTUP_S
    host["steal_share"] = host["cpu_steal_s"] / (wall_s * (os.cpu_count() or 1))
    contended = bool(host["foreign_spark_jvms_at_start"] or host["foreign_spark_jvms_at_end"]
                     or host["steal_share"] > STEAL_CONTENDED)
    report = {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}
    if tracer is not None:
        report.update({k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()})
    samples = {}
    for o in wl.ops:
        samples.setdefault(o.kind, []).append(round(o.ms, 1))
    print(json.dumps({"report": report, "workload": args.workload, "seed": args.seed,
                      "contended": contended, "host": host, "samples_ms": samples,
                      "phases_s": {"session_s": session_s, **wl.phases},
                      "mismatches": wl.checker.mismatches}), flush=True)

    chosen = layers if tracer is not None else {k: m.get(k) for k in E2E}
    result = {
        "correct": wl.checker.correct,
        "attempted": wl.checker.attempted,
        "failed": wl.checker.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in chosen.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if wl.checker.correct else 1


if __name__ == "__main__":
    sys.exit(main())
