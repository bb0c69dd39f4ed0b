"""Lakehouse benchmark: one workload per run, end to end or traced.

    python3 perfbench/run.py --workload eager_queries --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of this repository, on
``local[<cores this process may use>]``, over the sf0.1 tables that
``TESTDATA.md`` lists (``SPARK_GRAFT_SF_DIR`` overrides the location).
The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The line
before it is the run record: host signature, loadavg and a fixed host
probe before and after the run, and the host's busy and stolen CPU
seconds during it.  Exits 1 when an op failed or an output
check did not hold, 2 when the program or its inputs are missing.

See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_lakehouse_platform_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
WORKLOADS = ("eager_queries", "lake_refresh")

sys.path.insert(0, HERE)

from metrics import OpTally  # noqa: E402
from tracer import Tracer, wrap_load_table  # noqa: E402


class MissingInput(Exception):
    pass


def data_dir() -> str:
    """The sf0.1 tables: ``SPARK_GRAFT_SF_DIR``, else TESTDATA.md's row."""
    path = os.environ.get("SPARK_GRAFT_SF_DIR")
    if path is None:
        manifest = os.path.join(ROOT, "TESTDATA.md")
        if not os.path.exists(manifest):
            raise MissingInput(f"{manifest} not found")
        with open(manifest) as fh:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read(), re.M)
        if m is None:
            raise MissingInput("TESTDATA.md lists no sf0.1 directory")
        path = m.group(1)
    path = path.rstrip("/")
    if not os.path.exists(os.path.join(path, "orders.parquet")):
        raise MissingInput(f"no tables under {path}")
    return path


def host_probe() -> float:
    """A fixed pure-Python loop; its time tracks the host, not the program."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def cpu_seconds() -> dict:
    """Host-wide busy and stolen CPU seconds since boot, from /proc/stat.

    Steal is time the hypervisor gave this machine's vCPUs to someone
    else while they had work: the clearest sign of a noisy neighbour.
    """
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = f[:8]
    return {"busy": (user + nice + system + irq + softirq) / tick, "steal": steal / tick}


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def sweep_stale_work_dirs() -> None:
    """Remove work dirs left by runs that were killed outright."""
    if not os.path.isdir(WORK_ROOT):
        return
    for entry in os.listdir(WORK_ROOT):
        pid = entry.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, entry), ignore_errors=True)


class Run:
    """What a workload gets: the session, its inputs and the run's tallies."""

    def __init__(self, args, data: str, work: str, tracer: Tracer):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.data_dir = data
        self.work = work
        self.tracer = tracer
        self.tally = OpTally()
        self.spark = None
        self.setup_s = None

    def setup_done(self) -> None:
        """Called once, just before the first timed op."""
        self.setup_s = time.perf_counter() - T0


def start_session(ctx: Run) -> dict:
    from data_lakehouse_platform_spark.session import get_spark

    t = time.perf_counter()
    ctx.spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.spark = ctx.spark
    return {"session.start_s": time.perf_counter() - t}


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit, killing it if it lingers."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def run_workload(ctx: Run) -> dict:
    if ctx.workload == "lake_refresh":
        import lake_refresh

        return lake_refresh.run(ctx)
    import eager_queries

    return eager_queries.run(ctx)


# Layers each workload touches; every per-layer metric of another layer
# reads 0 on it, which is also the prediction the README makes.
TOUCHED = {
    "eager_queries": {"session", "catalog", "queries", "spark", "trace"},
    "lake_refresh": {"session", "spark", "plans", "streaming", "sources", "trace"},
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    try:
        data = data_dir()
        declared = declared_metrics()[args.trace]
    except (MissingInput, OSError) as e:
        print(f"missing input: {e}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    cores = usable_cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    record = {
        "loadavg_before": os.getloadavg(),
        "host_probe_before_s": host_probe(),
    }
    cpu_before = cpu_seconds()
    # A SIGTERM unwinds like an exception, so the finally below still runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sweep_stale_work_dirs()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = work
    # For every JVM Spark starts, the launcher included: temp files in the
    # work dir, and no hsperfdata file (HotSpot writes that under /tmp).
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"

    sys.path.insert(0, ROOT)
    tracer = Tracer(enabled=False)
    if args.trace:
        wrap_load_table(tracer)
    ctx = Run(args, data, work, tracer)
    layers: dict = {}
    try:
        layers.update(start_session(ctx))
        metrics = run_workload(ctx)
        layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(ctx.spark)
        record.update(
            spark_version=ctx.spark.version,
            cores_honoured=ctx.spark.sparkContext.defaultParallelism,
        )
        if args.trace:
            tracer.dump(os.path.join(ROOT, f".perfbench-spans-{args.workload}.jsonl"))
    finally:
        try:
            if ctx.spark is not None:
                stop_session(ctx.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
                os.rmdir(WORK_ROOT)

    metrics["setup_s"] = ctx.setup_s
    metrics.update(layers)
    touched = TOUCHED[args.workload]
    out = {}
    for name, unit in declared.items():
        if name in metrics:
            value = metrics[name]
        elif args.trace and name.split(".")[0] not in touched:
            value = 0
        else:
            value = float("nan")  # the ops that measure it all failed
        out[name] = {"value": value if math.isfinite(value) else None, "unit": unit}
    correct = ctx.tally.failed == 0 and all(m["value"] is not None for m in out.values())
    record.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        nproc=cores,
        host_cpus=os.cpu_count(),
        sf_dir=os.path.basename(data),
        input_layout="one parquet file per table, as shipped",
        loadavg_after=os.getloadavg(),
        host_probe_after_s=host_probe(),
        **{f"cpu_{k}_s": v - cpu_before[k] for k, v in cpu_seconds().items()},
        extra={k: v for k, v in metrics.items() if k not in out},
    )
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.tally.attempted,
        "failed": ctx.tally.failed,
        "metrics": out,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
