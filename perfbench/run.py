"""Benchmark entry point.

    python3 perfbench/run.py --workload area_requests --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it records the pinned environment and the workload's own metrics
under their own names. ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones, both as BENCHMARK.json lists them. See
README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of the host's memory, between 1 and 4 GB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1, min(4, total_kb // (4 << 20)))


def pin_env(work: str, trace: bool) -> dict:
    """Pin what the engine reads from the environment, and keep every
    temporary file inside the checkout. Must run before Spark starts.

    A traced run reads Spark's status stores after its timed window, so it
    raises their retention limits; the defaults keep 1000 jobs, and one area
    request runs about 35."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    retain = (
        "--conf spark.ui.retainedJobs=1000000 --conf spark.ui.retainedStages=1000000 "
        "--conf spark.sql.ui.retainedExecutions=1000000 "
        if trace
        else ""
    )
    pins = {
        "SPARK_GRAFT_CPUS": str(host_cores()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        # Python workers of pandas/Arrow UDFs import the engine by this path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} {retain}pyspark-shell"
        ),
    }
    os.environ.update(pins)
    return pins


def remove_work(work: str) -> None:
    """Remove this run's scratch directory, and the parent if it is empty."""
    shutil.rmtree(work, ignore_errors=True)
    if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
        os.rmdir(WORK_ROOT)


def java_version() -> str:
    try:
        proc = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"unknown ({e})"
    lines = (proc.stderr or proc.stdout).splitlines()
    return lines[0] if lines else "unknown"


def tree_peak_rss_mb() -> tuple[float, dict[str, float]]:
    """Sum of the peak resident sizes (VmHWM) of this process and all its
    descendants: the JVM and its Python workers. Also returns the sum per
    command name."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    per_name: dict[str, float] = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = fields["Name"].strip()
        per_name[name] = per_name.get(name, 0.0) + int(fields.get("VmHWM", "0 kB").split()[0]) / 1024
    return sum(per_name.values()), per_name


def stop_spark(spark) -> None:
    """Stop Spark, then end the JVM by closing its stdin and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _as_json(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("area_requests", "batch_ndjson", "registry_heavy"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    pins = pin_env(work, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark

        import __spark_entry__  # noqa: F401 — the registry workload's query list
        from database2ogr_spark.session import get_spark
    except ImportError as e:
        remove_work(work)
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, Ctx

    with open(SPEC) as fh:
        spec = json.load(fh)
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": host_cores(),
        "pins": {k: v for k, v in pins.items() if k.startswith("SPARK_GRAFT")},
        "pyspark": pyspark.__version__,
        "java": java_version(),
        "python": sys.version.split()[0],
        "loadavg_before": os.getloadavg(),
    }
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx = Ctx(spark, work, args.seed, args.seconds, bool(args.trace), host_cores())
        outcome = WORKLOADS[args.workload](ctx)
        rss_mb, env["peak_rss_mb_by_process"] = tree_peak_rss_mb()
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_work(work)

    env["loadavg_after"] = os.getloadavg()
    env["session_s"] = session_s
    env["workload_setup_s"] = outcome.setup_s
    env.update(outcome.info)
    metrics = dict(outcome.metrics)
    if args.trace:
        metrics["process.peak_rss_mb"] = (rss_mb, "MB")
        env["layers"] = _as_json(outcome.named)
    else:
        metrics["setup_s"] = (session_s + outcome.setup_s, "s")
        env["named"] = _as_json(
            {
                **outcome.named,
                "failed_frac": (outcome.failed / max(outcome.attempted, 1), "ratio"),
                "peak_rss_mb": (rss_mb, "MB"),
            }
        )
    got = {k: u for k, (_v, u) in metrics.items()}
    if got != wanted:
        raise RuntimeError(f"{args.workload} reported {got}, BENCHMARK.json lists {wanted}")
    print(json.dumps({"env": env}, default=str))
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": _as_json(metrics),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
