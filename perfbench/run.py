"""spark-graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates its inputs from the
seed into a fresh directory under ``perfbench/.runs/``, starts a Spark
session through the package's ``get_spark`` (set up ``SETUP_REPS``
times; ``setup_s`` is the median), warms up, measures closed-loop ops
for ``--seconds``, checks every output against DuckDB and prints:

- ``metric <name> <value> <unit>`` lines for every named metric;
- ``record {...}``: the provenance record (also written, failed runs
  included, to ``perfbench/.runs/records/``);
- last, one JSON object ``{"correct", "attempted", "failed",
  "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
  per-layer metrics of a traced run (``--trace 1``).

Exit code 0 when every op passed its check, 1 when any failed, 2 when
the package is not importable, 3 when the run itself crashed (no
result line then).  See ``perfbench/README.md`` for the design.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
PACKAGE = "gaming_ai_analytics_spark"

SETUP_REPS = 3
SETTLE_MAX_S = 1.0
WALL_LIMIT_S = 170


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["analyst_mix", "curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (for the benchmark's own tests)")
    return p.parse_args(argv)


# --------------------------------------------------------------------------
# provenance
# --------------------------------------------------------------------------
def _cmd(args: list[str]) -> str | None:
    try:
        out = subprocess.run(args, cwd=ROOT, capture_output=True, text=True, timeout=20)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout or out.stderr).strip() if out.returncode == 0 else None


def source_digest() -> str:
    """sha256 over the package sources (the checkout need not be a git
    repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def provenance(args: argparse.Namespace, cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    try:
        jv = subprocess.run([java, "-version"], capture_output=True, text=True, timeout=20).stderr
        java_version = jv.splitlines()[0] if jv else None
    except (OSError, subprocess.TimeoutExpired):
        java_version = None
    status = _cmd(["git", "status", "--porcelain", "--untracked-files=no"])
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "smoke": args.smoke,
        "git_sha": _cmd(["git", "rev-parse", "HEAD"]),
        "git_dirty": None if status is None else bool(status),
        "source_digest": source_digest(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "java": java_version,
        "python": platform.python_version(),
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def settle() -> dict:
    """Bounded wait for the 1-min load average to fall below half the
    cores (a longer wait does not fit the run budget)."""
    limit = max(1.0, 0.5 * (os.cpu_count() or 1))
    before = os.getloadavg()[0]
    t0 = time.perf_counter()
    while os.getloadavg()[0] > limit and time.perf_counter() - t0 < SETTLE_MAX_S:
        time.sleep(0.25)
    return {
        "load1_before": round(before, 2),
        "load1_after_settle": round(os.getloadavg()[0], 2),
        "settle_wait_s": round(time.perf_counter() - t0, 2),
        "settle_limit": limit,
    }


def process_tree() -> set[int]:
    """This process and its descendants (the JVM and its Python workers)."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parents[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS counters, so the peak is the measured
    phase's and not the warm-up's (which runs on every core at once)."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def peak_rss_mb() -> dict[str, float]:
    """Peak resident size of each process of ``process_tree()`` since
    ``reset_peak_rss``, by ``<name>:<pid>``."""
    out = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024
    return out


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------
def _abort(record: dict, run_dir: str):
    """Handler for SIGALRM (a run past ``WALL_LIMIT_S``: a hung Spark job
    or client thread) and SIGTERM: kill the JVM, write the record, remove
    the run directory and exit 3 without a result line.  Raising instead
    could block on the hung threads."""

    def handler(signum, frame):
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        record["crash"] = (
            f"run exceeded {WALL_LIMIT_S} s" if signum == signal.SIGALRM else f"signal {signum}"
        )
        write_record(record)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: {record['crash']}", file=sys.stderr, flush=True)
        os._exit(3)

    return handler


def write_record(record: dict) -> None:
    with open(os.path.join(RUNS, "records", f"{record['run_id']}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)


def start_session(run_dir: str):
    from gaming_ai_analytics_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            # keeps get_spark's timezone pin; moves the JVM's temp dir and
            # drops its /tmp/hsperfdata file, so the run writes only here
            "spark.driver.extraJavaOptions": (
                f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def run(args: argparse.Namespace, record: dict, run_dir: str, cores: int) -> dict:
    import gen
    import report
    import workloads
    from tracing import Tracer, install_wrappers

    tracer = Tracer()
    if args.trace:
        install_wrappers(tracer)
    sf_dir = os.path.join(run_dir, "inputs")
    w = workloads.WORKLOADS[args.workload](sf_dir, run_dir, args.seed, cores, args.smoke, tracer)
    t0 = time.perf_counter()
    record["input_rows"] = w.write_inputs()
    record["input_gen_s"] = round(time.perf_counter() - t0, 3)
    stats = ThreadPoolExecutor(1).submit(gen.corpus_stats, sf_dir)  # overlaps Spark start

    spark = None
    setup, session_start = [], []
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(run_dir)
            session_start.append(time.perf_counter() - t0)
            w.prepare(spark)
            spark.range(1).count()
            setup.append(time.perf_counter() - t0)
        record["setup_reps_s"] = [round(s, 3) for s in setup]
        t0 = time.perf_counter()
        w.warmup()
        record["warmup_s"] = round(time.perf_counter() - t0, 3)
        reset_peak_rss()
        t0 = time.perf_counter()
        ops = w.measure(args.seconds, bool(args.trace))
        record["measure_s"] = round(time.perf_counter() - t0, 3)
        record["peak_rss_by_process_mb"] = peaks = peak_rss_mb()
        rss = sum(peaks.values()) or resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        t0 = time.perf_counter()
        w.check(ops)
        record["check_s"] = round(time.perf_counter() - t0, 3)
    finally:
        w.close()
        if spark is not None:
            stop_session(spark)

    record["corpus"] = stats.result()
    all_ops = w.warmup_ops + ops
    seen: set[str] = set()
    for op in sorted(all_ops, key=lambda op: op.start):
        op.info["repeat"] = op.key in seen
        seen.add(op.key)
    record["repeated_share"] = round(sum(op.info["repeat"] for op in all_ops) / len(all_ops), 4)
    record["ops"] = [
        [op.kind, op.key[:60], op.client, round(op.latency, 4), op.rows, op.info.get("steps")]
        for op in all_ops
    ]
    failed = [op for op in all_ops if op.error]
    record["attempted"], record["failed"] = len(all_ops), len(failed)
    record["errors"] = [
        {"key": op.key, "kind": op.kind, "error": op.error, "traceback": op.info.get("traceback")}
        for op in failed[:20]
    ]
    one = [op for op in ops if op.client == 0 and op.error is None]
    named = named_metrics(args.workload, one, w, setup, rss, len(failed) / len(all_ops))
    record["named_metrics"] = named
    if args.trace:
        extra = dict(
            w.extra,
            cores=cores,
            docs=record.get("corpus", {}).get("docs"),
            session_start_s=statistics.median(session_start),
            failed_frac=len(failed) / len(all_ops),
        )
        metrics = report.per_layer(ops, tracer, extra)
        units = {n: u for n, u, _ in report.PER_LAYER}
        spans_path = os.path.join(RUNS, "records", f"{record['run_id']}.spans.json")
        with open(spans_path, "w") as fh:
            json.dump([s.__dict__ for s in tracer.spans], fh, default=str)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        metrics = {
            "setup_s": named["setup_s"][0],
            "op_p50_s": named["op_p50_s"][0],
            "ops_per_s": named["ops_per_s"][0],
        }
        units = {n: u for n, u, _ in report.END_TO_END}
    return {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def named_metrics(workload, one, w, setup, rss, failed_frac) -> dict:
    """Every named metric of the workload: (value, unit[, samples])."""
    import report

    lat = [op.latency for op in one]
    out: dict[str, tuple] = {
        "setup_s": (statistics.median(setup), "s"),
        "peak_rss_mb": (rss, "MB"),
        "ops_failed_frac": (failed_frac, "ratio"),
    }
    if workload == "analyst_mix":
        out["query_p50_s"] = (statistics.median(lat), "s", len(lat))
        out["query_p90_s"] = (report.percentile(lat, 0.9), "s", len(lat))
        out["queries_per_s"] = (len(lat) / sum(lat), "1/s", len(lat))
        out["op_p50_s"] = out["query_p50_s"]
        out["ops_per_s"] = out["queries_per_s"]
    else:
        passes = [op.latency for op in one if op.kind == "pass"]
        cycles = [op.latency for op in one if op.kind == "refresh"]
        out["curation_s"] = (statistics.median(passes), "s", len(passes))
        # the first build runs once per run, in the warm-up (cold)
        first = [op.latency for op in w.warmup_ops if op.kind == "first_build"]
        out["first_build_cold_s"] = (first[0], "s", 1)
        out["refresh_p50_s"] = (statistics.median(cycles), "s", len(cycles))
        out["op_p50_s"] = out["curation_s"]
        out["ops_per_s"] = (len(passes) / sum(passes), "1/s", len(passes))
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        __import__(PACKAGE)
    except ImportError as ex:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {ex}", file=sys.stderr)
        return 2

    cores = min(int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 1, os.cpu_count() or 1)
    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(RUNS, run_id)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(RUNS, "records"), exist_ok=True)
    # the package, the JVM and the Python workers all see these
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # spark-submit's launcher JVM
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")

    record = provenance(args, cores)
    record["run_id"] = run_id
    record.update(settle())
    for sig in (signal.SIGALRM, signal.SIGTERM):
        signal.signal(sig, _abort(record, run_dir))
    signal.alarm(WALL_LIMIT_S)
    t0 = time.perf_counter()
    result = None
    try:
        result = run(args, record, run_dir, cores)
    except Exception as ex:  # noqa: BLE001 - the run boundary: record, then fail loudly
        record["crash"] = f"{type(ex).__name__}: {ex}"
        record["crash_traceback"] = traceback.format_exc()
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
        record["wall_s"] = round(time.perf_counter() - t0, 3)
        record["load1_end"] = round(os.getloadavg()[0], 2)
        write_record(record)

    if result is None:
        print(f"perfbench: run crashed: {record['crash']}", file=sys.stderr)
        print(record["crash_traceback"], file=sys.stderr)
        return 3
    for name, (value, unit, *n) in record["named_metrics"].items():
        print(f"metric {name} {value:.6g} {unit}" + (f" (n={n[0]})" if n else ""))
    print("record " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
