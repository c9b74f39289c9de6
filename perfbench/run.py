"""Lakehouse benchmark: one command, one named workload, one seed.

    python3 perfbench/run.py --workload ingest_incremental --seed 1 --seconds 10 --trace 0

Workloads: ingest_incremental and lake_queries (see BENCHMARK.json for
why each was chosen, and NOTES.md for sizing and the per-layer map). The run sets up the workload
several times (reporting the median set-up time), runs one untimed,
checked warm-up operation, then runs timed operations for `--seconds`
and checks each one's output.

Standard output: a provenance line (cores, loadavg, sf, seed, commit,
versions, per-operation times), then, as the last line, the result:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, measured untraced; with `--trace 1` the
run alternates untraced and traced operations, reports the per-layer
metrics of the traced ones plus the tracing overhead, and writes the
spans to `.perfbench_out/`.

Everything is read and written inside the checkout; the run exits
non-zero without a result when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_DATA = os.path.join(HERE, "data", "sf0.001")
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


@dataclass
class Context:
    spark: object
    work: str
    data_dir: str
    seed: int
    nproc: int
    master: str
    tracer: object = None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def open_context(seed: int, data_dir: str, work: str) -> Context:
    """Start a local Spark session with every scratch directory inside
    `work`, and the package importable by Python workers."""
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf \"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData\" "
        f"--conf spark.sql.warehouse.dir={work}/warehouse "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from redpanda_to_parquet_writer_spark.config import EngineConfig
    from redpanda_to_parquet_writer_spark.session import get_spark

    n = nproc()
    master = f"local[{n}]"
    spark = get_spark(EngineConfig(master=master, shuffle_partitions=n), app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return Context(spark=spark, work=work, data_dir=data_dir, seed=seed, nproc=n, master=master)


def close_context(ctx: Context) -> None:
    """Stop Spark and wait for its JVM to exit (Python workers stop with
    the context)."""
    gateway = ctx.spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    ctx.spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM plus this driver process, in MiB."""
    total_kb = 0
    for pid in (spark._jvm.ProcessHandle.current().pid(), os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def provenance(args, ctx: Context, load_start) -> dict:
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = res.stdout.strip() or None
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "redpanda_to_parquet_writer_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    digest.update(f.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": os.path.basename(os.path.normpath(ctx.data_dir)),
        "nproc": ctx.nproc,
        "master": ctx.master,
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "git_commit": commit,
        "package_sha256": digest.hexdigest()[:16],
        "spark": ctx.spark.version,
        "java": ctx.spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def measure(wl, seconds: float, trace: bool) -> tuple[list[float], list[float]]:
    """Timed operations until `seconds` have passed and at least the
    workload's `min_ops` ran (so every run's median has the same number of
    samples). With tracing they alternate untraced and traced, and at
    least one of each runs."""
    untraced: list[float] = []
    traced: list[float] = []
    t0 = time.perf_counter()
    i = 0
    while True:
        is_traced = trace and i % 2 == 1
        try:
            dt = wl.op(i, is_traced)
            (traced if is_traced else untraced).append(dt)
            log(f"op {i}{' traced' if is_traced else ''}: {dt:.3f}s")
        except Exception:  # noqa: BLE001 - an operation that raises is a failed operation
            wl.attempted += 1
            wl.failed += 1
            wl.problems.append(f"op {i}: {traceback.format_exc(limit=3)}")
            log(f"op {i} raised:\n{traceback.format_exc()}")
        i += 1
        elapsed = time.perf_counter() - t0
        enough = i >= wl.min_ops and untraced and (traced or not trace)
        if (elapsed >= seconds and enough) or elapsed >= seconds + 150:
            return untraced, traced


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA, help="directory of the input tables")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        log(f"unknown workload {args.workload!r}")
        return 2
    sys.path[:0] = [ROOT, HERE]
    try:
        import redpanda_to_parquet_writer_spark as package
    except ImportError as exc:
        log(f"the package is not importable: {exc}")
        return 2
    if not os.path.abspath(package.__file__).startswith(ROOT + os.sep):
        log(f"the package must come from this checkout, not {package.__file__}")
        return 2
    from tracing import Tracer
    from workloads import IngestIncremental, LakeQueries

    load_start = list(os.getloadavg())
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    ctx = open_context(args.seed, os.path.abspath(args.data), work)
    try:
        ctx.tracer = Tracer()
        wl = {w.name: w for w in (IngestIncremental, LakeQueries)}[args.workload](ctx)
        setup_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t0)
            log(f"setup {rep}: {setup_s[-1]:.3f}s")
        t0 = time.perf_counter()
        wl.warm()
        log(f"warm-up (checked): {time.perf_counter() - t0:.3f}s")
        untraced, traced = measure(wl, args.seconds, bool(args.trace))
        if not untraced or (args.trace and not traced):
            log("no untraced or no traced operation completed")
            return 1
        if args.trace:
            values = dict(wl.layers())
            values["trace.overhead_pct"] = 100.0 * (
                statistics.median(traced) / statistics.median(untraced) - 1.0
            )
            names = spec["per_layer"]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
            ctx.tracer.dump(f"{stem}-spans.jsonl")
            with open(f"{stem}-layers.json", "w") as f:
                json.dump(values, f, indent=1, sort_keys=True)
        else:
            values = {
                "setup_s": statistics.median(setup_s),
                "peak_rss_mb": peak_rss_mb(ctx.spark),
                "op_p50_s": statistics.median(untraced),
                **wl.e2e(),
            }
            names = spec["end_to_end"]
        unknown = set(values) - {m["name"] for m in names}
        if unknown:
            log(f"measured but not declared in BENCHMARK.json: {sorted(unknown)}")
        record = {
            "provenance": provenance(args, ctx, load_start),
            "shape": wl.describe(),
            "setup_s": [round(s, 4) for s in setup_s],
            "op_s": [round(s, 4) for s in untraced],
            "traced_op_s": [round(s, 4) for s in traced],
            "problems": wl.problems[:20],
        }
        print(json.dumps(record), flush=True)
        for p in wl.problems:
            log(f"CHECK FAILED: {p}")
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {
                m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names
            },
        }
    finally:
        close_context(ctx)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
