"""Self-test of the benchmark at sf0.001 (the bundled tables).

    python3 perfbench/selftest.py

1. Runs every workload once untraced and once traced, and asserts the
   last output line is the result object with every declared metric,
   each with its declared unit, and every output check passing.
2. Shows the ingest check can fail: after an export drain, deleting one
   partition file of the sink, or copying one, must each be reported.
3. Runs the command in a directory holding only BENCHMARK.json and the
   benchmark's files, where it must exit non-zero without a result.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int, seconds: int = 1) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", str(seconds), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(spec: dict, workload: str, trace: int) -> None:
    proc = run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    declared = spec["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared], result["metrics"].keys()
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, (m, got)
    print(f"ok   {workload} trace={trace}: {result['attempted']} checked operations", flush=True)


def check_ingest_check_can_fail() -> None:
    sys.path[:0] = [ROOT, HERE]
    from checks import check_topic
    from run import close_context, open_context
    from spool import JSON_TOPIC
    from workloads import IngestIncremental

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    ctx = open_context(7, os.path.join(HERE, "data", "sf0.001"), work)
    try:
        wl = IngestIncremental(ctx)
        wl.setup(0)
        sink = f"{wl.root}/sink"
        expected = wl.stream[JSON_TOPIC].keys()
        assert check_topic(sink, JSON_TOPIC, expected) == []
        files = sorted(glob.glob(f"{sink}/{JSON_TOPIC}/date=*/*.parquet"))
        shutil.copy(files[0], files[0].replace("part-", "copy-part-"))
        assert any("duplicate" in p for p in check_topic(sink, JSON_TOPIC, expected))
        os.remove(files[0].replace("part-", "copy-part-"))
        os.remove(files[0])
        assert any("missing" in p for p in check_topic(sink, JSON_TOPIC, expected))
        print("ok   ingest check reports a deleted and a duplicated partition file", flush=True)
    finally:
        close_context(ctx)
        shutil.rmtree(work, ignore_errors=True)


def check_bare_directory_fails(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(bare, spec["workloads"][0]["name"], 0)
        assert proc.returncode != 0, proc.stdout
        assert '"metrics"' not in proc.stdout, proc.stdout
        print("ok   a directory without the package exits non-zero, no result", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_bare_directory_fails(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, w["name"], trace)
    check_ingest_check_can_fail()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
