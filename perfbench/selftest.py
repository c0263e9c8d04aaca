"""Self-test of the benchmark at tiny input sizes.

    python3 perfbench/selftest.py

For every workload, untraced and traced, it runs the benchmark and checks
the result line against BENCHMARK.json: every listed metric is printed
with its unit, the outputs were checked correct and nothing failed; the
report line carries the workload's own end-to-end metrics with units. It
also checks that the benchmark fails, without a result, in a directory
that holds only BENCHMARK.json and the benchmark. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REPORT_ONLY = {
    "cascade": {"stored_bytes_per_token": "B/token"},
    "maintain": {"resume_s": "s", "freshness_s": "s"},
    "query_mix": {"series_per_s": "series/s", "dedup_s": "s", "sql_s": "s"},
}


def _run(root: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=root, capture_output=True, text=True, timeout=600)


def check_workload(bench: dict, workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    wanted = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
    report = json.loads(lines[-2])["report"]
    for name, unit in {**REPORT_ONLY[workload], "failed_frac": "ratio"}.items():
        got = report["metrics"][name]
        assert got["unit"] == unit and {"median", "q1", "q3", "n"} <= set(got), (name, got)
    for it in report["iterations"]:
        assert {"nproc", "iowait_share", "steal_share", "loadavg_1m"} <= set(it["host"])
    if trace:
        assert os.path.exists(os.path.join(ROOT, report["spans_file"]))
        assert {"scan", "identity", "noop", "parquet"} == set(report["layer_detail"]["arms_s"])


def check_without_engine(bench: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench-work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(bare, "cascade", 0)
    shutil.rmtree(bare)
    assert proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_without_engine(bench)
    print("ok: fails without the engine")
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_workload(bench, w["name"], trace)
            print(f"ok: {w['name']} trace={trace}")


if __name__ == "__main__":
    main()
