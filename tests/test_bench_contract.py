"""bench.py's driver contract: a run prints exactly one JSON line carrying
the keys the driver reads. Timings are not asserted."""

import json
import os
import subprocess
import sys

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the smallest scale factor, beside the bench's default tables
SF_DIR = os.path.join(os.path.dirname(bench.SF_DIR.rstrip("/")), "sf0.001")


def test_bench_prints_one_json_line_with_the_contract_keys():
    env = dict(os.environ, SPARK_GRAFT_BENCH_DOCS="40", SPARK_GRAFT_SF_DIR=SF_DIR)
    r = subprocess.run([sys.executable, os.path.join(REPO, "bench.py")], cwd=REPO,
                       env=env, capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-4000:]
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, r.stdout
    out = json.loads(lines[0])
    for key in ("metric", "value", "unit", "queries", "rollup", "features"):
        assert key in out, key
    for key in ("tokens_per_sec", "sec_all", "sec_median"):
        assert key in out["rollup"], key
    assert set(out["queries"]) >= {"rollup_cascade", "feats_default_set", *bench.BENCH_QUERIES}
    assert out["rollup"]["tokens_per_sec"] > 0
