"""bench.py runs a fixed recipe: a fixed number of timed passes per leaf,
every pass kept, no capacity probe, no waiting for a quiet host and no
environment knobs beyond its three documented ones. The test names are
those of the former probe-gate and trial-budget tests; the gate and the
adaptive budget are gone, and these pin what replaced them. Pure Python,
no Spark."""

import ast
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench.py")
DOCUMENTED_ENV = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_DOCS"}


def _load():
    spec = importlib.util.spec_from_file_location("bench_under_test", BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tree():
    with open(BENCH) as f:
        return ast.parse(f.read())


def _calls(fn_name):
    """Call sites in bench.py whose callee is ``fn_name`` or ``x.fn_name``."""
    return [n for n in ast.walk(_tree()) if isinstance(n, ast.Call)
            and (getattr(n.func, "attr", None) == fn_name
                 or getattr(n.func, "id", None) == fn_name)]


def test_trial_budget_fixed_recipe_for_legs():
    """Every leaf runs exactly its fixed number of passes (the old
    defaults), with no adaptive "draw until two agree" cap."""
    b = _load()
    assert (b.ROLLUP_TRIALS, b.QUERY_TRIALS, b.FEAT_SERIES) == (5, 3, 500)
    for n in (1, 3, 5):
        ran = []
        secs = b._timed(n, lambda: ran.append(1))
        assert len(ran) == n and len(secs) == n


def test_probe_gate_quiet_classification(monkeypatch):
    """No pass is classified away as noisy: a slow pass stays in the
    spread (``sec_all``), sorted behind the fast ones."""
    b = _load()
    clock = iter([0.0, 5.0, 10.0, 10.5, 20.0, 21.0])  # passes of 5s, 0.5s, 1s
    monkeypatch.setattr(b.time, "time", lambda: next(clock))
    assert b._timed(3, lambda: None) == [0.5, 1.0, 5.0]


def test_probe_gate_wait_respects_budgets(monkeypatch):
    """The wait budget is zero: bench.py has no sleep call, and timed
    passes run with sleeping forbidden."""
    assert _calls("sleep") == []
    b = _load()
    monkeypatch.setattr(b.time, "sleep",
                        lambda s: pytest.fail("bench.py must not wait for a quiet host"))
    assert len(b._timed(2, lambda: None)) == 2


def test_probe_gate_disabled_for_trial_children(monkeypatch):
    """The gate is off for every run, not only trial children: bench.py
    reads only its three documented variables, so the old gate and trial
    knobs change nothing."""
    read = set()
    for call in _calls("get") + _calls("getenv"):
        if call.args and isinstance(call.args[0], ast.Constant):
            read.add(call.args[0].value)
    assert read == DOCUMENTED_ENV
    for var, val in (("SPARK_GRAFT_TRIAL_CHILD", "1"), ("SPARK_GRAFT_PROBE_GATE", "1"),
                     ("SPARK_GRAFT_TRIALS", "1"), ("SPARK_GRAFT_MAX_TRIALS", "9"),
                     ("SPARK_GRAFT_QUERY_TRIALS", "7"), ("SPARK_GRAFT_FEAT_SERIES", "9")):
        monkeypatch.setenv(var, val)
    b = _load()
    assert (b.ROLLUP_TRIALS, b.QUERY_TRIALS, b.FEAT_SERIES) == (5, 3, 500)


def test_dev_parent_child_does_not_wait_or_claim():
    """No run waits or claims anything: bench.py opens no file of its own
    (no flag, no probe history) and writes only through Spark under its
    git-ignored data directory."""
    assert _calls("sleep") == [] and _calls("open") == []
    b = _load()
    assert os.path.relpath(b.DATA_DIR, REPO) == ".data"
    with open(os.path.join(REPO, ".gitignore")) as f:
        assert ".data/" in f.read().split()
