"""Tree CPU accounting, which the former scaling harness did with os.wait4
and the repo benchmark (perfbench/probes.py) now does from /proc: the
``cpu_s`` it reports must cover the whole process tree, including CPU
burned by a child's own children after they exit. Pure Python, no Spark."""

import importlib.util
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probes():
    spec = importlib.util.spec_from_file_location(
        "perfbench_probes", os.path.join(REPO, "perfbench", "probes.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_run_with_tree_cpu_captures_output_and_cpu():
    """A live child is part of the tree, and a reaped grandchild's CPU
    (the JVM/daemon tree in real runs) lands in the tree total."""
    probes = _probes()
    live = subprocess.Popen([sys.executable, "-c", "import sys; sys.stdin.read()"],
                            stdin=subprocess.PIPE)
    try:
        assert live.pid in probes.process_tree()
    finally:
        live.communicate(b"")
    code = ("import subprocess, sys;"
            "subprocess.run([sys.executable, '-c',"
            "'x=0\\nfor i in range(4*10**6): x+=i*i']);"
            "print('OUT-MARKER'); sys.stderr.write('ERR-MARKER')")
    before = probes.tree_cpu_s()
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=60)
    cpu = probes.tree_cpu_s() - before
    assert r.returncode == 0 and "OUT-MARKER" in r.stdout and "ERR-MARKER" in r.stderr
    assert cpu > 0.05
