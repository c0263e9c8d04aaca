import os
import subprocess

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_STATUS_KEY = pytest.StashKey[list]()


def _git_status() -> list[str] | None:
    """`git status --porcelain` lines of the checkout, or None without git
    or outside a work tree."""
    try:
        r = subprocess.run(["git", "status", "--porcelain"], cwd=REPO,
                           capture_output=True, text=True, timeout=120)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.splitlines() if r.returncode == 0 else None


def pytest_sessionstart(session):
    session.config.stash[_STATUS_KEY] = _git_status()


def pytest_sessionfinish(session, exitstatus):
    """The suite must leave `git status` as it found it: fail the session
    when a test wrote to a tracked file or left an untracked one behind."""
    before = session.config.stash.get(_STATUS_KEY, None)
    after = _git_status() if before is not None else None
    if after is None:
        return
    changed = sorted(set(before) ^ set(after))
    if changed:
        tr = session.config.pluginmanager.get_plugin("terminalreporter")
        tr.write("\n")
        tr.write_sep("=", "test run changed `git status --porcelain`", red=True)
        for line in changed:
            tr.write_line(f"  {line}")
        session.exitstatus = pytest.ExitCode.TESTS_FAILED


@pytest.fixture(scope="session")
def spark():
    from tsfeatures_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()
