"""The fast test tier (tests/conftest.py) deselects the SLOW_TESTS node
ids unless the run asks for tests explicitly. These tests pin both halves:
every SLOW_TESTS entry names a collected test, and an explicit selection
(node id, ``-k``, ``-m``) is never silently narrowed by the tier."""

from __future__ import annotations

import os
import subprocess
import sys

from .conftest import SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
SLOW_ID = "test_versioned.py::test_snapshot_resolution_is_o1_at_any_history_length"


def _collected(*args: str, full: bool = False) -> list[str]:
    """Node ids (file::test[param]) a ``pytest --collect-only`` run keeps."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_FULL_TESTS"}
    if full:
        env["SPARK_GRAFT_FULL_TESTS"] = "1"
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         "-p", "no:cacheprovider", *args],
        cwd=os.path.dirname(TESTS_DIR), env=env, capture_output=True,
        text=True,
    ).stdout
    return [line.strip().split("/")[-1] for line in out.splitlines() if "::" in line]


def test_every_slow_entry_resolves_to_a_collected_test():
    collected = set(_collected("tests", full=True))
    assert SLOW_TESTS <= collected, sorted(SLOW_TESTS - collected)


def test_explicit_selection_bypasses_tiering():
    assert SLOW_ID in SLOW_TESTS
    path = "tests/" + SLOW_ID.split("::")[0]
    name = SLOW_ID.split("::")[1]
    assert SLOW_ID not in _collected(path)  # the default tier drops it
    assert _collected("tests/" + SLOW_ID) == [SLOW_ID]
    assert SLOW_ID in _collected(path, "-k", name)
    assert SLOW_ID in _collected(path, "-m", "slow")
