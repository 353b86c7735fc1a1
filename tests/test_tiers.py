"""The test-tier contract: the slow tier is non-empty, and every test
named in ``conftest._SLOW_TESTS`` still exists. A renamed or deleted
test would otherwise drop out of the slow set silently while its key
lingers."""

from __future__ import annotations

import os
import subprocess
import sys

from tests.conftest import _SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def test_slow_tier_collects_every_named_test():
    out = subprocess.run(
        [sys.executable, "-m", "pytest", TESTS_DIR, "--collect-only", "-q",
         "-m", "slow", "-p", "no:cacheprovider"],
        capture_output=True, text=True, cwd=os.path.dirname(TESTS_DIR),
        check=True,
    ).stdout
    slow = {
        (node.split("::")[0].rsplit("/", 1)[-1][:-3], node.split("::")[1].split("[")[0])
        for node in out.splitlines()
        if "::" in node
    }
    assert slow
    assert _SLOW_TESTS <= slow, sorted(_SLOW_TESTS - slow)
