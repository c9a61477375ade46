"""The slow-tier manifest must name real tests: conftest marks a test
slow only when its node id matches a line of ``tests/slow_tests.txt``
exactly, so a renamed or deleted test leaves a stale line behind and
the renamed test silently moves into the default tier."""

from __future__ import annotations

import re
from pathlib import Path

TESTS = Path(__file__).resolve().parent


def test_slow_manifest_names_existing_tests():
    lines = (TESTS / "slow_tests.txt").read_text().splitlines()
    ids = [ln.strip() for ln in lines if ln.strip() and not ln.startswith("#")]
    assert ids
    stale = []
    for nid in ids:
        path, _, name = nid.partition("::")
        name = name.split("[", 1)[0]  # parametrized id → its function
        src = TESTS.parent / path
        if not (
            src.is_file()
            and re.search(rf"^\s*def {re.escape(name)}\(", src.read_text(), re.M)
        ):
            stale.append(nid)
    assert stale == []
