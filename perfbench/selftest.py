"""Self-test of the benchmark's correctness check; needs no Spark session.

    python3 perfbench/selftest.py

Run it from the repository root.  A result that differs from the oracle
in one cell, in its row count or in its column names, and a query that
raises, must each register as failed; the matching result must not.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

from run import execute_query  # noqa: E402

EXPECTED = {"columns": ["k", "v"], "rows": [["1", "2.5"], ["2", "∅"]]}


class _Frame:
    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return list(self._rows)


class _Contract:
    def __init__(self, name, columns=("k", "v"), rows=(), raises=False):
        self.name = name
        self._frame = _Frame(list(columns), rows)
        self._raises = raises

    def build(self, spark, data_dir):
        if self._raises:
            raise RuntimeError  # no message: the error line must cope
        return self._frame


def main() -> int:
    good = [(2, None), (1, 2.5)]
    cases = [
        (_Contract("matching", rows=good), False),
        (_Contract("corrupted_cell", rows=[(1, 2.5), (2, 0.0)]), True),
        (_Contract("missing_row", rows=[(1, 2.5)]), True),
        (_Contract("renamed_column", columns=("k", "w"), rows=good), True),
        (_Contract("raises", raises=True), True),
    ]
    results = [execute_query(c, None, "", EXPECTED) for c, _ in cases]
    bad = [
        (c.name, r["error"])
        for (c, should_fail), r in zip(cases, results)
        if bool(r["error"]) != should_fail
    ]
    failed = sum(1 for r in results if r["error"])
    if bad or failed != 4 or len(results) != len(cases):
        print(f"selftest FAILED: {bad}, {failed} of {len(results)} failed")
        return 1
    print(f"selftest ok: {failed} of {len(results)} executions registered as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
