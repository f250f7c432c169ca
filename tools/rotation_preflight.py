"""Driver-sample preflight: fails loudly if the computed registry
order in plans/__init__.py is unsound — a ``_CHANGED`` name that is
not registered, has no oracle or does not fit the driver sample, or a
head that is not DRIVER_SAMPLE distinct oracle-backed names. Run
standalone or via the test suite
(tests/test_entry.py::test_rotation_head_invariants).

Usage: python tools/rotation_preflight.py
Exit status: number of problems (0 = sound).
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from datapipeline_spike_spark.plans import rotation_preflight  # noqa: E402


def main() -> int:
    problems = rotation_preflight()
    for p in problems:
        print(f"ROTATION PROBLEM: {p}")
    if not problems:
        print("rotation preflight: sound")
    return len(problems)


if __name__ == "__main__":
    raise SystemExit(main())
