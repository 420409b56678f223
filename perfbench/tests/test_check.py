"""A gate comparison that differs counts as failed, whatever its values.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import workloads  # noqa: E402


def bare_run() -> workloads.Run:
    """A Run with only the counters ``check`` uses (no Spark, no corpus)."""
    run = object.__new__(workloads.Run)
    run.attempted = 0
    run.failed = 0
    run.errors = []
    return run


def test_scalar_mismatches_count_as_failed():
    run = bare_run()
    run.check("compacted doc count", 4039, 4040)
    run.check("replaced id 7 gone", True, False)
    assert (run.attempted, run.failed) == (2, 2)
    assert "got 4039 want 4040" in run.errors[0]
    assert "got True want False" in run.errors[1]


def test_list_mismatch_shows_first_hits():
    run = bare_run()
    got = [(1, 2.5), (2, 2.0), (3, 1.5), (4, 1.0)]
    run.check("brute-force 'def'", got, got[:3])
    assert run.failed == 1
    assert "got [(1, 2.5), (2, 2.0), (3, 1.5)]" in run.errors[0]


def test_equal_values_pass():
    run = bare_run()
    run.check("compacted doc count", 4040, 4040)
    run.check("hits", [(1, 2.5)], [(1, 2.5)])
    assert (run.attempted, run.failed, run.errors) == (2, 0, [])
