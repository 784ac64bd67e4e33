"""bench.py's full suite record: a rerun adds an attempt file and never
overwrites an earlier one.  The host reference the bench divides by
runs on any session."""

import json
import os
import sys


def test_suite_record_reruns_add_attempts(tmp_path):
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import bench

    base = str(tmp_path / "suite_r6.json")
    first = bench.write_new_attempt(base, {"value": 1.0})
    second = bench.write_new_attempt(base, {"value": 2.0})
    assert first == str(tmp_path / "suite_r6_a1.json")
    assert second == str(tmp_path / "suite_r6_a2.json")
    assert json.load(open(first)) == {"value": 1.0}
    assert json.load(open(second)) == {"value": 2.0}
    # promotion to the round name is a separate, explicit copy
    assert not os.path.exists(base)


def test_host_reference_runs_on_shared_session(spark, monkeypatch):
    """The fixed-work host reference returns its wall seconds and leaves
    the session it was given running."""
    # importing scaling_bench prepends to sys.path and PYTHONPATH: undo both
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    from scripts import scaling_bench

    t = scaling_bench.host_reference_s(spark, 4)
    assert isinstance(t, float) and t > 0
    assert spark.range(3).count() == 3
