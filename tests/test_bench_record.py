"""bench.py's full suite record: a rerun adds an attempt file and never
overwrites an earlier one.  The scaling gate's settled() criterion reads
a sync rate of 0.0 as "probe unavailable"."""

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


def test_calm_hunt_sync_rate_zero_means_probe_unavailable(monkeypatch):
    """A best-build sync rate of 0.0 is scaling_bench's "probe
    unavailable" sentinel: with a sync baseline set, settled() must give
    what it gives with no baseline, not refuse the level."""
    # importing calm_hunt prepends to sys.path and PYTHONPATH: undo both
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    from scripts import calm_hunt

    clean = {"cpus": 8, "build_s": 4.0,
             "steal_cpu_s_during_best_build": 0.0,
             "external_busy_cpu_s_during_best_build": 0.0,
             "lost_cpu_s_during_best_build": 0.0,
             "spin_mops_during_best_build": 9.0,
             "sync_krps_during_best_build": 0.0}
    stormy = dict(clean, steal_cpu_s_during_best_build=5.0)
    for lv in (clean, stormy):
        monkeypatch.setattr(calm_hunt, "_SYNC_BASELINES", {})
        unset = calm_hunt.settled(lv, spin_max=9.0)
        monkeypatch.setattr(calm_hunt, "_SYNC_BASELINES", {8: 2.04})
        assert calm_hunt.settled(lv, spin_max=9.0) == unset
    assert calm_hunt.settled(clean, spin_max=9.0)
    # a measured rate under the floor still refuses the level
    assert not calm_hunt.settled(
        dict(clean, sync_krps_during_best_build=0.5), spin_max=9.0)
