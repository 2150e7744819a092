"""Unit tests for the bench regression gate's decision rule.

The r13 dual-threshold gate (VERDICT r12 item 1): a gate is flagged only
when BOTH its calibration-normalized time and its raw time exceed their
baselines by the same factor+slack.  These tests pin the two scenarios
the round was asked to prove:

- a deliberate 2x slowdown IS flagged (raw and normalized agree), and
- an untouched tree on a host whose calibration drifted 25% is NOT
  flagged (normalized inflates uniformly, raw stays flat).

``compute_regressions`` is a pure function over the timing dicts, so no
Spark session is needed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _with_baselines(monkeypatch, norm: dict, raw: dict) -> None:
    monkeypatch.setattr(
        bench, "BASELINES", {k: (v, 13) for k, v in norm.items()}
    )
    monkeypatch.setattr(bench, "BASELINES_RAW", raw)


def test_true_2x_slowdown_is_flagged(monkeypatch):
    _with_baselines(monkeypatch, {"g": 2.0}, {"g": 2.0})
    # both raw and normalized at 2x baseline (> 1.5x + 0.5s slack)
    flags = bench.compute_regressions({"g": 4.0}, {"g": 4.0})
    assert "g" in flags
    assert flags["g"]["ratio"] == 2.0
    assert flags["g"]["raw_ratio"] == 2.0


def test_calibration_drift_alone_is_not_flagged(monkeypatch):
    # Host md5 probe got 26% faster while raw stayed flat (the r12
    # artifact): normalized inflates ~uniformly past the 1.5x line on a
    # small-baseline gate, but raw is unchanged -> no flag.
    _with_baselines(monkeypatch, {"g": 1.0}, {"g": 1.3})
    flags = bench.compute_regressions({"g": 1.32}, {"g": 1.79})
    assert flags == {}


def test_slow_host_raw_inflation_alone_is_not_flagged(monkeypatch):
    # Uniformly slower host: raw doubles but calibration doubles with
    # it, so normalized stays near baseline -> no flag.
    _with_baselines(monkeypatch, {"g": 2.0}, {"g": 2.0})
    flags = bench.compute_regressions({"g": 4.2}, {"g": 2.1})
    assert flags == {}


def test_missing_raw_baseline_falls_back_to_normalized_rule(monkeypatch):
    # A gate with no raw baseline must keep the old normalized-only
    # behavior (the gate never silently weakens for unbaselined names).
    _with_baselines(monkeypatch, {"g": 1.0}, {})
    flags = bench.compute_regressions({"g": 9.9}, {"g": 2.1})
    assert "g" in flags
    assert "raw_ratio" not in flags["g"]


def test_sub_slack_absolute_times_never_flag(monkeypatch):
    # 0.5s absolute slack: a 0.1s gate tripling to 0.3s is scheduler
    # noise, not a regression.
    _with_baselines(monkeypatch, {"g": 0.1}, {"g": 0.1})
    flags = bench.compute_regressions({"g": 0.3}, {"g": 0.3})
    assert flags == {}


def test_every_gated_name_is_a_registered_query():
    from aws_insurancelake_etl_spark.queries import all_queries

    names = set(all_queries())
    missing = [n for n in bench.BASELINES if n not in names]
    assert missing == []
    missing_raw = [n for n in bench.BASELINES_RAW if n not in bench.BASELINES]
    assert missing_raw == []
