"""bench.py's self-adjudicating regression detector (r13 — VERDICT
r12 item 6): a synthetic slowdown beyond the measured spread envelope
is flagged; a noise swing inside the envelope is not."""

import json
import sys
import types
from unittest import mock

from bench import _detect_regressions, _one_session


def _write_baseline(tmp_path, queries, spread=None, sf=0.1):
    doc = {"metric": "total_query_time", "unit": "sec", "sf": sf,
           "value": round(sum(queries.values()), 3),
           "queries": queries}
    if spread is not None:
        doc["queries_spread"] = spread
    (tmp_path / "bench_out.json").write_text(json.dumps(doc))


def _doc(queries, spread=None, sf=0.1):
    d = {"sf": sf, "queries": queries}
    if spread is not None:
        d["queries_spread"] = spread
    return d


def test_synthetic_slowdown_is_flagged(tmp_path):
    _write_baseline(tmp_path, {"q_a": 2.0, "q_b": 1.0},
                    spread={"q_a": 1.1, "q_b": 1.2})
    got = _detect_regressions(
        _doc({"q_a": 6.0, "q_b": 1.05},
             spread={"q_a": 1.05, "q_b": 1.1}), str(tmp_path))
    assert got["baseline"] == "bench_out.json"
    assert [r["query"] for r in got["regressions"]] == ["q_a"]
    r = got["regressions"][0]
    assert r["prev_min"] == 2.0 and r["min"] == 6.0
    assert r["ratio"] == 3.0


def test_noise_swing_inside_envelope_is_not_flagged(tmp_path):
    # q_a measured a 2.3x spread on identical code: a 2x min move is
    # inside the envelope; q_b's 1.3x move sits under the 1.4x floor
    _write_baseline(tmp_path, {"q_a": 2.0, "q_b": 1.0},
                    spread={"q_a": 2.3, "q_b": 1.0})
    got = _detect_regressions(
        _doc({"q_a": 4.0, "q_b": 1.3}), str(tmp_path))
    assert got["regressions"] == []


def test_absolute_floor_and_sf_mismatch(tmp_path):
    # a 10x ratio on a 20 ms query is scheduler jitter, not a plan
    _write_baseline(tmp_path, {"q_tiny": 0.02})
    got = _detect_regressions(_doc({"q_tiny": 0.2}), str(tmp_path))
    assert got["regressions"] == []
    # a baseline at another scale factor is not comparable
    _write_baseline(tmp_path, {"q_a": 1.0}, sf=0.01)
    got = _detect_regressions(_doc({"q_a": 9.0}, sf=0.1),
                              str(tmp_path))
    assert got == {"baseline": None, "regressions": []}


def test_driver_round_fallback(tmp_path):
    # no bench_out.json: newest BENCH_r*.json's parsed line is used
    (tmp_path / "BENCH_r11.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q_a": 1.0}}}))
    (tmp_path / "BENCH_r12.json").write_text(json.dumps(
        {"parsed": {"sf": 0.1, "queries": {"q_a": 2.0}}}))
    got = _detect_regressions(_doc({"q_a": 9.0}), str(tmp_path))
    assert got["baseline"] == "BENCH_r12.json"
    assert got["regressions"][0]["ratio"] == 4.5
    # new queries with no baseline entry never flag
    got2 = _detect_regressions(_doc({"q_new": 9.0}), str(tmp_path))
    assert got2["regressions"] == []


def test_failed_recovery_clear_cache_does_not_abort_the_loop(spark, monkeypatch):
    """A query failure that also breaks the session's clearCache() still
    lets every later query be measured. (``spark`` is requested because
    the session warm-up builds a Column, which needs a live context.)"""
    from aws_autonomous_driving_data_lake_ros_bag_scene_detection_pipeline_spark import session

    def q_bad(spark, sf_dir):
        raise RuntimeError("query died")

    calls = []

    def clear_cache():  # the first call is q_bad's recovery
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("session died")

    fake = mock.MagicMock()
    fake.catalog.clearCache.side_effect = clear_cache
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: fake)
    monkeypatch.setitem(sys.modules, "__spark_entry__", types.SimpleNamespace(
        queries=lambda: {"q_bad": q_bad, "q_good": lambda spark, sf: mock.MagicMock()}))
    got = _one_session("unused", 0.1)
    assert got["queries"]["q_bad"] == -1.0
    assert got["queries"]["q_good"] >= 0.0
