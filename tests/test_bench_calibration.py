"""Host-drift calibration + anomaly provenance in the bench driver
(VERDICT r11 tasks 1 and 6).

The r11 idle artifact ran on a host day whose single-threaded GEMM stamp
read 1.544 s vs 0.2-0.4 s in every neighboring run (~4x degraded) — without
a gate, every cross-round wall comparison was unfalsifiable. These tests pin
the gating math and the artifact plumbing on synthetic artifact directories;
no Spark session needed (all pure functions).
"""

import json
import os

import bench


def _write_artifact(d, rnd, gemm=None, contended=False, degraded=False,
                    streaming=None, suffix=""):
    name = f"BENCH_LOCAL_r{rnd}{'_contended' if contended else ''}{suffix}.json"
    rec = {"metric": "m", "value": 1.0}
    if gemm is not None:
        rec["cpu_ref"] = {"gemm_sec": gemm, "pyloop_sec": 0.1}
    if degraded:
        rec["host_degraded"] = True
    if streaming is not None:
        rec["streaming"] = streaming
    with open(os.path.join(d, name), "w") as f:
        f.write(json.dumps(rec) + "\n")


def test_trailing_median_skips_contended_and_degraded(tmp_path):
    d = str(tmp_path)
    _write_artifact(d, 7, gemm=0.2)
    _write_artifact(d, 8, gemm=0.3)
    _write_artifact(d, 9, gemm=0.4)
    _write_artifact(d, 10, gemm=9.0, degraded=True)   # stamped: excluded
    _write_artifact(d, 10, gemm=9.0, contended=True)  # contended: excluded
    assert bench.trailing_gemm_median(d) == 0.3


def test_trailing_median_empty_dir(tmp_path):
    assert bench.trailing_gemm_median(str(tmp_path)) is None
    # and calibration degrades gracefully without a reference
    cal = bench.host_calibration({"gemm_sec": 0.5}, str(tmp_path))
    assert cal == {"gemm_trailing_median": None}
    assert bench.gemm_normalized_eps({"q": 100}, cal) == {}


def test_host_calibration_gates_at_1p5x(tmp_path):
    d = str(tmp_path)
    for rnd, g in [(7, 0.2), (8, 0.2), (9, 0.2)]:
        _write_artifact(d, rnd, gemm=g)
    ok = bench.host_calibration({"gemm_sec": 0.25}, d)
    assert ok["host_degraded"] is False and ok["gemm_factor"] == 1.25
    bad = bench.host_calibration({"gemm_sec": 0.8}, d)
    assert bad["host_degraded"] is True and bad["gemm_factor"] == 4.0
    # the r11 real-world reading against the real trailing median shape
    r11 = bench.host_calibration({"gemm_sec": 1.544}, d)
    assert r11["host_degraded"] is True


def test_gemm_normalized_eps_scales_by_factor():
    cal = {"gemm_factor": 4.0}
    # a 4x-slower host quarters measured eps; normalization restores it
    assert bench.gemm_normalized_eps({"q1": 1000, "q2": 250}, cal) == {
        "q1": 4000,
        "q2": 1000,
    }


def test_median_robust_to_one_outlier_round(tmp_path):
    """One pre-gate degraded artifact (r11's 1.544 predates the stamp) must
    not drag the reference: the median absorbs it."""
    d = str(tmp_path)
    for rnd, g in [(7, 0.264), (8, 0.197), (9, 0.198), (10, 0.365),
                   (11, 1.544)]:
        _write_artifact(d, rnd, gemm=g)
    assert bench.trailing_gemm_median(d) == 0.264


def _scenario(p50):
    return {"sustained_eps": 1000, "latency_ms": {"p50": p50, "p99": p50 * 2}}


def test_streaming_anomaly_notes(tmp_path):
    d = str(tmp_path)
    idle = {
        "pattern_runcap": _scenario(1000.0),
        "dedup_history": _scenario(1100.0),
    }
    _write_artifact(d, 11, gemm=0.2, streaming=idle)
    # newest idle twin wins over older rounds (numeric, not lexical, order)
    _write_artifact(d, 9, gemm=0.2,
                    streaming={"pattern_runcap": _scenario(9999.0)})

    fresh = {
        "pattern_runcap": _scenario(1200.0),            # within 3x: no note
        "trend_windowed": _scenario(500.0),             # no twin: no note
        "dedup_history": _scenario(12864.0),            # r11's 11.7x
    }
    bench.annotate_streaming_anomalies(fresh, d)
    assert "note" not in fresh["pattern_runcap"]
    assert "note" not in fresh["trend_windowed"]
    note = fresh["dedup_history"]["note"]
    assert "deviates >3x" in note and "1100" in note


def test_streaming_anomaly_note_reaches_compact_line(tmp_path):
    import bench_streaming

    s = _scenario(5000.0)
    s["alerts"] = 10
    s["note"] = "p50 5000.0 ms deviates >3x from the committed idle twin"
    full = {
        "ref_flink_avg_alert_ms": 554,
        "pattern_runcap": s,
        "dedup_history": {**_scenario(4000.0), "note": "n2"},
    }
    c = bench_streaming.compact_streaming(full)
    assert c["pattern_runcap"]["note"].startswith("p50 5000.0")
    assert c["dedup_history"]["note"] == "n2"


def test_compact_line_carries_degraded_flag():
    out = {
        "metric": "m", "value": 1.0, "sf": 0.1,
        "queries": {"q": 1.0},
        "calibration": {"gemm_trailing_median": 0.2, "gemm_factor": 4.0,
                        "host_degraded": True},
        "host_degraded": True,
        "cpu_ref": {"gemm_sec": 0.8},
    }
    line = json.loads(bench.compact_line(out, "/x/BENCH_LOCAL_r12.json"))
    assert line["host_degraded"] is True
    assert line["gemm_factor"] == 4.0
