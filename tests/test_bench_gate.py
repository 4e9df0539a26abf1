"""Gate-logic unit tests for bench.py's drift-normalized warm gate.

Round 11 (VERDICT r10 task 2): the round-10 near-miss — sentinel
median 1.725 vs fail-limit 1.795 on a contended host the
single-threaded probe read as only 1.12× slow — motivated the
parallel probe.  These tests pin the scenarios the gate must
adjudicate correctly, with synthetic warm times so no Spark session
is needed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _warm(ratio: float) -> dict[str, float]:
    """Synthetic warm dict: every sentinel at `ratio` × its reference."""
    return {q: ref * ratio for q, ref in bench.SENTINEL_WARM_REF.items()}


def _fast_total() -> float:
    """A warm total comfortably inside the per-query envelope."""
    return 0.3 * len(bench.HEADLINE)


def test_quiet_host_passes():
    out = bench.gate_verdict(
        _warm(1.0), _fast_total(), probe_sec=0.39, probe_par_sec=2.45
    )
    assert out["verdict"] == "pass"
    assert out["host_probe_ratio"] == 1.0
    assert out["host_probe_par_ratio"] == 1.0


def test_round10_contention_scenario_passes_with_parallel_probe():
    # The round-10 near-miss: CPU contention slows 32-wide sentinels
    # 1.85× while the serial probe reads only 1.12×.  The parallel
    # probe sees the contention (ratio ~1.9) and raises the allowance
    # to 1.6 × 1.9 = 3.04 — no false "uniform code regression".
    out = bench.gate_verdict(
        _warm(1.85),
        _fast_total(),
        probe_sec=0.39 * 1.12,
        probe_par_sec=2.45 * 1.9,
    )
    assert out["verdict"] == "pass", out
    # With ONLY the serial probe (the round-10 gate), 1.85 > 1.6 ×
    # 1.12 = 1.792 would have flipped the verdict — the blind axis.
    old = bench.gate_verdict(_warm(1.85), _fast_total(), probe_sec=0.39 * 1.12)
    assert old["verdict"] == "fail"


def test_uniform_code_regression_still_fails():
    # Both probes read the host at calibration speed while every
    # sentinel runs 2× slow: that is a CODE regression and must fail
    # even though the drift-normalized total would absorb it.
    out = bench.gate_verdict(
        _warm(2.0), _fast_total(), probe_sec=0.39, probe_par_sec=2.45
    )
    assert out["verdict"] == "fail"
    assert "uniform code regression" in out["fail_reason"]


def test_fast_host_cannot_manufacture_failure():
    # Probe ratios floor at 1.0: a host 2× faster than calibration
    # must not shrink the sentinel allowance below 1.6×.
    out = bench.gate_verdict(
        _warm(1.5), _fast_total(), probe_sec=0.39 / 2, probe_par_sec=2.45 / 2
    )
    assert out["verdict"] == "pass"


def test_genuine_per_byte_regression_fails_on_normalized_total():
    # Sentinels flat (host + codegen fine) but the suite total blows
    # the 0.80 s/query envelope: the normalized gate fails.
    out = bench.gate_verdict(
        _warm(1.0),
        1.2 * len(bench.HEADLINE),
        probe_sec=0.39,
        probe_par_sec=2.45,
    )
    assert out["verdict"] == "fail"


def test_probes_absent_degrades_to_normalized_gate_only():
    out = bench.gate_verdict(_warm(1.0), _fast_total())
    assert out["verdict"] == "pass"
    assert "host_probe_ratio" not in out
    assert "host_probe_par_ratio" not in out


def test_io_degraded_fail_carries_warning_but_stays_fail():
    # The round-11 spurious-fail shape: sentinels flat, total blown,
    # disk probe degraded — the verdict must STAY fail (a real IO
    # regression looks identical from inside one window) but carry
    # the adjudication pointer.
    out = bench.gate_verdict(
        _warm(1.0),
        1.2 * len(bench.HEADLINE),
        probe_sec=0.39,
        probe_par_sec=2.45,
        disk_mb_s=124.7,
    )
    assert out["verdict"] == "fail"
    assert "io_degraded_window" in out.get("warning", "")


def test_fast_disk_fail_has_no_io_warning():
    out = bench.gate_verdict(
        _warm(1.0),
        1.2 * len(bench.HEADLINE),
        probe_sec=0.39,
        probe_par_sec=2.45,
        disk_mb_s=1600.0,
    )
    assert out["verdict"] == "fail"
    assert "warning" not in out


def test_pass_on_slow_disk_has_no_warning():
    out = bench.gate_verdict(
        _warm(1.0), _fast_total(), probe_sec=0.39, probe_par_sec=2.45, disk_mb_s=100.0
    )
    assert out["verdict"] == "pass"
    assert "warning" not in out


# ---- round 12: per-query-median cross-check vs the committed window ----


def _ref(n: int = 30, probe_worst: float = 1.0) -> dict:
    return {
        "probe_worst_ratio": probe_worst,
        "warm": {f"q{i}": 1.0 for i in range(n)},
    }


def _warm_vs_ref(ratio: float, n: int = 30) -> dict[str, float]:
    """Sentinels at calibration speed + n reference queries at `ratio`."""
    w = _warm(1.0)
    w.update({f"q{i}": ratio for i in range(n)})
    return w


def test_per_query_uniform_regression_fails_even_with_contended_probe():
    # The round-11 hole: sentinel allowance 1.6 x max-probe lets a
    # ~1.5x uniform regression hide inside a contended window.  The
    # per-query median vs the committed window catches it: probes at
    # calibration, every query 1.5x its pinned warm time.
    out = bench.gate_verdict(
        _warm_vs_ref(1.5),
        _fast_total(),
        probe_sec=0.39,
        probe_par_sec=2.45,
        bench_ref=_ref(),
    )
    assert out["verdict"] == "fail"
    assert "per-query warm median" in out["fail_reason"]
    assert out["per_query_median_ratio"] == 1.5


def test_both_checks_tripping_keep_both_fail_reasons():
    # Sentinels 2x slow with probes at calibration trips the
    # sentinel-vs-probe check; every reference query at 1.5x trips the
    # per-query median.  The second reason must not overwrite the first.
    w = _warm(2.0)
    w.update({f"q{i}": 1.5 for i in range(30)})
    out = bench.gate_verdict(
        w, _fast_total(), probe_sec=0.39, probe_par_sec=2.45, bench_ref=_ref()
    )
    assert out["verdict"] == "fail"
    assert "uniform code regression" in out["fail_reason"]
    assert "per-query warm median" in out["fail_reason"]


def test_per_query_contended_window_normalizes_away():
    # Same 1.5x warm ratios, but the parallel probe reads 1.9x vs a
    # reference window pinned at 1.0x: relative drift 1.9 normalizes
    # the median to ~0.79 — host contention, not code.
    out = bench.gate_verdict(
        _warm_vs_ref(1.5),
        _fast_total(),
        probe_sec=0.39,
        probe_par_sec=2.45 * 1.9,
        bench_ref=_ref(),
    )
    assert out["verdict"] == "pass", out
    assert out["per_query_median_normalized"] < 1.0


def test_per_query_faster_host_cannot_manufacture_failure():
    # Host 2x faster than the probes' calibration: drift floors at 1.0
    # so queries at their pinned times still pass.
    out = bench.gate_verdict(
        _warm_vs_ref(1.0),
        _fast_total(),
        probe_sec=0.39 / 2,
        probe_par_sec=2.45 / 2,
        bench_ref=_ref(),
    )
    assert out["verdict"] == "pass"
    assert out["per_query_median_normalized"] == 1.0


def test_per_query_check_skipped_below_min_overlap():
    out = bench.gate_verdict(
        _warm_vs_ref(3.0, n=5),
        _fast_total(),
        probe_sec=0.39,
        probe_par_sec=2.45,
        bench_ref=_ref(n=5),
    )
    assert out["verdict"] == "pass"
    assert "per_query_median_ratio" not in out


def test_per_query_median_robust_to_individually_changed_queries():
    # A handful of queries 4x slower (legitimate refactors / noise)
    # must not trip the gate while the median stays at 1.0.
    w = _warm_vs_ref(1.0)
    for i in range(5):
        w[f"q{i}"] = 4.0
    out = bench.gate_verdict(
        w, _fast_total(), probe_sec=0.39, probe_par_sec=2.45, bench_ref=_ref()
    )
    assert out["verdict"] == "pass"
    assert out["per_query_median_ratio"] == 1.0


def test_committed_bench_ref_loads_and_covers_headline():
    ref = bench.load_bench_ref()
    assert ref is not None, "BENCH_REF.json must ship with the repo"
    assert len(ref["warm"]) >= 100
    assert ref["probe_worst_ratio"] >= 1.0
    # the sentinels themselves are in the pinned window
    for q in bench.SENTINEL_WARM_REF:
        assert q in ref["warm"]
