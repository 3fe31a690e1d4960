"""bench.py stdout contract: the ONE printed JSON line must survive the
driver's 2000-byte stdout tail capture regardless of how many queries the
registry grows to — r5 and r6 both lost their bench record (parsed: null)
because the full per-query map overflowed the capture window."""

from __future__ import annotations

import json

from bench import build_summary


def _fake_run(n_queries: int):
    timings = {f"q{i:03d}_some_operator_name_{i}": 0.1234 + i * 0.001
               for i in range(n_queries)}
    oracle = {k: v / 1.6 for k, v in timings.items()}
    return timings, oracle


def test_printed_line_fits_driver_capture_at_150_queries():
    timings, oracle = _fake_run(150)
    summary, detail = build_summary(
        timings, oracle, errors={}, floor=0.21, floor_failed=False, sf=0.1
    )
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1800, f"printed line is {len(line)} bytes"
    # the detail file still carries the complete per-query record
    assert len(detail["queries"]) == 150
    assert len(detail["oracle_queries"]) == 150


def test_printed_line_bounded_even_under_mass_failure():
    """A mass failure (every query erroring, every query over bar) must not
    re-grow the printed line past the capture window — lists are capped
    with _n counts carrying the true totals."""
    timings, oracle = _fake_run(150)
    # every query over the bar: spark side 10x the oracle, oracle >= 0.5
    timings = {k: 10.0 for k in timings}
    oracle = {k: 0.9 for k in oracle}
    errors = {f"oracle:{k}": "Boom: " + "x" * 300 for k in list(timings)[:120]}
    summary, _ = build_summary(
        timings, oracle, errors, floor=0.21, floor_failed=False, sf=0.1
    )
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1800, f"printed line is {len(line)} bytes"
    assert summary["over_bar_n"] == 150 and len(summary["over_bar"]) == 15
    assert summary["errors_n"] == 120 and len(summary["error_keys"]) == 15


def test_printed_queries_keep_prev_round_names():
    """A query that merely speeds up out of the top-10 must stay on the
    printed line (r17: q67/q79/q88 got faster, fell off the sample, and
    the PERF comparator published false dropped_from_bench rows). The
    printed map is top-10 UNION the previous round's printed names — and
    the union must still fit the driver's 2000-byte tail capture."""
    from bench import PREV_PRINTED_QUERIES

    timings, oracle = _fake_run(150)
    # every prev-printed name present but FAST — outside the top-10
    for n in PREV_PRINTED_QUERIES:
        timings[n] = 0.01
        oracle[n] = 0.005
    summary, _ = build_summary(
        timings, oracle, errors={}, floor=0.21, floor_failed=False, sf=0.1
    )
    for n in PREV_PRINTED_QUERIES:
        assert n in summary["queries"], f"{n} dropped from printed line"
    assert len(summary["queries"]) <= 10 + len(PREV_PRINTED_QUERIES)
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) < 1800, f"printed line is {len(line)} bytes"


def test_summary_keeps_driver_contract_fields():
    timings, oracle = _fake_run(106)
    summary, _ = build_summary(
        timings, oracle, errors={}, floor=0.21, floor_failed=False, sf=0.1
    )
    for key in ("metric", "value", "unit", "queries", "sf", "suite_ratio",
                "sched_floor_s", "over_bar", "detail_file"):
        assert key in summary
    assert summary["unit"] == "sec"
    assert summary["queries_n"] == 106
    # sampled map holds the slowest queries, values are per-query seconds
    assert 0 < len(summary["queries"]) <= 10
    slowest = max(timings, key=timings.get)
    assert slowest in summary["queries"]


def test_re_measure_trigger_covers_the_r9_blind_spot():
    """re_measure_reason contract: the borderline over-bar trigger AND
    the r9-verdict absolute-outlier trigger (a multi-second Spark wall
    over a sub-0.5 s / rows-only oracle, or >3x the prior round's
    recorded value, must no longer escape the extra min-of-N pass —
    r9 published q52 at 6.02 s vs 0.80 s real through that gap)."""
    from bench import re_measure_reason as r

    floor = 0.06
    # the r9 escapees: big wall, tiny oracle / rows-only
    assert r(6.02, 0.33, 0.55, floor) == "abs_outlier"   # q52's r9 shape
    assert r(3.56, None, 0.70, floor) == "abs_outlier"   # q53 (rows-only)
    # classic over-bar (oracle >= 0.5) still fires first
    assert r(3.00, 1.0, None, floor) == "over_bar"
    # 3x-prior arm: oracle >= 0.5 and under the bar, but tripled
    assert r(1.9, 1.0, 0.5, floor) == "abs_outlier"
    # sane timings don't re-measure
    assert r(0.8, 0.33, 0.8, floor) is None              # q52's real time
    assert r(0.4, None, 0.4, floor) is None              # fast rows-only
    assert r(1.2, 0.9, 1.1, floor) is None               # under bar, stable
    # no prior round: the small-oracle arm still protects
    assert r(1.5, 0.1, None, floor) == "abs_outlier"
    assert r(1.5, 0.9, None, floor) is None
    # r10 ADVICE: a STABLE >= 1 s small-oracle query (within 1.5x of its
    # VALIDATED anchor — the timing at its last extra-sampled round) no
    # longer pays the extra min-of-N every round
    assert r(1.5, 0.1, 1.4, floor, anchor=1.4) is None
    assert r(1.5, None, 1.45, floor, anchor=1.45) is None
    # ...but cumulative drift past 1.5x of the ANCHOR re-measures even
    # when each round-over-round step stays under 1.5x — the creep
    # scenario (1.0 -> 1.45 -> 2.1, every step < 1.5x prior) must not
    # compound unvalidated (r11 review finding)
    assert r(2.1, 0.1, 1.45, floor, anchor=1.0) == "abs_outlier"
    assert r(1.5, 0.1, 1.4, floor, anchor=0.9) == "abs_outlier"
    # a prior-round value alone (no anchor yet) never mutes: the first
    # >= 1 s sighting always earns the extra pass that seeds the anchor
    assert r(1.5, 0.1, 1.4, floor) == "abs_outlier"


def test_validated_ledger_seeds_carries_and_ratchets():
    """update_validated contract: re-measured queries seed/refresh their
    anchor at the final min; muted queries carry the old anchor forward
    ratcheted DOWN to this round's published min (downward recovery is
    free); unanchored, un-re-measured queries stay absent so their first
    >= 1 s sighting seeds via the unconditional trigger."""
    from bench import update_validated as u

    timings = {"a": 1.2, "b": 0.9, "c": 2.0, "d": 1.1}
    reasons = {"a": "abs_outlier"}           # a re-measured this round
    prev = {"b": 1.3, "c": 1.8}              # b,c anchored earlier
    out = u(timings, reasons, prev)
    assert out["a"] == 1.2                   # seeded at the re-measured min
    assert out["b"] == 0.9                   # ratcheted down (0.9 < 1.3)
    assert out["c"] == 1.8                   # carried (2.0 > 1.8, no ratchet up)
    assert "d" not in out                    # never anchored, never re-measured

    # an anchored query ABSENT from this round's timings (transient
    # error) keeps its anchor — it cannot drift while unmeasured, and
    # dropping it would force a full re-seed on recovery (r11 ADVICE)
    out2 = u({"a": 1.0}, {}, {"a": 0.8, "gone": 2.5})
    assert out2["gone"] == 2.5


def test_every_expensive_exempt_ratio_carries_a_note():
    """r11 verdict item #6: the set of bar-exempt-but-expensive queries
    kept drifting out of PER_QUERY_NOTES (q61 in r10, q67/q137/q157 in
    r11). Contract: every query in the committed BENCH_DETAIL whose
    Spark time is >= 1.0 s while its ratio to the DuckDB oracle exceeds
    2.5x (ANY oracle size — including oracles under the 0.5 s over_bar
    threshold, where the bar itself never fires) must carry a
    PER_QUERY_NOTES entry explaining the resting position. Cheap
    queries below 1 s are pure floor arithmetic and stay exempt."""
    import json
    import os

    from bench import PER_QUERY_NOTES

    detail_path = os.path.join(os.path.dirname(__file__), "..",
                               "BENCH_DETAIL.json")
    with open(detail_path) as f:
        d = json.load(f)
    qs, oracles = d["queries"], d["oracle_queries"]
    missing = sorted(
        name
        for name, t in qs.items()
        if t >= 1.0
        and oracles.get(name)
        and t / oracles[name] > 2.5
        and name not in PER_QUERY_NOTES
    )
    assert not missing, (
        f"expensive bar-exempt queries without a PER_QUERY_NOTES entry: "
        f"{missing} — measure the slope (scripts/slope_suite.py "
        f"replicas), explain the floor or fix the plan, then add the note"
    )


def _artifact(over_bar, sentinel, starts, suite_ratio=1.5):
    return {
        "over_bar": over_bar,
        "load_sentinel": sentinel,
        "query_starts": starts,
        "suite_ratio": suite_ratio,
    }


def test_analyze_flags_over_bar_during_sentinel_spike():
    """r14 verdict #5(a): an over_bar entry whose start offset coincides
    with a sentinel spike is classified host-window; one in a flat
    window is classified code."""
    from bench import analyze_artifact

    # spark probes at sentinel offsets 100/160/220 (60 s interval);
    # spike at 160 (1.2 s vs 0.1 s median). q_spiked starts at
    # suite-offset 55 -> sentinel offset 155 (within the 60 s window of
    # the spike); q_clean starts at suite-offset 240 -> offset 340, far
    # from any spike.
    sentinel = [
        ["oracle", 10.0, 0.1], ["oracle", 50.0, 0.1],
        ["spark", 100.0, 0.1], ["spark", 160.0, 1.2],
        ["spark", 220.0, 0.1], ["spark", 280.0, 0.1],
        ["spark", 340.0, 0.1], ["spark", 400.0, 0.1],
    ]
    out = analyze_artifact(_artifact(
        ["q_spiked", "q_clean"], sentinel,
        {"q_spiked": 55.0, "q_clean": 240.0},
    ))
    assert out["over_bar_classification"] == {
        "q_spiked": "host-window", "q_clean": "code",
    }
    assert any(s["offset"] == 160.0 for s in out["sentinel_spikes"])


def test_analyze_suite_ratio_move_verdicts():
    """r14 verdict #5(b): a >0.3 suite_ratio move is code-regression when
    the sentinel is flat, host-window when it spiked, improvement when
    it dropped; <=0.3 is stable."""
    from bench import analyze_artifact

    flat = [["spark", 10.0, 0.1], ["spark", 70.0, 0.1],
            ["spark", 130.0, 0.1], ["spark", 190.0, 0.1]]
    spiky = flat + [["spark", 250.0, 2.0]]
    up = _artifact([], flat, {}, suite_ratio=1.9)
    assert analyze_artifact(up, prev_suite_ratio=1.45)[
        "suite_ratio_verdict"] == "code-regression"
    assert analyze_artifact(
        _artifact([], spiky, {}, suite_ratio=1.9), prev_suite_ratio=1.45
    )["suite_ratio_verdict"] == "host-window"
    assert analyze_artifact(
        _artifact([], flat, {}, suite_ratio=1.0), prev_suite_ratio=1.45
    )["suite_ratio_verdict"] == "improvement"
    assert analyze_artifact(
        _artifact([], flat, {}, suite_ratio=1.5), prev_suite_ratio=1.45
    )["suite_ratio_verdict"] == "stable"


def test_analyze_runs_on_the_committed_artifact():
    """The committed BENCH_DETAIL.json must stay analyzable: every
    over_bar entry gets a deterministic host-window/code call and the
    analysis never throws on the real artifact shape."""
    import os

    from bench import analyze_artifact

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_DETAIL.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        detail = json.load(f)
    out = analyze_artifact(detail, prev_suite_ratio=detail.get("suite_ratio"))
    assert set(out["over_bar_classification"]) == set(
        detail.get("over_bar") or [])
    assert all(v in ("host-window", "code")
               for v in out["over_bar_classification"].values())
    assert out.get("suite_ratio_verdict") == "stable"  # self-diff is 0


def test_floor_exempt_annotates_but_never_suppresses_over_bar():
    """r14 verdict #2(b): a recorded-floor query that lands over the bar
    must STILL appear in over_bar (no suppression) and additionally in
    over_bar_floor_exempt with its evidence in the detail artifact."""
    from bench import FLOOR_EXEMPT, build_summary

    name = "q165_bloom_decontam_prefilter"
    assert name in FLOOR_EXEMPT and "BASELINE.md" in FLOOR_EXEMPT[name]["evidence"]
    timings = {name: 2.0, "q001_other": 0.5}
    oracle = {name: 0.66, "q001_other": 0.6}
    summary, detail = build_summary(
        timings, oracle, errors={}, floor=0.05, floor_failed=False, sf=0.1
    )
    assert name in summary["over_bar"]          # never suppressed
    assert summary["over_bar_floor_exempt"] == [name]
    assert name in detail["floor_exempt"]


def test_analyze_spike_window_clamped():
    """r14 ADVICE: the spike-match window is the max gap between spark
    sentinel probes — a slow stretch inflates it to minutes, letting one
    far-away spike mislabel genuine code regressions as host-window.
    Clamp to 120 s."""
    from bench import analyze_artifact

    # probes 600 s apart (slow stretch) with one spike at t=700; a query
    # starting 300 s after the spike must still be classified 'code'
    sentinel = [
        ["spark", 100.0, 0.1], ["spark", 700.0, 1.5],
        ["spark", 1300.0, 0.1], ["spark", 1900.0, 0.1],
    ]
    out = analyze_artifact(_artifact(
        ["q_far", "q_near"], sentinel,
        # suite-relative starts (spark_t0=100): q_far -> offset 1000,
        # 300 s from the spike; q_near -> offset 690, 10 s from it
        {"q_far": 900.0, "q_near": 590.0},
    ))
    assert out["spike_window_s"] == 120.0
    assert out["over_bar_classification"] == {
        "q_far": "code", "q_near": "host-window",
    }


def test_prev_baseline_ignored_across_scale_factors(tmp_path):
    """r14 ADVICE (medium): ALL prior-round baselines — per-query
    timings, validated ledger, AND suite_ratio — are only comparable at
    the same scale factor; a replica-run artifact must yield an empty
    baseline so no bogus suite_ratio_verdict is published."""
    from bench import load_prev_baseline

    p = tmp_path / "BENCH_DETAIL.json"
    p.write_text(json.dumps({
        "sf": 0.1, "queries": {"q01": 1.0}, "validated": {"q01": 0.9},
        "suite_ratio": 1.3,
    }))
    # same sf: everything loads
    t, v, r = load_prev_baseline(str(p), 0.1)
    assert t == {"q01": 1.0} and v == {"q01": 0.9} and r == 1.3
    # different sf (replica artifact): nothing loads — including ratio
    t, v, r = load_prev_baseline(str(p), 1.0)
    assert t == {} and v == {} and r is None
    # missing file: first-run fallback
    t, v, r = load_prev_baseline(str(tmp_path / "missing.json"), 0.1)
    assert t == {} and v == {} and r is None
