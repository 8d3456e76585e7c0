"""Replay experiments for the bench regression gate (round-13 verdict
item 1): the gate must stay SILENT under container drift and still FIRE
on a real code regression. compute_flags is pure, so recorded driver
runs replay through it exactly.

The r13 post-mortem (PLANS.md): the driver's flags were a TEMPORAL
burst — 8 consecutive-in-run-order queries at 1.6-3.6x pin while the
run-median pin-ratio was 1.045. Run-median normalization alone cannot
absorb that shape (the burst is not uniform), so bench.py also
interleaves its 3 measured reps round-robin across the whole headline
list; a burst then lands in at most one rep per query and the
per-query median discards it. These tests pin the normalization layer;
the r13-replay test feeds the timings the interleaved median WOULD
have produced (the isolated-median adjudication values from the r13
verdict, the best available ground truth for "what the burst hid").
"""

import json
import os

from bench import PIN_RATIO, compute_flags

# The replay tests below re-run RECORDED driver timings through the
# gate, so they must use the pins of the SAME ERA as those recordings
# (round-13), frozen as a fixture — bench_pins.json itself is now
# re-derived wholesale each optimization round (round-15 governance),
# so replaying r13 seconds against live pins would flag every query
# the later rounds made faster.
_PINS_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "fixtures",
    "bench_pins_r13.json",
)


def _pins():
    with open(_PINS_PATH) as fh:
        return json.load(fh)


# The r13 driver run's raw per-query seconds (BENCH_r13.json) with the
# 9 burst-inflated entries replaced by the isolated-median adjudication
# values from the r13 verdict — i.e. the timings a burst-robust
# measurement produces for the identical code.
R13_ADJUDICATED = {
    "pricing_summary": 0.666, "revenue_by_nation": 0.633,
    "top_unshipped_orders": 0.674, "window_topk_per_group": 0.397,
    "asof_join": 0.272, "tumbling_window_agg": 0.198,
    "dedup_exact": 0.162, "minhash_lsh_pairs": 1.892,
    "knn_bruteforce": 0.531, "text_token_stats": 0.167,
    "scalar_subquery": 0.411, "range_join": 0.393,
    "session_window_agg": 0.316, "gap_fill_resample": 0.29,
    "ann_ivf_topk": 1.136, "parts_supplier_cnt": 0.419,
    "embedding_band_pairs": 1.346, "corpus_pipeline": 3.135,
    "kql_summarize": 0.316, "simhash_band_pairs": 2.797,
    "pandas_udaf_partial": 0.77, "kql_make_series": 0.326,
    "gopher_rules": 0.38, "kql_series_anomalies": 2.007,
    "semantic_dedup": 3.664, "dsir_sample": 1.135,
    "kql_scan": 0.643, "kql_join_innerunique": 0.286,
    "kql_fork": 0.196, "kql_parse_kv": 0.135,
    "repeated_ngram_spans": 1.048, "kql_sequence_detect": 0.602,
    "kql_sliding_window": 0.288, "kql_autocluster": 0.326,
    "kql_ipv4_lookup": 0.431, "kql_rolling_percentile": 0.228,
    "kql_graph_shortest": 0.276, "kql_idioms4": 0.471,
    "pii_scrub": 0.203, "kql_output_schema": 0.515,
    "kql_scan_self": 0.614, "dedup_keep_best": 4.234,
    "kql_user_agent3": 0.467, "kql_scalar_fns14": 0.177,
    "kql_geo2": 1.43, "kql_user_agent5": 0.322,
}


def test_r13_adjudicated_replay_is_silent():
    """The r13 driver run, as the interleaved median would have
    measured it, yields zero ratio flags against the committed pins —
    the false-flag cycle that consumed rounds 8-13 ends here."""
    ad, rr, drift = compute_flags(
        R13_ADJUDICATED, 305453.7, _pins(), "0.1"
    )
    assert rr == {}
    assert drift is not None and 0.7 < drift < 1.4


def test_uniform_container_slowdown_is_silent():
    """Every query 1.45x its pin (whole-container degradation — r13's
    isolated totals swung 42.1-60.8 s on identical code): the run
    median rises with the queries, the gate stays silent, and the
    informational absolute_drift layer records the slowdown."""
    pins = _pins()
    degraded = {n: round(p * 1.6, 3) for n, p in pins["queries"].items()}
    slow_ingest = pins["ingest_rows_per_sec"] / 1.6
    ad, rr, drift = compute_flags(degraded, slow_ingest, pins, "0.1")
    assert rr == {}
    assert abs(drift - 1.6) < 0.01
    assert len(ad) == len(degraded) + 1  # informational layer (+ingest)


def test_injected_regression_still_fires():
    """A real code regression — one query at 3x pin while the rest
    drift uniformly 1.4x — is flagged, and only it."""
    pins = _pins()
    degraded = {n: round(p * 1.4, 3) for n, p in pins["queries"].items()}
    degraded["semantic_dedup"] = round(
        pins["queries"]["semantic_dedup"] * 3.0, 3
    )
    _, rr, drift = compute_flags(
        degraded, pins["ingest_rows_per_sec"], pins, "0.1"
    )
    assert list(rr) == ["semantic_dedup"]
    assert rr["semantic_dedup"]["pin_ratio"] > PIN_RATIO * drift


def test_ingest_floor_is_drift_normalized():
    pins = _pins()
    at_pin = dict(pins["queries"])
    # true ingest regression on an otherwise-clean machine: flagged
    _, rr, _ = compute_flags(
        at_pin, pins["ingest_rows_per_sec"] / 2.0, pins, "0.1"
    )
    assert "ingest_rows_per_sec_normalized" in rr
    # slow machine (2x drift) deflating ingest 1.8x: NOT a regression
    slow = {n: round(p * 2.0, 3) for n, p in pins["queries"].items()}
    _, rr2, drift2 = compute_flags(
        slow, pins["ingest_rows_per_sec"] / 1.8, pins, "0.1"
    )
    assert abs(drift2 - 2.0) < 0.01
    assert "ingest_rows_per_sec_normalized" not in rr2


def test_sf_mismatch_disables_pins():
    ad, rr, drift = compute_flags(
        R13_ADJUDICATED, 305453.7, _pins(), "0.01"
    )
    assert ad == {} and rr == {} and drift is None


# --- Retest-before-flag layer (round-14). The r14 session's bench run
# 2 (drift_factor 1.574) still produced 3 ratio flags on UNTOUCHED
# queries (kql_scan, kql_fork, kql_graph_shortest at 2.4-2.7x pin):
# the burst hit those queries harder than the run median, which
# run-median normalization cannot absorb. All three were exonerated by
# emitted-SQL byte-identity vs the r13 tag. The retest layer re-times
# flagged queries minutes later next to a median-ratio control set —
# a drift burst has passed by then, a code regression has not.

from bench import evaluate_retest, select_controls


def test_select_controls_prefers_median_ratio_unflagged():
    ratios = {
        "a": 1.0, "b": 1.1, "c": 1.2, "d": 1.3, "e": 1.4,
        "f": 1.5, "hot": 3.0,
    }
    controls = select_controls(ratios, flagged={"hot"}, k=3)
    assert "hot" not in controls
    assert len(controls) == 3
    # median of sorted values is 1.3 — nearest unflagged neighbours win
    assert set(controls) == {"c", "d", "e"}


def test_retest_clears_burst_but_keeps_regression():
    """r14-run-2 shape: the flagged trio retests at machine-normal
    ratios (burst passed) and is cleared; an injected real regression
    retests high relative to the controls' fresh drift and stays."""
    controls = {"q1": 1.05, "q2": 1.1, "q3": 0.98, "q4": 1.2}
    flagged = {
        "kql_scan": 1.24,        # burst gone on retest
        "kql_fork": 1.3,         # burst gone on retest
        "real_regression": 3.1,  # code-caused: reproduces
    }
    still, cleared, retest_drift = evaluate_retest(flagged, controls)
    assert set(cleared) == {"kql_scan", "kql_fork"}
    assert set(still) == {"real_regression"}
    assert still["real_regression"]["retest_ratio"] > (
        PIN_RATIO * retest_drift
    )


def test_retest_without_controls_clears_nothing():
    still, cleared, drift = evaluate_retest({"q": 1.01}, {})
    assert cleared == {} and drift is None
    assert set(still) == {"q"}


def test_retest_on_still_slow_machine_keeps_honest_flags():
    """If the retest window is ALSO degraded, the controls' ratios
    rise with it and a genuinely-slow query still has to beat the
    normalized bar — no free pass from a slow machine."""
    controls = {"q1": 2.0, "q2": 2.1, "q3": 1.9}
    still, cleared, _ = evaluate_retest(
        {"innocent": 2.2, "guilty": 6.5}, controls
    )
    assert set(cleared) == {"innocent"}
    assert set(still) == {"guilty"}


from bench import LINE_BUDGET, compact_line


def _full_payload(n_queries=46, **extra):
    queries = {f"kql_query_name_{i:02d}": 0.123 + i / 100 for i in range(n_queries)}
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "ingest_rows_per_sec": 283913.4,
        "cpus": 32,
        "parallelism": 32,
        "master": "local[32]",
        "drift_factor": 1.308,
    }
    full.update(extra)
    return full


def test_compact_line_fits_driver_capture():
    """Round-15 contract: the emitted line must survive the driver's
    2000-char stdout tail even with every optional block populated at
    r14-run scale (15 absolute_drift entries sank BENCH_r13/r14)."""
    import json

    full = _full_payload(
        absolute_drift={
            f"kql_query_name_{i:02d}": {"now": 0.9, "pin": 0.5}
            for i in range(15)
        },
        ratio_regressions={
            f"kql_query_name_{i:02d}": {
                "pin_ratio": 2.01, "run_median_ratio": 1.3,
                "retest_ratio": 2.2, "retest_drift": 1.7,
            }
            for i in range(6)
        },
        retest_cleared={
            f"kql_query_name_{i:02d}": {
                "pin_ratio": 2.0, "run_median_ratio": 1.3,
                "retest_ratio": 1.4, "retest_drift": 1.7,
            }
            for i in range(6, 12)
        },
        errors={"kql_query_name_45": "x" * 200},
    )
    line = compact_line(full)
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    # contract keys and the cpu echo always survive
    for key in ("metric", "value", "unit", "queries", "sf",
                "ingest_rows_per_sec", "cpus", "parallelism"):
        assert key in parsed
    assert len(parsed["queries"]) == 46
    # the gate flags survive compaction as name -> ratio
    assert parsed["ratio_regressions"]["kql_query_name_00"] == 2.01


def test_compact_line_keeps_optional_blocks_when_small():
    import json

    full = _full_payload(
        ratio_regressions={"q": {"pin_ratio": 2.5, "run_median_ratio": 1.1}},
        retest_cleared={"r": {"retest_ratio": 1.2, "retest_drift": 1.1}},
    )
    parsed = json.loads(compact_line(full))
    assert parsed["ratio_regressions"] == {"q": 2.5}
    assert parsed["retest_cleared"] == {"r": 1.2}
    assert parsed["master"] == "local[32]"
    assert len(compact_line(full)) <= LINE_BUDGET


def test_compact_line_summarises_oversized_regressions():
    """A regression map too large for the line even after the optional
    blocks are dropped shrinks to its count plus the worst offender."""
    import json

    flags = {
        f"kql_query_name_{i:02d}": {"pin_ratio": 2.0 + i / 100}
        for i in range(46)
    }
    flags["ingest_rows_per_sec_normalized"] = {
        "now_normalized": 150000.0, "pin": 280000.0,
    }
    full = _full_payload(
        ratio_regressions=flags,
        retest_cleared={"r": {"retest_ratio": 1.2}},
        errors={"kql_query_name_45": "x" * 200},
    )
    line = compact_line(full)
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["ratio_regressions"] == {
        "count": 47, "worst": {"kql_query_name_45": 2.45},
    }
    assert len(parsed["queries"]) == 46
