"""The artifact gate's budget assertions (VERDICT r10 task 2): the
checker must go RED on a doctored artifact — steady p50 over the
reference's 5 s trigger budget, missing steady fields, single-run
protocol, missing isolated-vs-contended table — and GREEN on a
compliant one. No Spark needed."""

from __future__ import annotations

import copy
import os
import sys

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"),
)

from check_artifacts import TRIGGER_BUDGET_MS, check_bench_budgets

GOOD = {
    "index_build": {
        "phrase_postings_sec": 2.8,
        "ivf_truth_sec": 1.2,
        "jaccard_truth_sec": 3.1,
    },
    "streaming": {
        "streaming_trigger_p50_steady_ms": 3900.0,
        "timing_protocol": "min_of_2_runs_by_steady_p50",
        "merge_isolated_vs_contended": {
            "channel_stats": {
                "isolated_merge_sec": 0.8,
                "contended_merge_sec_p50": 1.4,
            }
        },
    },
    "streaming_jdbc": {
        "jdbc_trigger_p50_steady_ms": 4200.0,
        "timing_protocol": "min_of_2_runs_by_steady_p50",
    },
}


def test_compliant_artifact_is_green():
    assert check_bench_budgets(copy.deepcopy(GOOD)) == []


def test_budget_breach_is_red():
    bad = copy.deepcopy(GOOD)
    bad["streaming"]["streaming_trigger_p50_steady_ms"] = (
        TRIGGER_BUDGET_MS + 1
    )
    probs = check_bench_budgets(bad)
    assert any("breaches" in p for p in probs)


def test_jdbc_budget_breach_is_red():
    bad = copy.deepcopy(GOOD)
    bad["streaming_jdbc"]["jdbc_trigger_p50_steady_ms"] = 5825.0
    probs = check_bench_budgets(bad)
    assert any("breaches" in p and "jdbc" in p for p in probs)


def test_missing_steady_field_is_red():
    bad = copy.deepcopy(GOOD)
    del bad["streaming"]["streaming_trigger_p50_steady_ms"]
    probs = check_bench_budgets(bad)
    assert any("missing steady-state" in p for p in probs)


def test_single_run_protocol_is_red():
    bad = copy.deepcopy(GOOD)
    del bad["streaming_jdbc"]["timing_protocol"]
    probs = check_bench_budgets(bad)
    assert any("min-of-2" in p for p in probs)


def test_missing_isolated_table_is_red():
    bad = copy.deepcopy(GOOD)
    del bad["streaming"]["merge_isolated_vs_contended"]
    probs = check_bench_budgets(bad)
    assert any("merge_isolated_vs_contended" in p for p in probs)


def test_missing_truth_build_field_is_red():
    # r14: eval ground truth must be built (and timed) in the index-
    # build phase — an artifact without the named cost fields means the
    # first timed eval run silently paid the truth cost again
    bad = copy.deepcopy(GOOD)
    del bad["index_build"]["ivf_truth_sec"]
    probs = check_bench_budgets(bad)
    assert any("ivf_truth_sec" in p for p in probs)


def test_retired_eval_carveout_is_red():
    bad = copy.deepcopy(GOOD)
    bad["eval_queries_excluded_from_regression"] = ["eval_lsh_recall"]
    probs = check_bench_budgets(bad)
    assert any("retired" in p for p in probs)


# ---- per-query timing protocol gate (VERDICT r12 item 1) ----

from check_artifacts import check_bench_protocol  # noqa: E402

GOOD_PROTO = {
    "queries": {"fast_q": 1.0, "noisy_q": 2.0},
    "queries_runs": {"fast_q": [1.0, 1.1], "noisy_q": [1.0, 3.0, 2.0]},
    "measurement_suspect": ["noisy_q"],
    "spread_suspect_threshold": 1.5,
    "loadavg_start": [0.5, 0.6, 0.7],
    "loadavg_end": [8.0, 4.0, 2.0],
}


def test_protocol_compliant_is_green():
    assert check_bench_protocol(copy.deepcopy(GOOD_PROTO)) == []


def test_protocol_unescalated_high_spread_is_red():
    bad = copy.deepcopy(GOOD_PROTO)
    # noisy 2-run query without the 3rd escalation run
    bad["queries_runs"]["noisy_q"] = [1.0, 3.0]
    bad["queries"]["noisy_q"] = 1.0
    probs = check_bench_protocol(bad)
    assert any("no escalation run" in p for p in probs)


def test_protocol_timing_not_median_is_red():
    bad = copy.deepcopy(GOOD_PROTO)
    bad["queries"]["noisy_q"] = 1.0  # min, but 3 runs demand the median
    probs = check_bench_protocol(bad)
    assert any("median-of-3" in p for p in probs)


def test_protocol_timing_not_min2_is_red():
    bad = copy.deepcopy(GOOD_PROTO)
    bad["queries"]["fast_q"] = 1.1  # 2 runs demand the min
    probs = check_bench_protocol(bad)
    assert any("min-of-2" in p and "fast_q" in p for p in probs)


def test_protocol_suspect_list_drift_is_red():
    bad = copy.deepcopy(GOOD_PROTO)
    bad["measurement_suspect"] = []  # hides the still-spread noisy_q
    probs = check_bench_protocol(bad)
    assert any("measurement_suspect" in p for p in probs)


def test_protocol_missing_load_telemetry_is_red():
    bad = copy.deepcopy(GOOD_PROTO)
    del bad["loadavg_start"]
    probs = check_bench_protocol(bad)
    assert any("loadavg_start" in p for p in probs)


def test_protocol_missing_runs_is_red():
    probs = check_bench_protocol({"queries": {"q": 1.0}})
    assert any("queries_runs" in p for p in probs)


# ---- cross-scale artifact gate (VERDICT r11 task 2) ----

from check_artifacts import check_scale_artifact  # noqa: E402

_EXCL = {"eval_x": "quadratic truth by design"}
_QNAMES = {"q1", "q2", "eval_x"}
_GREEN_ENTRY = {
    "rows_match": True, "schema_match": True, "hash_match": True,
    "spark_rows": 10, "oracle_rows": 10, "err": None,
}
GOOD_SCALE = {
    "sf_dir": "/root/testdata/sf0.1",
    "excluded": dict(_EXCL),
    "queries": {"q1": dict(_GREEN_ENTRY), "q2": dict(_GREEN_ENTRY)},
}


def test_scale_compliant_is_green():
    assert check_scale_artifact(copy.deepcopy(GOOD_SCALE), _QNAMES, _EXCL) == []


def test_scale_missing_query_is_red():
    bad = copy.deepcopy(GOOD_SCALE)
    del bad["queries"]["q2"]
    probs = check_scale_artifact(bad, _QNAMES, _EXCL)
    assert any("coverage drifted" in p and "q2" in p for p in probs)


def test_scale_nongreen_entry_is_red():
    bad = copy.deepcopy(GOOD_SCALE)
    bad["queries"]["q1"]["hash_match"] = False
    probs = check_scale_artifact(bad, _QNAMES, _EXCL)
    assert any("non-green" in p and "q1" in p for p in probs)


def test_scale_produced_at_sf001_is_red():
    bad = copy.deepcopy(GOOD_SCALE)
    bad["sf_dir"] = "/root/testdata/sf0.01"
    probs = check_scale_artifact(bad, _QNAMES, _EXCL)
    assert any("sf0.01" in p for p in probs)


def test_scale_exclusion_drift_is_red():
    bad = copy.deepcopy(GOOD_SCALE)
    bad["excluded"]["sneaky_extra"] = "not actually declared"
    probs = check_scale_artifact(bad, _QNAMES, _EXCL)
    assert any("exclusion list drifted" in p for p in probs)


def test_scale_reasonless_exclusion_is_red():
    probs = check_scale_artifact(
        {
            "sf_dir": "/root/testdata/sf0.1",
            "excluded": {"eval_x": ""},
            "queries": {"q1": dict(_GREEN_ENTRY), "q2": dict(_GREEN_ENTRY)},
        },
        _QNAMES,
        {"eval_x": ""},
    )
    assert any("without a reason" in p for p in probs)


# ---- one spread predicate for bench's escalation and the check ----

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
)

import bench  # noqa: E402


def test_spread_boundary_same_verdict_in_bench_and_check():
    # a 2-run spread of exactly the threshold (or within float error of
    # it) does not escalate, one a hair above it does; the check must
    # agree with bench either way
    for pair, escalates in (
        ([2.0, 3.0], False),
        ([2.0, 3.0 + 1e-10], False),
        ([2.0, 3.0 + 1e-6], True),
    ):
        times = iter(pair + [2.5])
        runs, t = bench.timed_runs(lambda: next(times))
        assert (len(runs) == 3) is escalates
        b = copy.deepcopy(GOOD_PROTO)
        b["spread_suspect_threshold"] = bench.SPREAD_SUSPECT
        b["queries"] = {"q": t}
        b["queries_runs"] = {"q": runs}
        # escalation cannot narrow a spread: an escalated query stays
        # suspect
        b["measurement_suspect"] = ["q"] if escalates else []
        assert check_bench_protocol(b) == []
        # the unescalated form of the above-threshold pair goes red
        b["queries_runs"] = {"q": pair}
        b["queries"] = {"q": min(pair)}
        assert any(
            "no escalation run" in p for p in check_bench_protocol(b)
        ) is escalates
