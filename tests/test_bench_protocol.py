"""Unit tests for bench.py's measurement protocol (timed_best) — the
noise-retry recording added per ADVICE r9 must fire above the
threshold, record every discarded reading, and stay honest about
whether the query cleared. Scripted durations, no Spark."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_best  # noqa: E402


def scripted(durations):
    it = iter(durations)

    def run_once():
        return next(it), 42

    return run_once


def test_no_budget_no_retry():
    # two sub-second runs extend to four; no budget -> no retry record
    best, n, info = timed_best(scripted([0.5, 0.4, 0.45, 0.41]), None)
    assert best == 0.4 and n == 42 and info is None


def test_fast_query_stops_at_two_runs_when_over_a_second():
    best, _, info = timed_best(scripted([1.5, 1.4]), 2.0)
    assert best == 1.4 and info is None  # under max(4.0, 2.3): clean


def test_retry_fires_records_and_clears():
    # budget 1.0 -> threshold max(2.0, 1.3) = 2.0; two slow reads,
    # the retry finds 1.1 -> cleared, with the discard recorded
    best, _, info = timed_best(scripted([3.0, 2.9, 1.1]), 1.0)
    assert best == 1.1
    assert info == {
        "retries": 1,
        "discarded_sec": [2.9],
        "kept_sec": 1.1,
        "threshold_sec": 2.0,
        "cleared": True,
    }


def test_retry_exhausts_and_stays_flagged():
    # every reading stays above threshold: 2 retries, cleared=False.
    # The worse retry readings are what's discarded (r11 fix: a
    # non-improving retry records ITSELF, not a copy of the kept best)
    best, _, info = timed_best(scripted([3.0, 2.9, 3.1, 3.2]), 1.0)
    assert best == 2.9
    assert info["retries"] == 2
    assert info["discarded_sec"] == [3.1, 3.2]
    assert info["kept_sec"] == 2.9
    assert info["cleared"] is False


def test_sub_second_readings_get_extra_runs():
    # all sub-second: protocol takes 4 runs before any retry logic
    seen = []

    def run_once():
        seen.append(1)
        return 0.2, 7

    best, n, info = timed_best(run_once, 5.0)
    assert len(seen) == 4 and best == 0.2 and info is None


def test_absolute_floor_suppresses_noise_on_tiny_budgets():
    # budget 0.01 -> threshold 0.31: a 0.25s reading is NOT retried
    best, _, info = timed_best(scripted([0.25, 0.26, 0.27, 0.25]), 0.01)
    assert best == 0.25 and info is None


def test_ambient_ratio_takes_min_of_runs():
    # r12 (VERDICT item 2): the canary takes the min of its runs so a
    # one-off stall on one run cannot read as host drift
    from bench import ambient_ratio

    assert ambient_ratio(scripted([0.60, 0.42]), 0.28) == 1.5
    # order-independent
    assert ambient_ratio(scripted([0.42, 0.60]), 0.28) == 1.5


def test_ambient_ratio_none_without_budget():
    from bench import ambient_ratio

    assert ambient_ratio(scripted([0.5, 0.5]), None) is None
    assert ambient_ratio(scripted([0.5, 0.5]), 0.0) is None


def _fake_result(n_queries, with_regressions=0):
    qs = {
        f"q{i:03d}_some_longish_query_name_{i}": round(0.05 + i * 0.017, 3)
        for i in range(n_queries)
    }
    r = {
        "metric": "headline_queries_total",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "sf": 0.1,
        "baseline_total": 119.211,
        "vs_baseline": 0.691,
        "ambient_factor": 1.296,
        "regressions": {
            f"q{i:03d}_some_longish_query_name_{i}": {
                "sec": 9.9, "baseline_sec": 1.0, "ratio": 9.9
            }
            for i in range(with_regressions)
        },
    }
    return r


def test_compact_summary_bounded_and_parseable():
    # VERDICT r12 item 3: the last stdout line must fit a 2000-char
    # tail capture whole, whatever the registry grows to
    import json

    from bench import compact_summary

    # the last input carries ten verbose regressions: not even the
    # slowest timing fits, so shedding leaves no map at all
    flooded = _fake_result(104, with_regressions=10)
    for entry in flooded["regressions"].values():
        entry.update(
            isolated_sec=9.999,
            isolated_ratio=9.99,
            iso_ambient_factor=1.501,
            isolated_ratio_corrected=6.66,
        )
    inputs = [(n, _fake_result(n)) for n in (0, 1, 104, 300)]
    for n, result in inputs + [(104, flooded)]:
        line = compact_summary(result)
        assert len(line) <= 1900, (n, len(line))
        s = json.loads(line)
        assert s["metric"] == "headline_queries_total"
        assert s["vs_baseline"] == 0.691
        assert s["ambient_factor"] == 1.296
        assert s["n_queries"] == n
        assert s["queries_file"] == "bench_last.json"
        # "no map" has one encoding: the key is absent, never {}
        assert s.get("queries") != {}
        if n:
            # slowest-first: every included timing >= any excluded one
            # (r18: the map is named `queries` — the contract key the
            # driver's PERF comparator reads — with truncation counted
            # in queries_omitted, never silent)
            kept = s.get("queries", {})
            if result is flooded:
                assert "queries" not in s
            else:
                assert kept
                floor = min(kept.values())
                excluded = [
                    v for k, v in result["queries"].items() if k not in kept
                ]
                assert all(v <= floor for v in excluded)
            omitted = n - len(kept)
            if omitted:
                assert s["queries_omitted"] == omitted
            else:
                assert "queries_omitted" not in s


def test_compact_summary_truncates_regression_floods():
    import json

    from bench import compact_summary

    line = compact_summary(_fake_result(104, with_regressions=25))
    assert len(line) <= 1900
    s = json.loads(line)
    assert len(s["regressions"]) == 10
    assert s["regressions_dropped"] == 15


def test_compact_summary_carries_errors_and_retries():
    import json

    from bench import compact_summary

    r = _fake_result(50)
    r["errors"] = {"q001_some_longish_query_name_1": "Boom: x"}
    r["noise_retries"] = {"q002_some_longish_query_name_2": {"retries": 1}}
    s = json.loads(compact_summary(r))
    assert s["error_queries"] == ["q001_some_longish_query_name_1"]
    assert s["noise_retry_queries"] == ["q002_some_longish_query_name_2"]


def test_adjudicate_regressions_three_verdicts():
    """VERDICT r14 item 4: the bench adjudicates its own flags. A
    flagged query whose isolated re-read lands back under threshold
    is 'cleared_isolated'; one still over raw but inside the 2x gate
    after dividing the isolated canary's drift is 'ambient'; one over
    even corrected is 'regressed' — and every entry carries the
    isolated reading and corrected ratio inline."""
    from bench import adjudicate_regressions

    budgets = {"a01": 0.3, "qa": 1.0, "qb": 1.0, "qc": 1.0}
    regressions = {
        "qa": {"sec": 2.5, "baseline_sec": 1.0, "ratio": 2.5},
        "qb": {"sec": 3.0, "baseline_sec": 1.0, "ratio": 3.0},
        "qc": {"sec": 9.0, "baseline_sec": 1.0, "ratio": 9.0},
    }
    iso = {
        "a01": {"best_sec": 0.45, "rows": 6},   # canary: ambient 1.5
        "qa": {"best_sec": 1.4, "rows": 1},     # under 2.0 thresh
        "qb": {"best_sec": 2.6, "rows": 1},     # 2.6x raw, 1.73 corr
        "qc": {"best_sec": 8.0, "rows": 1},     # 8x raw, 5.33 corr
    }
    v = adjudicate_regressions(regressions, budgets, iso, "a01", 0.3)
    assert v == {
        "qa": "cleared_isolated",
        "qb": "ambient",
        "qc": "regressed",
    }
    assert regressions["qa"]["isolated_sec"] == 1.4
    assert regressions["qb"]["iso_ambient_factor"] == 1.5
    assert regressions["qb"]["isolated_ratio"] == 2.6
    assert regressions["qb"]["isolated_ratio_corrected"] == 1.73
    assert regressions["qc"]["isolated_ratio_corrected"] == 5.33


def test_adjudicate_regressions_missing_reading_is_visible():
    from bench import adjudicate_regressions

    regressions = {"qx": {"sec": 2.0, "baseline_sec": 0.5, "ratio": 4.0}}
    v = adjudicate_regressions(regressions, {"qx": 0.5}, {}, "a01", 0.3)
    assert v == {"qx": "no_isolated_reading"}


def test_compact_summary_carries_adjudication():
    import json

    from bench import compact_summary

    r = _fake_result(50, with_regressions=2)
    r["regressions_adjudicated"] = {
        n: "ambient" for n in r["regressions"]
    }
    s = json.loads(compact_summary(r))
    assert s["regressions_adjudicated"] == r["regressions_adjudicated"]


def test_adjudicate_capped_excess_is_not_re_read():
    """r15 review finding: regressions beyond the worst-10 re-read
    cap were labeled 'no_isolated_reading' — the documented meaning
    of which is a tool failure. They were never attempted, and the
    verdict must say so."""
    from bench import adjudicate_regressions

    regressions = {
        "qa": {"sec": 3.0, "baseline_sec": 1.0, "ratio": 3.0},
        "qb": {"sec": 2.5, "baseline_sec": 1.0, "ratio": 2.5},
    }
    iso = {"a01": {"best_sec": 0.3}, "qa": {"best_sec": 1.2}}
    v = adjudicate_regressions(
        regressions, {"qa": 1.0, "qb": 1.0}, iso, "a01", 0.3,
        attempted={"qa"},
    )
    assert v == {
        "qa": "cleared_isolated",
        "qb": "not_re_read_capped",
    }
    assert "isolated_sec" not in regressions["qb"]


def test_compact_summary_bounded_under_adjudicated_flood():
    """r15 review finding (verified at 2740 bytes for 14 flags): the
    isolated_* fields plus the verdict map can push the compact line
    over its byte guarantee with `slowest` already empty. The
    summary must shed kept regressions (verdicts in lockstep,
    counted in regressions_dropped) until the limit holds."""
    import json

    from bench import compact_summary

    r = _fake_result(104, with_regressions=40)
    for name, entry in r["regressions"].items():
        entry.update(
            isolated_sec=9.999,
            isolated_ratio=9.99,
            iso_ambient_factor=1.501,
            isolated_ratio_corrected=6.66,
        )
    r["regressions_adjudicated"] = {
        n: ("regressed" if i % 2 else "not_re_read_capped")
        for i, n in enumerate(r["regressions"])
    }
    line = compact_summary(r)
    assert len(line) <= 1900
    s = json.loads(line)
    # every kept regression still has a verdict, truncation is
    # counted, and the verdict map never names a dropped regression
    assert set(s["regressions_adjudicated"]) <= set(s["regressions"])
    assert s["regressions_dropped"] >= 30
    assert s["regressions_adjudicated_dropped"] >= 1


def test_compact_summary_passes_through_adjudication_error():
    import json

    from bench import compact_summary

    r = _fake_result(50, with_regressions=2)
    r["regressions_adjudicated"] = {"error": "TimeoutExpired: 1200s"}
    s = json.loads(compact_summary(r))
    assert s["regressions_adjudicated"] == {"error": "TimeoutExpired: 1200s"}


def test_adjudicate_regressions_no_budget_verdict():
    """ADVICE r15: a flagged query with an isolated reading but no
    frozen budget gets the documented "no_budget" verdict — it
    carries isolated_sec (the reading is archived) but no
    isolated_ratio (there is nothing to ratio against)."""
    from bench import adjudicate_regressions

    regressions = {"qn": {"sec": 2.0, "baseline_sec": None, "ratio": None}}
    iso = {"a01": {"best_sec": 0.3}, "qn": {"best_sec": 1.7}}
    v = adjudicate_regressions(regressions, {}, iso, "a01", 0.3)
    assert v == {"qn": "no_budget"}
    assert regressions["qn"]["isolated_sec"] == 1.7
    assert "isolated_ratio" not in regressions["qn"]


def test_compact_summary_shedding_never_mutates_caller():
    """ADVICE r15: with <=10 regressions compact_summary used to
    alias the caller's dict, so the over-limit shedding loop deleted
    entries from result["regressions"] in place. The summary must be
    a pure function of the full result dict regardless of caller
    ordering — both maps survive compaction byte-identical."""
    import copy
    import json

    from bench import compact_summary

    r = _fake_result(104, with_regressions=8)
    for entry in r["regressions"].values():
        entry.update(
            isolated_sec=9.999,
            isolated_ratio=9.99,
            iso_ambient_factor=1.501,
            isolated_ratio_corrected=6.66,
        )
    r["regressions_adjudicated"] = {n: "regressed" for n in r["regressions"]}
    before = copy.deepcopy(r)
    line = compact_summary(r)
    assert len(line) <= 1900
    s = json.loads(line)
    # compaction shed something (the 8 verbose entries cannot all fit)
    assert len(s["regressions"]) < 8
    # ...but the caller's full maps are untouched
    assert r == before
