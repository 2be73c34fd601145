"""bench.py's regression gate compares a run only with history rows of
the same scale factor and core count."""

from __future__ import annotations

import json

from bench import find_regressions, prior_timings


def _row(cpus, seconds, **extra):
    row = {
        "sf": "0.1",
        "queries": {"pricing_summary": seconds},
        "best": {"pricing_summary": seconds},
        "passes": "median-of-3-to-5",
        **extra,
    }
    if cpus is not None:
        row["cpus"] = cpus
    return json.dumps(row)


def _flagged(history, cpus, seconds):
    prior_med, prior_best = prior_timings(history, "0.1", cpus)
    timings = {"pricing_summary": seconds}
    return find_regressions(timings, timings, prior_med, prior_best)


def test_four_core_run_is_not_flagged_against_32_core_history():
    history = [_row(32, 0.5, commit="a" * 40) for _ in range(5)]
    assert prior_timings(history, "0.1", 4) == ({}, {})
    assert _flagged(history, 4, 2.0) == {}
    # The same run on 32 cores is a regression against that history.
    assert _flagged(history, 32, 2.0)["pricing_summary"]["lineage"] == "median"


def test_rows_without_cpus_or_of_another_sf_do_not_gate():
    history = [_row(None, 0.5) for _ in range(5)]
    history += [json.dumps({**json.loads(_row(4, 0.5)), "sf": "1"}) for _ in range(5)]
    history.append("not json")
    assert prior_timings(history, "0.1", 4) == ({}, {})
    assert _flagged(history, 4, 2.0) == {}
    med, best = prior_timings(history + [_row(4, 0.5), _row(4, 0.6)], "0.1", 4)
    assert med == best == {"pricing_summary": [0.5, 0.6]}
