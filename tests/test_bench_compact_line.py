"""bench.py's one-line JSON result (``compact_line``).

A bench runner may keep only the tail of stdout and compare the per-query
times of the compact line round over round, so the line must stay under
its budget and must keep carrying the same leading HEADLINE names whatever
metadata fields are present. The whole HEADLINE map (~9 KB) never fits;
the names through ``gapfill_hourly_counts`` are the ones the line has
always carried, and they must fit at their widest.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402

CARRIED = bench.HEADLINE[: bench.HEADLINE.index("gapfill_hourly_counts") + 1]
ALL_META = {
    "n_over_budget": len(bench.HEADLINE),
    "calib": 1.2,
    "median_ratio_vs_anchor": 12.3456,
}


def _line(timings, **meta):
    return bench.compact_line(
        sum(timings.values()), timings, sf=0.001, detail="BENCH_LOCAL.sf0.001.json", **meta
    )


@pytest.mark.parametrize("sec", [0.01, 9.99, 99.99, 999.99])
def test_carried_names_fit_with_every_metadata_field(sec):
    timings = {n: sec for n in bench.HEADLINE}
    line = _line(timings, **ALL_META)
    out = json.loads(line)
    assert len(line) <= bench.COMPACT_BUDGET
    assert list(out["queries"])[: len(CARRIED)] == list(CARRIED)
    assert "gapfill_hourly_counts" in out["queries"]
    assert out["calib"] == 1.2
    assert out["n_over_budget"] == len(bench.HEADLINE)
    assert out["median_ratio_vs_anchor"] == 12.3456


@pytest.mark.parametrize(
    "meta",
    [{}, {"calib": 1.0}, {"median_ratio_vs_anchor": 0.78}, {"n_over_budget": 3}, ALL_META],
)
def test_metadata_never_changes_which_queries_are_carried(meta):
    timings = {n: 1.23 for n in bench.HEADLINE}
    bare = json.loads(_line(timings))["queries"]
    assert json.loads(_line(timings, **meta))["queries"] == bare


def test_carries_queries_in_headline_order_and_skips_missing_ones():
    timings = {n: 0.5 for n in bench.HEADLINE[1:5]}
    out = json.loads(_line(timings))
    assert list(out["queries"]) == list(bench.HEADLINE[1:5])
    assert out["n_queries"] == 4
