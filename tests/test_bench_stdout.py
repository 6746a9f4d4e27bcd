"""bench.py's stdout line: its query set and its length bound."""

from __future__ import annotations

import json

import pytest

import __spark_entry__ as entry
import bench


def _out(timings: dict[str, float], sf: object = 0.1) -> dict:
    return {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "queries_omitted": len(timings) - len(bench.STDOUT_QUERIES),
    }


def test_stdout_queries_within_headline_within_declared():
    assert len(set(bench.STDOUT_QUERIES)) == len(bench.STDOUT_QUERIES)
    assert set(bench.STDOUT_QUERIES) <= set(bench.HEADLINE)
    assert set(bench.HEADLINE) <= set(entry.queries())


@pytest.mark.parametrize("seconds", [0.123, 12.345, 1234.567])
def test_stdout_line_fits_and_keeps_every_name(seconds):
    timings = {name: seconds for name in bench.HEADLINE}
    line = bench.stdout_line(_out(timings), timings)
    assert len(line) <= bench.STDOUT_LIMIT
    assert list(json.loads(line)["queries"]) == bench.STDOUT_QUERIES


def test_stdout_line_rejects_an_overlong_line():
    timings = {name: 1.0 for name in bench.HEADLINE}
    with pytest.raises(ValueError, match="over the 1990 limit"):
        bench.stdout_line(_out(timings, sf="x" * bench.STDOUT_LIMIT), timings)
