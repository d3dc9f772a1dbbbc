"""Unit tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest -q perfbench/tests
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import refdata  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def test_percentile_matches_linear_interpolation():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(vals, 0) == 1.0
    assert stats.percentile(vals, 50) == 3.0
    assert stats.percentile(vals, 100) == 5.0
    assert stats.percentile(vals, 25) == 2.0
    assert stats.percentile([1.0, 2.0], 50) == 1.5
    assert stats.percentile([7.0], 90) == 7.0


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 101)


def test_quartiles_agree_with_statistics_module():
    vals = [float(v) for v in (9, 1, 8, 2, 7, 3, 6, 4, 5, 10)]
    s = stats.summarize(vals)
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert (s["q1"], s["q3"]) == (q1, q3)
    assert s["p50"] == statistics.median(vals) == med


@pytest.mark.parametrize(
    "n, want",
    [
        (0, None),
        (19, None),  # the median has only 9.5 samples beyond it
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_rule_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_summarize_reports_tail_only_when_supported():
    assert "tail" not in stats.summarize([1.0] * 10)
    s = stats.summarize([float(i) for i in range(100)])
    assert s["tail_pct"] == 90.0
    assert s["tail"] == pytest.approx(89.1)


def test_self_time_subtracts_children_once():
    # Overlapping children [1,3] and [2,4] cover [1,4]: 3 of 10 seconds.
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == 7.0
    # Children outside the span are clipped to it.
    assert stats.self_time(0.0, 10.0, [(-5.0, 1.0), (9.0, 20.0)]) == 8.0
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0), (2.0, 3.0)]) == 0.0


def test_tracer_partitions_wall_time_into_self_times():
    tr = spans.Tracer()
    with tr.span("outer", "a"):
        with tr.span("inner1", "b"):
            pass
        with tr.span("inner2", "b"):
            with tr.span("leaf", "c"):
                pass
    outer = tr.spans[0]
    total = sum(tr.self_time(i) for i in range(len(tr.spans)))
    assert total == pytest.approx(outer.end - outer.start)
    assert [s.parent for s in tr.spans] == [None, 0, 0, 2]
    assert all(tr.self_time(i) >= 0 for i in range(len(tr.spans)))


def test_tracer_records_id_ranges_of_nested_spans():
    counter = iter(range(100))
    state = {"job": 0, "stage": 0}

    def ids():
        return state["job"], state["stage"]

    tr = spans.Tracer(ids)
    with tr.span("pass", "pass"):
        with tr.span("q1", "op.x"):
            state["job"] += 3
            state["stage"] += 5
        with tr.span("meta", "routing", spark=False):
            next(counter)
        with tr.span("q2", "op.y"):
            state["job"] += 2
            state["stage"] += 2
    p, q1, meta, q2 = tr.spans
    assert p.jobs == (0, 5) and q1.jobs == (0, 3) and q2.jobs == (3, 5)
    assert q1.stages == (0, 5) and q2.stages == (5, 7)
    assert meta.jobs is None
    per_span = {s.name: s.jobs[1] - s.jobs[0] for s in (q1, q2)}
    stats.check_attribution(per_span, p.jobs[1] - p.jobs[0])


def test_attribution_check_rejects_negative_and_overcount():
    with pytest.raises(ValueError):
        stats.check_attribution({"a": -1}, 10)
    with pytest.raises(ValueError):
        stats.check_attribution({"a": 6, "b": 5}, 10)
    stats.check_attribution({"a": 6, "b": 4}, 10)


def test_covered_merges_overlaps():
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert stats.covered([], 0, 10) == 0
    assert stats.covered([(2, 8)], 3, 5) == 2


GOOD = "cpu  100 0 50 800 10 0 5 20 0 0\ncpu0 50 0 25 400 5 0 2 10 0 0\n"


def test_proc_stat_parses_aggregate_line():
    assert stats.parse_proc_stat(GOOD) == [100, 0, 50, 800, 10, 0, 5, 20, 0, 0]


@pytest.mark.parametrize(
    "text",
    [
        "",
        "cpu  1 2 3\n",  # too short to hold steal
        "cpu  1 2 x 4 5 6 7 8\n",  # garbled field
        "intr 1 2 3\n",  # no cpu line
        "cpu0 1 2 3 4 5 6 7 8\n",  # per-core line only
    ],
)
def test_proc_stat_rejects_short_or_garbled(text):
    assert stats.parse_proc_stat(text) == []


def test_cpu_delta_checks_both_snapshots():
    after = stats.parse_proc_stat(GOOD)
    before = [0] * len(after)
    d = stats.cpu_delta_pct(before, after)
    assert d == {"steal_pct": 2.03, "busy_pct": 17.77}
    # A short snapshot on either side yields {} instead of IndexError.
    assert stats.cpu_delta_pct([1, 2, 3], after) == {}
    assert stats.cpu_delta_pct(before, [1, 2, 3]) == {}
    assert stats.cpu_delta_pct([], []) == {}
    # Counters that went backwards (or did not advance) are rejected.
    assert stats.cpu_delta_pct(after, before) == {}
    assert stats.cpu_delta_pct(after, after) == {}


def test_pid_stat_parses_names_with_spaces_and_parens():
    line = "4242 (java (x) y) S 17 4242 4242 0 -1 4194560 10 0 0 0 250 50 3 4 20 0 30 0"
    assert stats.parse_pid_stat(line) == (17, 300)


def test_tree_cpu_ticks_sums_descendants_only():
    table = {1: (0, 5), 10: (1, 100), 11: (10, 20), 12: (11, 3), 20: (1, 999)}
    assert stats.tree_cpu_ticks(table, [10]) == 123
    assert stats.tree_cpu_ticks(table, [12]) == 3
    assert stats.tree_cpu_ticks(table, [99]) == 0


def test_reference_tables_match_their_checksums():
    assert refdata.check() == []


def test_reference_check_reports_changed_and_missing_tables(tmp_path):
    import shutil

    shutil.copytree(refdata.ROOT, tmp_path / "data")
    (tmp_path / "data" / "sf0.01" / "region.parquet").write_bytes(b"not parquet")
    (tmp_path / "data" / "sf0.01" / "nation.parquet").unlink()
    errs = refdata.check(str(tmp_path / "data"))
    assert len(errs) == 2
    assert any("region.parquet: sha256" in e for e in errs)
    assert any("nation.parquet" in e and "sha256" not in e for e in errs)
