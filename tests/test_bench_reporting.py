"""The bench stdout contract: the driver keeps only a 2000-char stdout
tail, so the final JSON line must stay bounded regardless of headline-set
size (round 5 shipped a 4.7 KB line and BENCH_r05 recorded "parsed": null).
These tests cover the round-derivation and prior-round-timings helpers and
the boundedness of the summary line shape, without running Spark."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_next_round_derives_from_driver_artifacts(tmp_path):
    # the driver writes BENCH_r{N}.json after running bench, so at bench
    # time the newest recorded round is N-1
    (tmp_path / "BENCH_r01.json").write_text("{}")
    (tmp_path / "BENCH_r05.json").write_text("{}")
    assert bench._next_round(str(tmp_path)) == 6


def test_next_round_rerun_overwrites_own_sidecar(tmp_path):
    (tmp_path / "BENCH_r05.json").write_text("{}")
    (tmp_path / "BENCH_FULL_r06.json").write_text("{}")
    # a second bench run within round 6 targets the same sidecar
    assert bench._next_round(str(tmp_path)) == 6


def test_next_round_empty_repo(tmp_path):
    assert bench._next_round(str(tmp_path)) == 1


@pytest.mark.parametrize(
    "cpus,want",
    [
        # a scaling run files under the newest recorded round
        ("8", (12, "BENCH_FULL_r12_c8.json")),
        # a run on every usable CPU takes the next round's slot
        ("32", (13, "BENCH_FULL_r13.json")),
        (None, (13, "BENCH_FULL_r13.json")),
    ],
)
def test_full_sidecar_names_scaling_runs(tmp_path, cpus, want):
    (tmp_path / "BENCH_r12.json").write_text("{}")
    assert bench._full_sidecar(str(tmp_path), cpus, 32) == want


def test_prev_timings_prefers_full_sidecar(tmp_path):
    (tmp_path / "BENCH_FULL_r05.json").write_text(
        json.dumps({"sf": "0.1", "queries": {"q1": 1.5}})
    )
    (tmp_path / "BENCH_r05.json").write_text(
        json.dumps({"tail": 'noise {"metric": "x", "queries": {"q1": 9.9}}'})
    )
    assert bench._prev_round_timings(str(tmp_path), 6) == {"q1": 1.5}


def test_prev_timings_falls_back_to_driver_tail(tmp_path):
    line = json.dumps(
        {"metric": "headline", "sf": "0.1", "queries": {"q1": 2.25, "q2": 0.5}}
    )
    (tmp_path / "BENCH_r04.json").write_text(
        json.dumps({"tail": "progress bars\r\r" + line})
    )
    assert bench._prev_round_timings(str(tmp_path), 6) == {"q1": 2.25, "q2": 0.5}


def test_prev_timings_skips_truncated_tail(tmp_path):
    # the r5 failure mode: tail cut mid-JSON — unparseable, skip to r4
    (tmp_path / "BENCH_r05.json").write_text(
        json.dumps({"tail": '{"metric": "x", "queries": {"q1": 1.'})
    )
    line = json.dumps({"metric": "x", "sf": "0.1", "queries": {"q1": 3.0}})
    (tmp_path / "BENCH_r04.json").write_text(json.dumps({"tail": line}))
    assert bench._prev_round_timings(str(tmp_path), 6) == {"q1": 3.0}


def test_summary_line_bounded_at_headline_scale():
    """The stdout line shape with worst-case realistic field sizes must fit
    the 1.5 KB guard with room to spare even if names grow."""
    slowest5 = {f"a_rather_long_query_name_{i}": 123.456 for i in range(5)}
    worst5 = {f"another_long_query_name_{i}": 99.99 for i in range(5)}
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 99999.999,
            "unit": "sec",
            "queries": slowest5,
            "sf": "0.1",
            "runs_per_query": 3,
            "agg": "min",
            "n_headline": 1000,
            "baseline_r01_subtotal": 99999.999,
            "n_baseline_r01_queries": 36,
            "worst5_vs_prev_round": worst5,
            "full_timings": "BENCH_FULL_r99.json",
        }
    )
    assert len(line) < 1500


def test_repo_state_round6(tmp_path):
    """Against the real repo dir: with BENCH_r05.json present the sidecar
    name is round-stamped r06 and r4's tail (complete) provides per-query
    fallback data for regression ratios."""
    repo = os.path.dirname(os.path.abspath(bench.__file__))
    n = bench._next_round(repo)
    assert n >= 6
    prev = bench._prev_round_timings(repo, n)
    assert prev, "expected recoverable per-query timings from a prior round"
    assert all(isinstance(v, float) for v in prev.values())
