"""Tier-1 slice of the robustness sweeps (``scripts/check_oracle.py
--perturb <kind>``): each fixture is checked to really be perturbed, then
the registry entries each sweep once caught are re-graded on it.

The full sweeps run the whole registry and stay manual; this slice keeps
the harness itself and its historic catches from regressing silently.
"""

from __future__ import annotations

import importlib.util
import os
from datetime import datetime

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.001"


def _check_oracle_mod():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


co = _check_oracle_mod()


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    """kind -> data dir; each fixture is built once per module, on first use."""
    built = {}

    def get(kind: str) -> str:
        if kind not in built:
            if co.PERTURBATIONS[kind].transform is None:
                built[kind] = SRC
            else:
                out = str(tmp_path_factory.mktemp(f"sf_{kind}"))
                built[kind] = co.build_fixture(spark, SRC, out, kind)
        return built[kind]

    return get


def _col(d: str, table: str, col: str):
    return pq.read_table(f"{d}/{table}.parquet", columns=[col]).column(col)


def test_nulls_fixture_has_null_user_ids(fixture_dir):
    assert _col(fixture_dir("nulls"), "events", "user_id").null_count > 0


def test_skew_fixture_has_a_hot_user(fixture_dir):
    users = _col(fixture_dir("skew"), "events", "user_id")
    top = max(vc["counts"].as_py() for vc in pc.value_counts(users))
    assert top >= 0.25 * len(users), (top, len(users))


def test_times_fixture_holds_every_edge(fixture_dir):
    d = fixture_dir("times")
    seen = {
        v
        for t, (_pk, cols) in co.TS_PLAN.items()
        for c in cols
        for v in _col(d, t, c).to_pylist()
    }
    assert [e for e in co.EDGES if datetime.fromisoformat(e) not in seen] == []


def test_empty_fixture_has_no_rows(fixture_dir):
    d = fixture_dir("empty")
    assert {t: pq.read_metadata(f"{d}/{t}.parquet").num_rows for t in co.TABLES} == {
        t: 0 for t in co.TABLES
    }


#: (perturbation, registry entries it caught in earlier rounds). gap_fill
#: stays out: its spine fans out ×181 on the times fixture (see ROADMAP).
HISTORIC_CATCHES = [
    ("nulls", ["streaming_dedup_evicting"]),
    ("skew", ["csv_roundtrip"]),
    ("times", ["events_dashboard", "hourly_profile"]),
    ("empty", ["ivf_index_topk", "mmr_select", "dataset_datasheet"]),
    ("layout", ["ates_kml_document"]),
]


@pytest.mark.parametrize(
    "kind,names", HISTORIC_CATCHES, ids=[k for k, _ in HISTORIC_CATCHES]
)
def test_historic_catches_stay_fixed(spark, fixture_dir, capsys, kind, names):
    failures = co.sweep(spark, fixture_dir(kind), names, perturb=kind)
    out = capsys.readouterr().out
    assert failures == [], out
    graded = [line.split(":")[0].split()[1] for line in out.splitlines() if line]
    assert sorted(graded) == sorted(names), out
    if kind == "empty":
        # the designed refusal, not an accidental pass
        assert "GUARD ivf_index_topk:" in out


def test_unknown_name_fails_the_sweep(spark):
    failures = co.sweep(spark, SRC, ["no_such_query"])
    assert failures == ["FAIL no_such_query: no such query"]
