"""Determinism and coverage of the benchmark's data generators.

    python3 -m pytest perfbench/test_datagen.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import datagen  # noqa: E402


def _ates(path, seed):
    return datagen.write_ates(str(path), seed, n_areas=40, mean_features=60, n_files=2)


def test_ates_same_seed_same_counts_and_digests(tmp_path):
    assert _ates(tmp_path / "a", 5) == _ates(tmp_path / "b", 5)


def test_ates_other_seed_other_counts_and_digests(tmp_path):
    a, b = _ates(tmp_path / "a", 5), _ates(tmp_path / "b", 6)
    assert a["per_area"] != b["per_area"]
    assert all(a["digests"][t] != b["digests"][t] for t in a["digests"])


def test_registry_same_seed_same_digests_other_seed_other(tmp_path):
    runs = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        os.makedirs(tmp_path / name)
        runs[name] = datagen.write_registry(str(tmp_path / name), seed, sf=0.001)
    assert runs["a"] == runs["b"]
    assert all(runs["a"][t]["digest"] != runs["c"][t]["digest"] for t in runs["a"])


def test_ates_covers_the_export_edge_cases():
    rows, expected = datagen.ates_rows(7, n_areas=40, mean_features=60)
    assert {r[3] for r in rows["points_of_interest"]} == set(datagen.POI_TYPES)

    per_dp: dict[int, list[str]] = {}
    for dp, _text, wtype in rows["decision_points_warnings"]:
        per_dp.setdefault(dp, []).append(wtype)
    counts = [len(per_dp.get(r[0], [])) for r in rows["decision_points"]]
    assert set(counts) == {0, 1, 2, 3, 4, 5}
    assert any(set(ts) == set(datagen.WARNING_TYPES) for ts in per_dp.values())
    # one decision point per coordinate: the warnify group key
    assert len({r[4] for r in rows["decision_points"]}) == len(rows["decision_points"])

    kinds = {json.loads(r[4])["type"] for r in rows["zones"]}
    assert kinds == {"Polygon", "MultiPolygon"}
    assert any(len(json.loads(r[4])["coordinates"]) == 2 for r in rows["zones"] if "Multi" not in r[4])

    texts = [v for t in rows.values() for r in t for v in r if isinstance(v, str) and not v.startswith("{")]
    for token in ("<", "&", "]]>"):
        assert any(token in v for v in texts), token
    assert not any(c in r[1] for r in rows["areas_vw"] for c in "<&")

    sizes = expected["area_sizes"]
    assert max(sizes) / min(sizes) > 0.8 * datagen.SIZE_SKEW
    assert expected["features"] == sum(expected["tables"].values())
