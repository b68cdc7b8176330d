"""Generator determinism and the synthetic rule set's envelope.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import rulegen  # noqa: E402
import synth  # noqa: E402
from osm_legal_default_speeds_spark.plans.rules_compiler import compile_ruleset  # noqa: E402
from osm_legal_default_speeds_spark.sources.rules_json import load_rules_json  # noqa: E402


@pytest.mark.parametrize("seed", [0, 1, 17, 4242])
def test_rule_set_matches_shipped_envelope(tmp_path, seed):
    doc = rulegen.generate_rules(seed)
    assert doc["meta"]["ruleset"] == f"synthetic-{seed}"
    path = tmp_path / "rules.json"
    path.write_text(json.dumps(doc))
    _, road_types, speed_limits, _ = load_rules_json(path)
    got = rulegen.check_envelope(road_types, speed_limits)
    assert got["road_types"] == 172
    assert got["codes"] == 242
    assert got["rule_rows"] == 1206
    assert got["max_rules_per_code"] <= 13
    assert got["codes_with_fallback"] == 238
    assert got["max_subkey_depth"] == 2
    rs = compile_ruleset(road_types, speed_limits)
    assert len(rs.speed_limits_by_country) == 242


def test_envelope_check_rejects_a_short_rule_set(tmp_path):
    doc = rulegen.generate_rules(3)
    cc = sorted(doc["speedLimitsByCountryCode"])[0]
    doc["speedLimitsByCountryCode"][cc].pop()
    path = tmp_path / "rules.json"
    path.write_text(json.dumps(doc))
    _, road_types, speed_limits, _ = load_rules_json(path)
    with pytest.raises(ValueError, match="rule_rows"):
        rulegen.check_envelope(road_types, speed_limits)


TINY = {
    "flagship": dict(n_roads=500, n_combos=50, gap_share=0.13, parts=2),
    "changesets": dict(n_base=200, n_changesets=3, changeset_rows=20, parts=1),
    "curate": dict(n_images=60, boilerplate_share=0.2, parts=2),
}


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("name", sorted(TINY))
def test_same_seed_gives_identical_inputs(tmp_path, name):
    a = synth.materialize(str(tmp_path / "a"), name, 5, **TINY[name])
    b = synth.materialize(str(tmp_path / "b"), name, 5, **TINY[name])
    c = synth.materialize(str(tmp_path / "c"), name, 6, **TINY[name])
    assert _same_tree(a, b)
    assert not _same_tree(a, c)


def test_inputs_are_reused_by_seed(tmp_path):
    a = synth.materialize(str(tmp_path), "curate", 9, **TINY["curate"])
    stamp = os.path.getmtime(os.path.join(a, "DONE"))
    assert synth.materialize(str(tmp_path), "curate", 9, **TINY["curate"]) == a
    assert os.path.getmtime(os.path.join(a, "DONE")) == stamp


def test_world_nests_subdivisions_and_leaves_gaps():
    import numpy as np

    from osm_legal_default_speeds_spark.operators.spatial import PolygonBoundary

    doc = rulegen.generate_rules(2)
    world = synth.generate_world(doc, 2)
    assert len(world) == 242
    polys = {p["code"]: PolygonBoundary(p["code"], (tuple(map(tuple, p["ring"])),),
                                        p["priority"]) for p in world}
    parent_of = doc["meta"]["subdivisions"]
    for code, parent in parent_of.items():
        if parent in polys:
            for lon, lat in polys[code].rings[0]:
                assert polys[parent].contains_py(lon, lat), (code, parent)
    lon, lat = synth.world_points(world, 2000, 0.13, np.random.default_rng(0))
    top = [p for p in polys.values() if p.priority == 1]
    outside = sum(not any(p.contains_py(x, y) for p in top) for x, y in zip(lon, lat))
    assert 0.08 <= outside / 2000 <= 0.15
