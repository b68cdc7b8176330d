"""Seeded synthetic rule set with the shipped dataset's envelope.

The real ``legal_default_speeds.json`` is not redistributed with this
repository, so the benchmark generates a rule set of the same shape
from a seed:

- 172 road types and 242 country codes, some of them ``CC-SUB``
  subdivisions (one family whose parent country has no rules of its
  own, so lookups of the bare parent code find nothing);
- 1,206 rule rows, at most 13 per code, 238 codes with a fallback
  (unnamed) rule;
- result tags nested to ``maxspeed:*:*`` depth 2
  (``maxspeed:hgv:conditional``);
- filters built from every atom family the engine compiles: placeholder
  chains (``{x}`` / ``!{x}``), fuzzy filters, relation filters,
  regex-set and real-regex value atoms, key-regex atoms and
  unit-normalised comparisons.

``generate_rules(seed)`` returns the dataset as the JSON document the
package's ``sources.rules_json.load_rules_json`` reads, with
``meta.ruleset = "synthetic-<seed>"``. ``check_envelope`` recomputes
the counts from a loaded dataset and raises if any differs.
"""

from __future__ import annotations

import random
import re

N_ROAD_TYPES = 172
N_CODES = 242
N_RULE_ROWS = 1206
MAX_RULES_PER_CODE = 13
N_CODES_WITH_FALLBACK = 238
N_SUBDIVISIONS = 37
MAX_SUBKEY_DEPTH = 2

HIGHWAYS = (
    "motorway", "motorway_link", "trunk", "trunk_link", "primary",
    "primary_link", "secondary", "secondary_link", "tertiary",
    "tertiary_link", "unclassified", "residential", "living_street",
    "service", "track", "road", "busway", "pedestrian",
)
SURFACES = ("asphalt", "paved", "gravel", "unpaved", "dirt", "concrete")
NETWORKS = ("e-road", "AH", "US:I", "US:US", "CA:transcanada", "BR:BR")
ZONES = ("urban", "rural", "motorway", "living_street", "zone30")

def _codes(rng: random.Random) -> tuple[list[str], dict[str, str]]:
    """242 distinct codes: countries as two-letter codes, subdivisions
    as ``CC-Sn``. Returns (codes, parent_of_subdivision)."""
    letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    pool = [a + b for a in letters for b in letters]
    rng.shuffle(pool)
    n_countries = N_CODES - N_SUBDIVISIONS
    countries = sorted(pool[:n_countries])
    # the orphan family's parent is NOT a rule code (bare parent code
    # resolves to nothing, like a country listed only by subdivision)
    orphan_parent = pool[n_countries]
    parents = rng.sample(countries, 8)
    subs: dict[str, str] = {}
    k = 0
    while len(subs) < N_SUBDIVISIONS - 2:
        p = parents[k % len(parents)]
        subs[f"{p}-S{k // len(parents) + 1}"] = p
        k += 1
    subs[f"{orphan_parent}-S1"] = orphan_parent
    subs[f"{orphan_parent}-S2"] = orphan_parent
    return sorted(countries + list(subs)), subs


def _atom(rng: random.Random) -> str:
    """One tag-filter atom, drawn across the atom families."""
    kind = rng.randrange(12)
    if kind == 0:
        return f"highway = {rng.choice(HIGHWAYS)}"
    if kind == 1:  # regex-set (pipe-only) value atom
        return "highway ~ " + "|".join(rng.sample(HIGHWAYS, rng.randint(2, 4)))
    if kind == 2:  # real regex value atom
        return f'highway ~ "{rng.choice(("primary", "secondary", "tertiary", "motorway"))}(_link)?"'
    if kind == 3:  # unit-normalised comparison
        op = rng.choice((">", ">=", "<", "<="))
        return rng.choice(
            (
                f"maxspeed {op} {rng.choice((30, 50, 60, 70, 90))}",
                f"maxspeed {op} {rng.choice((25, 35, 45, 55))}mph",
                f"lanes {op} {rng.randint(1, 4)}",
                f"width {op} {rng.choice((4, 5, 6))}m",
                f"width {op} {rng.choice((12, 16, 20))}ft",
            )
        )
    if kind == 4:
        return rng.choice(("lit = yes", "lit = no", "!lit"))
    if kind == 5:
        return rng.choice(("sidewalk", "!sidewalk", "sidewalk != no"))
    if kind == 6:
        return rng.choice(("oneway = yes", "dual_carriageway = yes", "motorroad = yes", "expressway = yes"))
    if kind == 7:
        return f"surface ~ {'|'.join(rng.sample(SURFACES, 2))}"
    if kind == 8:  # key-regex atom
        return rng.choice(
            (
                f'~"zone:(traffic|maxspeed)" ~ "[A-Z][A-Z]:{rng.choice(ZONES)}"',
                f'~"(source:)?maxspeed:type" ~ ".*:{rng.choice(ZONES)}"',
            )
        )
    if kind == 9:
        return f"zone:traffic ~ \"[A-Z][A-Z]:{rng.choice(ZONES)}\""
    if kind == 10:
        return rng.choice(("bicycle_road = yes", "hazard = children", "!hazard"))
    return f"highway !~ {'|'.join(rng.sample(HIGHWAYS, 2))}"


def _conj(rng: random.Random, parts: list[str]) -> str:
    out = parts[0]
    for p in parts[1:]:
        out += rng.choice((" and ", " and ", " or ")) + p
    return out


def _road_types(rng: random.Random) -> dict[str, dict]:
    """172 road types in 5 levels; a level-L type may reference types
    of lower levels by placeholder, so chains are up to 4 deep and
    acyclic by construction."""
    names = [f"rt{i:03d}" for i in range(N_ROAD_TYPES)]
    level_of = {n: min(4, i // 35) for i, n in enumerate(names)}
    out: dict[str, dict] = {}
    for n in names:
        lvl = level_of[n]
        lower = [m for m in names if level_of[m] == lvl - 1]
        parts = [_atom(rng) for _ in range(rng.randint(1, 3))]
        if lvl > 0:
            for _ in range(rng.randint(1, 2)):
                ref = rng.choice(lower)
                parts.insert(
                    rng.randrange(len(parts) + 1),
                    ("!{" if rng.random() < 0.25 else "{") + ref + "}",
                )
        flt = _conj(rng, parts)
        if rng.random() < 0.3:
            flt = f"({flt}) and {_atom(rng)}"
        d = {"filter": flt}
        if rng.random() < 0.35:
            d["fuzzyFilter"] = _conj(rng, [_atom(rng) for _ in range(rng.randint(1, 2))])
        if rng.random() < 0.12:
            d["relationFilter"] = (
                "type = route and route = road and network ~ "
                + '"' + "|".join(rng.sample(NETWORKS, 2)) + '"'
            )
        out[n] = d
    return out


def _rule_tags(rng: random.Random, mph: bool) -> dict[str, str]:
    if mph:
        v = rng.choice((15, 20, 25, 30, 35, 45, 55, 65, 70))
        tags = {"maxspeed": f"{v} mph"}
        if rng.random() < 0.3:
            tags["maxspeed:hgv"] = f"{max(v - 10, 10)} mph"
        return tags
    v = rng.choice((10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120, 130))
    tags = {"maxspeed": str(v)}
    r = rng.random()
    if r < 0.35:
        tags["maxspeed:hgv"] = str(max(v - 20, 10))
        if rng.random() < 0.5:
            # depth-2 subkey: capped against maxspeed:hgv, then maxspeed
            tags["maxspeed:hgv:conditional"] = (
                f"{max(v - 40, 10)} @ (weight>7.5); {v + 10} @ (22:00-06:00)"
            )
    if rng.random() < 0.25:
        tags["maxspeed:conditional"] = f"{max(v - 20, 10)} @ (wet); {v} @ (snow)"
    if rng.random() < 0.1:
        tags["maxspeed:bus"] = str(max(v - 10, 10))
    if rng.random() < 0.1:
        tags["minspeed"] = str(max(v // 2, 10))
    return tags


def _rule_counts(rng: random.Random, n: int) -> list[int]:
    shape = (1, 2, 3, 3, 4, 4, 5, 5, 5, 6, 6, 7, 8, 9, 10, 11, 12, 13)
    counts = [rng.choice(shape) for _ in range(n)]
    while sum(counts) != N_RULE_ROWS:
        i = rng.randrange(n)
        if sum(counts) < N_RULE_ROWS and counts[i] < MAX_RULES_PER_CODE:
            counts[i] += 1
        elif sum(counts) > N_RULE_ROWS and counts[i] > 1:
            counts[i] -= 1
    return counts


def generate_rules(seed: int) -> dict:
    """The synthetic dataset as a ``legal_default_speeds.json``
    document (``roadTypesByName`` / ``speedLimitsByCountryCode``)."""
    rng = random.Random(f"rules-{seed}")
    codes, parent_of = _codes(rng)
    road_types = _road_types(rng)
    names = sorted(road_types)
    counts = _rule_counts(rng, len(codes))
    no_fallback = set(rng.sample(codes, N_CODES - N_CODES_WITH_FALLBACK))
    mph_codes = set(rng.sample(codes, 12))
    speed_limits: dict[str, list] = {}
    for cc, k in zip(codes, counts):
        has_fb = cc not in no_fallback
        named = rng.sample(names, k - 1 if has_fb else k)
        rules = [{"name": n, "tags": _rule_tags(rng, cc in mph_codes)} for n in named]
        if has_fb:
            # fallback rows sit anywhere: at the end (plain default) or
            # mid-list, where they also act as the two-pass scan
            # separator
            pos = len(rules) if rng.random() < 0.6 else rng.randint(0, len(rules))
            rules.insert(pos, {"tags": _rule_tags(rng, cc in mph_codes)})
        speed_limits[cc] = rules
    # every depth-2 key must exist at least once
    first = next(cc for cc in codes if cc not in mph_codes)
    speed_limits[first][0]["tags"].update(
        {"maxspeed": "100", "maxspeed:hgv": "80",
         "maxspeed:hgv:conditional": "60 @ (weight>7.5)"}
    )
    return {
        "meta": {
            "ruleset": f"synthetic-{seed}",
            "source": "perfbench.rulegen",
            "subdivisions": parent_of,
        },
        "roadTypesByName": road_types,
        "speedLimitsByCountryCode": speed_limits,
        "warnings": [],
    }


def _subkey_depth(key: str) -> int:
    return key.count(":") if key.startswith("maxspeed:") else 0


def envelope(road_types: dict, speed_limits: dict) -> dict:
    """Counts of a loaded dataset (road_types / speed_limits as
    returned by ``load_rules_json``) in the shape ``check_envelope``
    compares."""
    fuzzy = sum(1 for d in road_types.values() if d.fuzzy_filter)
    rel = sum(1 for d in road_types.values() if d.relation_filter)
    filters = [
        s for d in road_types.values()
        for s in (d.filter, d.fuzzy_filter, d.relation_filter) if s
    ]
    return {
        "road_types": len(road_types),
        "codes": len(speed_limits),
        "subdivision_codes": sum(1 for c in speed_limits if "-" in c),
        "rule_rows": sum(len(r) for r in speed_limits.values()),
        "max_rules_per_code": max(len(r) for r in speed_limits.values()),
        "codes_with_fallback": sum(
            1 for r in speed_limits.values() if any(x.name is None for x in r)
        ),
        "max_subkey_depth": max(
            _subkey_depth(k)
            for r in speed_limits.values() for x in r for k in x.tags
        ),
        "fuzzy_filters": fuzzy,
        "relation_filters": rel,
        "placeholder_filters": sum(1 for s in filters if "{" in s),
        "regex_set_atoms": sum(1 for s in filters if "~ " in s and "|" in s),
        "unit_compare_atoms": sum(
            1 for s in filters if re.search(r"[<>]=? [0-9.]+(mph|m|ft)\b", s)
        ),
    }


def check_envelope(road_types: dict, speed_limits: dict) -> dict:
    """Raise ValueError unless the dataset matches the shipped
    envelope; returns the counts."""
    got = envelope(road_types, speed_limits)
    want = {
        "road_types": N_ROAD_TYPES,
        "codes": N_CODES,
        "rule_rows": N_RULE_ROWS,
        "codes_with_fallback": N_CODES_WITH_FALLBACK,
        "max_subkey_depth": MAX_SUBKEY_DEPTH,
    }
    bad = {k: (got[k], v) for k, v in want.items() if got[k] != v}
    if got["max_rules_per_code"] > MAX_RULES_PER_CODE:
        bad["max_rules_per_code"] = (got["max_rules_per_code"], MAX_RULES_PER_CODE)
    for k in ("subdivision_codes", "fuzzy_filters", "relation_filters",
              "placeholder_filters", "regex_set_atoms", "unit_compare_atoms"):
        if got[k] == 0:
            bad[k] = (0, "> 0")
    if bad:
        raise ValueError(f"rule set outside the shipped envelope: {bad}")
    return got
