"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size parameters)``: the
same seed gives byte-identical files. ``materialize`` writes one input
set under ``<cache>/<name>-<seed>-<digest>/`` and reuses it when it is
already there, so the program under test only ever receives generated
files (rules JSON, polygons JSON, parquet tables).

Inputs:

- ``world``: one concave star polygon (16-64 vertices) per rule code.
  Countries sit in a lon/lat grid; subdivisions nest inside their
  parent at a higher priority. A stated share of points falls in the
  gaps between polygons and needs the kNN fallback.
- ``roads``: points over that world with OSM-like tags, Zipf-distributed
  over a few thousand relevant-tag combinations plus irrelevant keys.
- ``changesets``: a coded base corpus and a sequence of changesets
  (re-tags, moves, new ids, removes, same-id duplicates ordered by
  ``seq``) whose rows carry mostly distinct tag combinations
  (``maxspeed`` in several units) and a relations column.
- ``images``: the package's deterministic image+caption rows plus a
  free-text ``alt_text`` column, mostly unique with a stated share of
  boilerplate.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import rulegen

TAGS_TYPE = pa.map_(pa.string(), pa.string())
RELS_TYPE = pa.list_(TAGS_TYPE)

MAXSPEED_FORMS = ("{v}", "{v}", "{v}", "{m} mph", "{v} km/h", "{v} kph", "XX:urban",
                  "XX:rural", "none", "walk", "signals")
NETWORK_VALUES = rulegen.NETWORKS + ("local", "regional", "DE:BAB")


def _write_table(path: str, columns: dict) -> None:
    tmp = path + ".tmp"
    pq.write_table(pa.table(columns), tmp, row_group_size=1 << 20)
    os.replace(tmp, path)


def _write_parts(path: str, columns: dict, parts: int) -> None:
    """A parquet directory of ``parts`` equal files, so the scan splits
    across cores the way a multi-file table does."""
    table = pa.table(columns)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        _write_table(os.path.join(path, f"part-{k:05d}.parquet"),
                     table.slice(k * step, step))


# --------------------------------------------------------------------------
# World polygons
# --------------------------------------------------------------------------

GRID_COLS, GRID_ROWS = 18, 12
LON0, LAT0, CELL_W, CELL_H = -180.0, -66.0, 20.0, 11.0


def _star(rng: np.random.Generator, n: int, rmin: float, rmax: float):
    """Concave star in a unit frame: vertex angles (sorted, jittered)
    and radii."""
    ang = (np.arange(n) + rng.uniform(-0.3, 0.3, n)) * (2 * math.pi / n)
    rad = rng.uniform(rmin, rmax, n)
    return ang, rad


def generate_world(rules_doc: dict, seed: int) -> list[dict]:
    """One polygon per rule code: ``{code, priority, cx, cy, rx, ry,
    ang, rad}`` plus ``ring`` (lon/lat vertices). Subdivisions nest
    inside their parent with priority 0; top-level polygons have
    priority 1."""
    rng = np.random.default_rng([seed, 1])
    codes = sorted(rules_doc["speedLimitsByCountryCode"])
    parent_of = rules_doc["meta"]["subdivisions"]
    code_set = set(codes)
    top = [c for c in codes if c not in parent_of or parent_of[c] not in code_set]
    if len(top) > GRID_COLS * GRID_ROWS:
        raise ValueError(f"{len(top)} top-level codes do not fit the grid")
    cells = rng.permutation(GRID_COLS * GRID_ROWS)[: len(top)]
    polys: list[dict] = []
    by_code: dict[str, dict] = {}
    for code, cell in zip(top, cells.tolist()):
        col, row = divmod(cell, GRID_ROWS)
        n = int(rng.integers(16, 65))
        ang, rad = _star(rng, n, 0.55, 0.95)
        p = {
            "code": code, "priority": 1,
            "cx": LON0 + (col + 0.5) * CELL_W, "cy": LAT0 + (row + 0.5) * CELL_H,
            "rx": CELL_W / 2, "ry": CELL_H / 2, "ang": ang, "rad": rad,
        }
        polys.append(p)
        by_code[code] = p
    subs_of: dict[str, list[str]] = {}
    for c in codes:
        if c not in by_code:
            subs_of.setdefault(parent_of[c], []).append(c)
    for parent, subs in sorted(subs_of.items()):
        pp = by_code[parent]
        # inner radius of the parent along any chord >= 0.9 * min radius
        # (>= 16 vertices, bounded angular jitter): keep children within
        # half of it
        inner = 0.5 * 0.9 * float(pp["rad"].min())
        for k, code in enumerate(sorted(subs)):
            a = 2 * math.pi * k / len(subs)
            n = int(rng.integers(16, 33))
            ang, rad = _star(rng, n, 0.5, 1.0)
            s = inner * 0.4
            polys.append({
                "code": code, "priority": 0,
                "cx": pp["cx"] + pp["rx"] * inner * 0.55 * math.cos(a),
                "cy": pp["cy"] + pp["ry"] * inner * 0.55 * math.sin(a),
                "rx": pp["rx"] * s, "ry": pp["ry"] * s, "ang": ang, "rad": rad,
            })
    for p in polys:
        xs = p["cx"] + p["rx"] * p["rad"] * np.cos(p["ang"])
        ys = p["cy"] + p["ry"] * p["rad"] * np.sin(p["ang"])
        p["ring"] = [[float(x), float(y)] for x, y in zip(xs, ys)]
    return polys


def _edge_radius(p: dict, theta: np.ndarray) -> np.ndarray:
    """Distance (unit frame) from the centre to the star's boundary
    along direction ``theta``: the ray/chord intersection of the edge
    whose vertex angles bracket ``theta``."""
    ang, rad = p["ang"], p["rad"]
    n = len(ang)
    t = np.mod(theta - ang[0], 2 * math.pi) + ang[0]
    i = np.searchsorted(ang, t, side="right") - 1
    i = np.clip(i, 0, n - 1)
    j = (i + 1) % n
    px, py = rad[i] * np.cos(ang[i]), rad[i] * np.sin(ang[i])
    qx, qy = rad[j] * np.cos(ang[j]), rad[j] * np.sin(ang[j])
    ex, ey = qx - px, qy - py
    dx, dy = np.cos(theta), np.sin(theta)
    return (px * ey - py * ex) / (dx * ey - dy * ex)


def world_points(world: list[dict], n: int, gap_share: float, rng) -> tuple:
    """(lon, lat) for ``n`` points: a random top-level polygon, a
    random direction, then either inside the star (area-uniform) or,
    with probability ``gap_share``, just outside its boundary."""
    top = [p for p in world if p["priority"] == 1]
    which = rng.integers(0, len(top), n)
    theta = rng.uniform(0, 2 * math.pi, n)
    gap = rng.random(n) < gap_share
    scale = np.where(gap, 1.03 + 0.3 * rng.random(n), 0.995 * np.sqrt(rng.random(n)))
    lon = np.empty(n)
    lat = np.empty(n)
    for k, p in enumerate(top):
        m = which == k
        th = theta[m]
        rho = scale[m] * _edge_radius(p, th)
        lon[m] = p["cx"] + p["rx"] * rho * np.cos(th)
        lat[m] = p["cy"] + p["ry"] * rho * np.sin(th)
    return np.clip(lon, -179.999, 179.999), np.clip(lat, -89.999, 89.999)


# --------------------------------------------------------------------------
# Tags
# --------------------------------------------------------------------------

def _maxspeed(rng: random.Random) -> str:
    v = rng.choice((20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120, 130))
    return rng.choice(MAXSPEED_FORMS).format(v=v, m=rng.choice((15, 25, 30, 45, 55, 65)))


def _relevant_tags(rng: random.Random) -> dict:
    t = {"highway": rng.choice(rulegen.HIGHWAYS)}
    if rng.random() < 0.45:
        t["maxspeed"] = _maxspeed(rng)
    if rng.random() < 0.35:
        t["lit"] = rng.choice(("yes", "no"))
    if rng.random() < 0.25:
        t["sidewalk"] = rng.choice(("both", "left", "no", "separate"))
    if rng.random() < 0.3:
        t["lanes"] = str(rng.randint(1, 6))
    if rng.random() < 0.15:
        t["width"] = rng.choice(("3.5", "4 m", "5.5", "12 ft", "20'", "7m"))
    if rng.random() < 0.2:
        t["surface"] = rng.choice(rulegen.SURFACES)
    if rng.random() < 0.15:
        t["oneway"] = "yes"
    if rng.random() < 0.05:
        t[rng.choice(("motorroad", "dual_carriageway", "expressway", "bicycle_road"))] = "yes"
    if rng.random() < 0.1:
        t["zone:traffic"] = "XX:" + rng.choice(rulegen.ZONES)
    if rng.random() < 0.05:
        t["maxspeed:type"] = "XX:" + rng.choice(rulegen.ZONES)
    if rng.random() < 0.04:
        t["hazard"] = "children"
    if rng.random() < 0.06:
        # an input maxspeed:* key takes the full result-assembly path
        t["maxspeed:hgv"] = _maxspeed(rng)
    return t


def _irrelevant(rng: random.Random, i: int, t: dict) -> dict:
    t = dict(t)
    if rng.random() < 0.5:
        t["name"] = f"Street {i % 7919}"
    if rng.random() < 0.1:
        t["ref"] = f"R{i % 997}"
    if rng.random() < 0.2:
        t["source"] = rng.choice(("survey", "bing", "gps"))
    if rng.random() < 0.05:
        t["created_by"] = "JOSM"
    return t


def zipf_tags(rng: random.Random, n: int, n_combos: int, s: float = 1.1) -> list[dict]:
    """``n`` OSM-like tag maps: relevant tags from a Zipf(``s``) draw
    over ``n_combos`` combinations, plus per-row irrelevant keys."""
    combos = [_relevant_tags(rng) for _ in range(n_combos)]
    w = 1.0 / np.arange(1, n_combos + 1) ** s
    npr = np.random.default_rng(rng.getrandbits(32))
    idx = npr.choice(n_combos, size=n, p=w / w.sum())
    return [_irrelevant(rng, i, combos[k]) for i, k in enumerate(idx.tolist())]


def relations(rng: random.Random, n: int) -> list[list[dict]]:
    out = []
    for _ in range(n):
        k = rng.choice((0, 0, 0, 1, 1, 2))
        out.append([
            {"type": rng.choice(("route", "route", "restriction")),
             "route": rng.choice(("road", "road", "bus")),
             "network": rng.choice(NETWORK_VALUES)}
            for _ in range(k)
        ])
    return out


def _codes_for(rng: random.Random, rules_doc: dict, n: int) -> list[str]:
    """Codes of a coded corpus: mostly rule codes, some unlisted
    subdivisions of listed countries (subdivision -> country fallback)
    and some codes no rule covers."""
    codes = sorted(rules_doc["speedLimitsByCountryCode"])
    countries = [c for c in codes if "-" not in c]
    out = []
    for _ in range(n):
        r = rng.random()
        if r < 0.9:
            out.append(rng.choice(codes))
        elif r < 0.97:
            out.append(rng.choice(countries) + "-X9")
        else:
            out.append("QQ")
    return out


def _tags_array(tags: list[dict]) -> pa.Array:
    return pa.array([list(t.items()) for t in tags], type=TAGS_TYPE)


def _relations_array(rng: random.Random, n: int) -> pa.Array:
    return pa.array([[list(r.items()) for r in rels] for rels in relations(rng, n)],
                    type=RELS_TYPE)


# --------------------------------------------------------------------------
# Images
# --------------------------------------------------------------------------

def _words(seed: int) -> list[str]:
    rng = random.Random(f"words-{seed}")
    syll = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "dra", "gu", "zen")
    words = set()
    while len(words) < 4000:
        words.add("".join(rng.choice(syll) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def image_rows(seed: int, n: int, boilerplate_share: float) -> dict:
    """Columns of the image table: the package's deterministic
    image+caption rows for a seeded sample of ids, plus ``alt_text``."""
    from osm_legal_default_speeds_spark.payload import images as im

    npr = np.random.default_rng([seed, 4])
    ids = np.sort(npr.choice(1 << 24, size=n, replace=False)).astype(np.int64)
    ws, hs = im.image_dims(ids)
    fmts = im.fmt_for(ids)
    caps = im.caption_for(ids)
    blobs, hashes = [], []
    for i, w, h, fmt in zip(ids.tolist(), ws.tolist(), hs.tolist(), fmts):
        px = im.reference_pixels(i, w, h)
        blobs.append(im._ENCODERS[fmt](px))
        hashes.append(im.phash64(px))
    rng = random.Random(f"alt-{seed}")
    vocab = _words(seed)
    # boilerplate captions share no word with each other, so any two
    # captions are either identical or far below the Jaccard threshold
    rng.shuffle(vocab)
    boilerplate = [" ".join(vocab[10 * k:10 * k + 10]) for k in range(20)]
    vocab = vocab[200:]
    alt = [
        rng.choice(boilerplate) if rng.random() < boilerplate_share
        else " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 14)))
        for _ in range(n)
    ]
    return {
        "image_id": pa.array([f"img-{i}" for i in ids.tolist()]),
        "bytes": pa.array(blobs, type=pa.binary()),
        "w": pa.array(ws, type=pa.int32()),
        "h": pa.array(hs, type=pa.int32()),
        "fmt": pa.array(fmts.tolist()),
        "caption": pa.array(caps.tolist()),
        "phash": pa.array(hashes, type=pa.int64()),
        "alt_text": pa.array(alt),
    }


# --------------------------------------------------------------------------
# Input sets
# --------------------------------------------------------------------------

def _rules_file(out: str, seed: int) -> dict:
    doc = rulegen.generate_rules(seed)
    with open(os.path.join(out, "rules.json"), "w") as fh:
        json.dump(doc, fh, sort_keys=True)
    return doc


def gen_flagship(out: str, seed: int, n_roads: int, n_combos: int, gap_share: float,
                 parts: int) -> None:
    doc = _rules_file(out, seed)
    world = generate_world(doc, seed)
    with open(os.path.join(out, "world.json"), "w") as fh:
        json.dump([{"code": p["code"], "priority": p["priority"], "ring": p["ring"]}
                   for p in world], fh)
    npr = np.random.default_rng([seed, 2])
    lon, lat = world_points(world, n_roads, gap_share, npr)
    tags = zipf_tags(random.Random(f"roads-{seed}"), n_roads, n_combos)
    _write_parts(os.path.join(out, "roads"), {
        "road_id": pa.array(np.arange(n_roads, dtype=np.int64)),
        "lon": pa.array(lon), "lat": pa.array(lat),
        "tags": _tags_array(tags),
    }, parts)


def gen_changesets(out: str, seed: int, n_base: int, n_changesets: int,
                   changeset_rows: int, parts: int) -> None:
    """Base corpus plus ``n_changesets`` changeset files
    ``cs-<k>.parquet`` with ROAD_CHANGESET_SCHEMA_SEQ columns."""
    doc = _rules_file(out, seed)
    rng = random.Random(f"changesets-{seed}")
    tags = zipf_tags(rng, n_base, 2000)
    codes = _codes_for(rng, doc, n_base)
    _write_table(os.path.join(out, "base.parquet"), {
        "road_id": pa.array(np.arange(n_base, dtype=np.int64)),
        "country_code": pa.array(codes),
        "tags": _tags_array(tags),
        "relations": _relations_array(rng, n_base),
    })
    live = list(range(n_base))
    code_of = dict(enumerate(codes))
    next_id = n_base
    seq = 0
    for k in range(n_changesets):
        ids, ccs, tgs, ops, seqs = [], [], [], [], []

        def emit(rid, cc, t, op):
            nonlocal seq
            seq += 1
            if cc is not None:
                code_of[rid] = cc
            ids.append(rid)
            ccs.append(cc)
            tgs.append(t)
            ops.append(op)
            seqs.append(seq)

        while len(ids) < changeset_rows:
            r = rng.random()
            if r < 0.45:  # re-tag in place
                rid = rng.choice(live)
                emit(rid, code_of[rid], _irrelevant(rng, rid, _relevant_tags(rng)),
                     "upsert")
            elif r < 0.6:  # move to another jurisdiction
                rid = rng.choice(live)
                emit(rid, rng.choice(codes), _relevant_tags(rng), "upsert")
            elif r < 0.8:  # new road
                rid = next_id
                next_id += 1
                live.append(rid)
                emit(rid, rng.choice(codes), _relevant_tags(rng), "upsert")
            elif r < 0.9:  # remove
                rid = rng.choice(live)
                emit(rid, None, None, "remove")
            else:  # same-id duplicates in one changeset; last seq wins
                rid = rng.choice(live)
                emit(rid, rng.choice(codes), _relevant_tags(rng), "upsert")
                if rng.random() < 0.5:
                    emit(rid, rng.choice(codes), _relevant_tags(rng), "upsert")
                else:
                    emit(rid, None, None, "remove")
        _write_table(os.path.join(out, f"cs-{k}.parquet"), {
            "road_id": pa.array(ids, type=pa.int64()),
            "country_code": pa.array(ccs, type=pa.string()),
            "tags": pa.array([list(t.items()) if t is not None else None for t in tgs],
                             type=TAGS_TYPE),
            "relations": _relations_array(rng, len(ids)),
            "op": pa.array(ops),
            "seq": pa.array(seqs, type=pa.int64()),
        })


def gen_curate(out: str, seed: int, n_images: int, boilerplate_share: float,
               parts: int) -> None:
    _write_parts(os.path.join(out, "images"),
                 image_rows(seed, n_images, boilerplate_share), parts)


GENERATORS = {
    "flagship": gen_flagship,
    "changesets": gen_changesets,
    "curate": gen_curate,
}


def materialize(cache: str, name: str, seed: int, **params) -> str:
    """Directory holding the inputs of workload ``name`` for ``seed``
    and ``params``; generated on first use, reused afterwards."""
    digest = hashlib.sha1(json.dumps(params, sort_keys=True).encode()).hexdigest()[:10]
    out = os.path.join(cache, f"{name}-{seed}-{digest}")
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    GENERATORS[name](out, seed, **params)
    with open(done, "w") as fh:
        json.dump(params, fh, sort_keys=True)
    return out
