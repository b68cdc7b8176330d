"""The benchmark workloads.

Each workload composes the package's public functions the way the
production jobs do, against inputs generated by ``synth``:

- ``flagship``: polygon PIP -> kNN fallback over the regions' bounding
  rectangles -> tiles -> native cascade -> checkpointed parquet sink.
- ``changesets``: one closed-loop client committing seeded changesets
  (mostly distinct tags, a relations column) through
  ``commit_road_batch`` (native engine, compaction every 4 versions),
  each commit followed by point reads of touched ids; the first
  compaction cycle runs untimed in set-up.
- ``curate``: ``decode_and_verify`` -> ``drop_near_dup_images`` ->
  MinHash caption pairs; parquet sink.

A workload has ``setup`` (plans plus the first, untimed run;
``changesets`` adds warm-up commits),
``run_once`` (one timed operation: a sink commit, then READS_PER_OP
point reads; returns ``(rows, commit, [read, ...])``, each timing a
``host.Stopwatch``),
``check`` (correctness, outside timing) and ``layers`` (per-layer
readings for the traced run). Operations that raise or fail a check
count in ``failed``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import layers
import rulegen
from host import Stopwatch

GRID_RES_TILES = 7
READ_SAMPLE = 32
READS_PER_OP = 3
CHECK_SAMPLE = 200


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _sorted_tags(c):
    """A map column as a sorted entry array, so rows can be deduplicated
    on it independent of map order."""
    return F.array_sort(F.map_entries(c))


class Workload:
    name = ""
    # the timed loop runs at least this many operations, and for at
    # least --seconds, and stops only where ``can_stop`` allows
    MIN_OPS = 2

    def __init__(self, spark, inputs: str, work: str, tracer, seed: int, params: dict):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self.seed = seed
        self.params = params
        self.rng = random.Random(f"{self.name}-ops-{seed}")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.probe: dict = {}

    # -- helpers ---------------------------------------------------------
    def can_stop(self) -> bool:
        return True

    def exhausted(self) -> bool:
        return False

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    def load_rules(self):
        from osm_legal_default_speeds_spark.plans.rules_compiler import compile_ruleset
        from osm_legal_default_speeds_spark.sources.rules_json import load_rules_json

        with self.tracer.span("rules_compiler.compile"):
            t0 = time.monotonic()
            meta, road_types, speed_limits, _ = load_rules_json(
                os.path.join(self.inputs, "rules.json"))
            rulegen.check_envelope(road_types, speed_limits)
            self.ruleset = compile_ruleset(road_types, speed_limits)
            self.probe["rules_compiler.compile_s"] = time.monotonic() - t0
        self.ruleset_label = meta["ruleset"]
        return self.ruleset

    def fresh_dir(self, label: str) -> str:
        d = os.path.join(self.work, label)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def timed_prefixes(self, prefixes: list) -> dict:
        """Noop-sink wall time of each named DataFrame, in order (the
        traced run's executor-time split by pipeline prefix). Each
        prefix is a new plan, so it runs twice and the second, compiled
        run is kept."""
        out = {}
        for name, df in prefixes:
            for _ in range(2):
                t0 = time.monotonic()
                with self.tracer.span(f"prefix.{name}"):
                    noop(df)
                out[name] = time.monotonic() - t0
        return out

    def _median_span(self, name: str) -> float:
        d = sorted(s["end"] - s["start"] for s in self.tracer.spans
                   if s["name"] == name and s["end"] is not None)
        return d[len(d) // 2] if d else 0.0

    def engine_layers(self, df, first_run_s: float, median_run_s: float) -> dict:
        ph = layers.catalyst_phases(df)
        return {
            "catalyst.analysis_s": ph["analysis"],
            "catalyst.optimization_s": ph["optimization"],
            "catalyst.planning_s": ph["planning"],
            "spark.first_run_extra_s": max(first_run_s - median_run_s, 0.0),
        }


# ----------------------------------------------------------------------
# Python oracles
# ----------------------------------------------------------------------

def expected_region(lon: float, lat: float, polys, rects) -> str:
    """PIP winner by (priority, code) over polygons containing the
    point, else the nearest bounding rectangle (squared planar
    distance, ties to the smaller code)."""
    inside = [
        (p.priority, p.region_code) for p, bb in polys
        if bb[0] <= lon <= bb[2] and bb[1] <= lat <= bb[3] and p.contains_py(lon, lat)
    ]
    if inside:
        return min(inside)[1]
    best = None
    for r in rects:
        dx = max(r.lon_min - lon, lon - r.lon_max, 0.0)
        dy = max(r.lat_min - lat, lat - r.lat_max, 0.0)
        cand = (dx * dx + dy * dy, r.region_code)
        best = cand if best is None or cand < best else best
    return best[1]


def same_result(got_name, got_tags, got_cert, exp) -> bool:
    if exp is None:
        return got_cert is None
    return (got_name, dict(got_tags or {}), got_cert) == (
        exp.road_type_name, exp.tags, exp.certitude)


def _pylist_tags(v):
    return dict(v) if v is not None else {}


# ----------------------------------------------------------------------
# flagship
# ----------------------------------------------------------------------

class Flagship(Workload):
    name = "flagship"
    NUM_BUCKETS = 16
    BATCH_SIZE = 8
    # job time keeps falling for several jobs while the JVM warms up;
    # the median of three is robust to the first, slowest one
    MIN_OPS = 3

    def setup(self) -> None:
        from osm_legal_default_speeds_spark.operators.spatial import (
            PolygonBoundary, RectBoundary, assign_jurisdiction_polygons,
            assign_tiles, knn_assign_via_index,
        )
        from osm_legal_default_speeds_spark.plans.native_cascade import (
            infer_speed_limits_native,
        )

        spark = self.spark
        rs = self.load_rules()
        with open(os.path.join(self.inputs, "world.json")) as fh:
            world = json.load(fh)
        self.polys = [
            PolygonBoundary(p["code"], (tuple(tuple(v) for v in p["ring"]),), p["priority"])
            for p in world
        ]
        self.rects = [RectBoundary(p.region_code, *p.bbox(), p.priority) for p in self.polys]
        self.roads_path = os.path.join(self.inputs, "roads")
        roads = spark.read.parquet(self.roads_path)
        t0 = time.monotonic()
        with self.tracer.span("spatial.plan"):
            pip = assign_jurisdiction_polygons(roads, self.polys, out_col="pip_region")
            located = knn_assign_via_index(
                pip, self.rects, out_col="knn_region"
            ).withColumn("region_code", F.coalesce("pip_region", "knn_region"))
            self.tiled = tiled = assign_tiles(located, tile_res=GRID_RES_TILES)
        self.probe["spatial.index_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        with self.tracer.span("native_cascade.bundle"):
            inferred = infer_speed_limits_native(tiled, rs, country_col="region_code")
        self.probe["native_cascade.bundle_s"] = time.monotonic() - t0
        sl = F.col("speed_limit")
        self.out = inferred.select(
            "road_id", "region_code", "tile_id",
            sl.getField("road_type_name").alias("road_type_name"),
            sl.getField("certitude").alias("certitude"),
            sl.getField("tags").alias("result_tags"),
        )
        self.prefix_dfs = [
            ("scan", roads),
            ("pip", pip),
            ("knn", located),
            ("tiles", tiled),
            ("match", inferred.select("road_id", sl.getField("certitude"))),
            ("assembly", self.out),
        ]
        self.n_rows = pq.ParquetDataset(self.roads_path).read(columns=["road_id"]).num_rows
        self.k = 0
        self.last_dir = None
        self.first_run_s = self._op()[1].wall

    def _op(self):
        from osm_legal_default_speeds_spark.plans.checkpointed_job import run_checkpointed

        out_dir = self.fresh_dir(f"flagship-out-{self.k % 2}")
        self.k += 1
        with Stopwatch() as commit, self.tracer.span("checkpointed_job.run"):
            summary = run_checkpointed(
                self.spark, lambda s: self.out, out_dir,
                bucket_expr="tile_id", num_buckets=self.NUM_BUCKETS,
                batch_size=self.BATCH_SIZE, input_paths=[self.roads_path],
                transform_label="perfbench_flagship", lineage_id_col="road_id",
            )
        self.expect(summary["rows"] == self.n_rows,
                    f"flagship wrote {summary['rows']} rows, input has {self.n_rows}")
        reads = []
        for _ in range(READS_PER_OP):
            ids = self.rng.sample(range(self.n_rows), READ_SAMPLE)
            with Stopwatch() as read:
                got = self.spark.read.parquet(out_dir).where(F.col("road_id").isin(ids)) \
                    .select("road_id").collect()
            reads.append(read)
            self.expect(sorted(r[0] for r in got) == sorted(ids), "flagship point read")
        self.last_dir = out_dir
        return self.n_rows, commit, reads

    def run_once(self):
        return self._op()

    def check(self) -> None:
        from osm_legal_default_speeds_spark.operators.spatial import grid_cell_py
        from osm_legal_default_speeds_spark.plans.checkpointed_job import completed_buckets
        from osm_legal_default_speeds_spark.plans.reference_engine import LegalDefaultSpeedsEngine

        out = self.spark.read.parquet(self.last_dir)
        self.expect(out.count() == self.n_rows, "flagship output row count")
        self.expect(completed_buckets(self.last_dir) == set(range(self.NUM_BUCKETS)),
                    "flagship buckets not all committed")
        ids = sorted(random.Random(f"check-{self.seed}").sample(range(self.n_rows), CHECK_SAMPLE))
        got = {r["road_id"]: r for r in out.where(F.col("road_id").isin(ids)).collect()}
        tbl = pq.ParquetDataset(self.roads_path).read().to_pylist()
        src = {r["road_id"]: r for r in tbl if r["road_id"] in set(ids)}
        engine = LegalDefaultSpeedsEngine(ruleset=self.ruleset)
        polys = [(p, p.bbox()) for p in self.polys]
        for rid in ids:
            s, g = src[rid], got.get(rid)
            if g is None:
                self.expect(False, f"flagship road {rid} missing")
                continue
            region = expected_region(s["lon"], s["lat"], polys, self.rects)
            self.expect(g["region_code"] == region,
                        f"road {rid}: region {g['region_code']} != {region}")
            tile = grid_cell_py(s["lon"], s["lat"], GRID_RES_TILES)
            self.expect(g["tile_id"] == tile, f"road {rid}: tile {g['tile_id']} != {tile}")
            exp = engine.get_speed_limits(region, _pylist_tags(s["tags"]))
            self.expect(same_result(g["road_type_name"], g["result_tags"], g["certitude"], exp),
                        f"road {rid}: inference differs from the reference engine")

    def layers(self, median_run_s: float) -> dict:
        from osm_legal_default_speeds_spark.plans.native_cascade import (
            infer_speed_limits_native,
        )

        out = self.engine_layers(self.out, self.first_run_s, median_run_s)
        t0 = time.monotonic()
        with self.tracer.span("native_cascade.replan"):
            infer_speed_limits_native(self.tiled, self.ruleset, country_col="region_code")
        out["native_cascade.replan_s"] = time.monotonic() - t0
        t = self.timed_prefixes(self.prefix_dfs)
        out.update({
            "spatial.pip_s": t["pip"] - t["scan"],
            "spatial.knn_s": t["knn"] - t["pip"],
            "spatial.tiles_s": t["tiles"] - t["knn"],
            "native_cascade.match_s": t["match"] - t["tiles"],
            "native_cascade.assembly_s": t["assembly"] - t["match"],
            "checkpointed_job.write_s": max(median_run_s - t["assembly"], 0.0),
            "checkpointed_job.bytes_per_row": dir_bytes(self.last_dir) / self.n_rows,
        })
        out.update(self._spatial_counts())
        out.update(cascade_counts(self.out, self.tiled, self.ruleset, "region_code"))
        return out

    def _spatial_counts(self) -> dict:
        """Mean PIP candidates per point (polygons whose index cell
        holds it) and the share of points no polygon contains."""
        from osm_legal_default_speeds_spark.operators.spatial import (
            assign_jurisdiction_polygons, grid_cell, polygon_cell_index_df,
        )

        pts = self.spark.read.parquet(self.roads_path)
        idx = polygon_cell_index_df(self.spark, self.polys, 6)
        cands = pts.withColumn("cell", grid_cell(F.col("lon"), F.col("lat"), 6)) \
            .join(F.broadcast(idx), "cell", "left") \
            .select(F.avg(F.coalesce(F.size("candidates"), F.lit(0))).alias("c")).first()["c"]
        miss = assign_jurisdiction_polygons(pts, self.polys, out_col="r") \
            .select(F.avg(F.col("r").isNull().cast("double")).alias("m")).first()["m"]
        return {"spatial.candidates_per_point": float(cands), "spatial.pip_miss_share": float(miss)}


def cascade_counts(result, source, ruleset, country_col: str) -> dict:
    """Fallback and no-match shares of ``result`` (a ``certitude``
    column) and the share of distinct (code, relevant tags) inputs in
    ``source``."""
    from osm_legal_default_speeds_spark.operators.inference import prune_relevant_tags

    row = result.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("certitude") == "Fallback").cast("long")).alias("fb"),
        F.sum(F.col("certitude").isNull().cast("long")).alias("nm"),
    ).first()
    n = max(row["n"], 1)
    distinct = source.select(
        F.col(country_col),
        _sorted_tags(prune_relevant_tags(ruleset, F.col("tags"))).alias("t"),
    ).distinct().count()
    return {
        "native_cascade.fallback_share": row["fb"] / n,
        "native_cascade.nomatch_share": row["nm"] / n,
        "native_cascade.distinct_input_share": distinct / n,
    }


# ----------------------------------------------------------------------
# changesets
# ----------------------------------------------------------------------

class Changesets(Workload):
    """Closed loop, one client: commit a changeset, read back a sample
    of its ids, repeat. Setup imports the base corpus as version 0
    through the same commit plan, compacts it and reads it (the first,
    untimed operation), then warms the JVM up with the first compaction
    cycle, versions 1-3. The timed loop commits versions 4, 5, ... and
    stops at the end of a compaction cycle once ``--seconds`` have
    passed: at least versions 4-7, one whole cycle in which reads fold
    chains of 1, 2 and 3 deltas and the last commit compacts."""

    name = "changesets"
    COMPACT_EVERY = 4
    WARMUP_OPS = COMPACT_EVERY - 1
    WARMUP_READS = 1
    MIN_OPS = COMPACT_EVERY

    @staticmethod
    def project(df):
        return df.select("road_id", "country_code", "speed_limit")

    def _commit(self, store, batch, version):
        from osm_legal_default_speeds_spark.streaming.inference_maintenance import (
            commit_road_batch,
        )

        return commit_road_batch(self.spark, store, batch, version, self.ruleset,
                                 project=self.project, compact_every=self.COMPACT_EVERY,
                                 relations_col="relations")

    def _read(self, store, ids):
        from osm_legal_default_speeds_spark.streaming.inference_maintenance import (
            read_current_results,
        )

        return read_current_results(self.spark, store) \
            .where(F.col("road_id").isin(ids)).select("road_id").collect()

    def base(self):
        """The base corpus in changeset form (every row an upsert with
        seq 0), so the import takes the same commit plan as the
        changesets after it."""
        return (self.spark.read.parquet(os.path.join(self.inputs, "base.parquet"))
                .withColumn("op", F.lit("upsert")).withColumn("seq", F.lit(0).cast("long")))

    def setup(self) -> None:
        from osm_legal_default_speeds_spark.plans.native_cascade import infer_speed_limits_native
        from osm_legal_default_speeds_spark.streaming.inference_maintenance import (
            compact_results_store,
        )

        self.load_rules()
        t0 = time.monotonic()
        with self.tracer.span("native_cascade.bundle"):
            self.inferred_base = infer_speed_limits_native(
                self.base(), self.ruleset, relations_col="relations")
        self.probe["native_cascade.bundle_s"] = time.monotonic() - t0
        self.store = self.fresh_dir("store")
        t0 = time.monotonic()
        with self.tracer.span("delta_store.base_import"):
            self._commit(self.store, self.base(), 0)
            compact_results_store(self.spark, self.store)
            self._read(self.store, [0])
        self.first_run_s = time.monotonic() - t0
        self.version = 0
        self.commits: list[dict] = []
        self.chain: list[int] = []
        with self.tracer.span("warmup"):
            for _ in range(self.WARMUP_OPS):
                self._step(self.WARMUP_READS, timed=False)

    def cycle_done(self) -> bool:
        return (self.version + 1) % self.COMPACT_EVERY == 0

    def can_stop(self) -> bool:
        return self.cycle_done()

    def exhausted(self) -> bool:
        return self.version >= self.params["n_changesets"]

    def run_once(self):
        return self._step(READS_PER_OP, timed=True)

    def _step(self, n_reads: int, timed: bool):
        """Commit the next changeset and read back ``n_reads`` samples
        of its ids; only timed steps count in the per-layer readings."""
        from osm_legal_default_speeds_spark.streaming.delta_store import base_version

        k = self.version  # changeset k becomes version k + 1
        path = os.path.join(self.inputs, f"cs-{k}.parquet")
        rows = pq.read_table(path, columns=["road_id", "op", "seq"]).to_pylist()
        batch = self.spark.read.parquet(path)
        with Stopwatch() as commit, self.tracer.span("inference_maintenance.commit"):
            ok = self._commit(self.store, batch, k + 1)
        self.expect(ok, f"commit of version {k + 1} was skipped")
        self.version = k + 1
        if timed:
            self.commits.append({"version": k + 1, "commit_s": commit.wall, "rows": len(rows),
                                 "compacted": self.cycle_done()})
            self.chain.append(self.version - (base_version(self.store) or 0))
        last = {}
        for r in sorted(rows, key=lambda r: r["seq"]):
            last[r["road_id"]] = r["op"]
        reads = []
        for _ in range(n_reads):
            ids = self.rng.sample(sorted(last), min(READ_SAMPLE, len(last)))
            with Stopwatch() as read, self.tracer.span("delta_store.read"):
                got = self._read(self.store, ids)
            reads.append(read)
            want = sorted(i for i in ids if last[i] == "upsert")
            self.expect(sorted(r[0] for r in got) == want, f"point read after version {k + 1}")
        return len(rows), commit, reads

    def committed_changesets(self, first: int = 0):
        """Every changeset committed so far from index ``first`` on,
        tagged with its version."""
        out = None
        for k in range(first, self.version):
            cs = (self.spark.read.parquet(os.path.join(self.inputs, f"cs-{k}.parquet"))
                  .withColumn("batch", F.lit(k + 1)))
            out = cs if out is None else out.unionByName(cs)
        return out

    def implied_corpus(self) -> dict:
        """road_id -> (code, tags, relations) after replaying the base and
        every committed changeset from the input files: changeset order,
        then ``seq``; removed ids dropped."""
        corpus = {r["road_id"]: r for r in pq.read_table(
            os.path.join(self.inputs, "base.parquet")).to_pylist()}
        for k in range(self.version):
            rows = pq.read_table(os.path.join(self.inputs, f"cs-{k}.parquet")).to_pylist()
            for r in sorted(rows, key=lambda r: r["seq"]):
                if r["op"] == "upsert":
                    corpus[r["road_id"]] = r
                else:
                    corpus.pop(r["road_id"], None)
        return corpus

    def check(self) -> None:
        """The final store must equal a full re-inference of the implied
        corpus by the pure-Python reference engine."""
        from osm_legal_default_speeds_spark.plans.reference_engine import LegalDefaultSpeedsEngine
        from osm_legal_default_speeds_spark.streaming.inference_maintenance import (
            read_current_results,
        )

        engine = LegalDefaultSpeedsEngine(ruleset=self.ruleset)
        stored = {r["road_id"]: r for r in read_current_results(self.spark, self.store).collect()}
        corpus = self.implied_corpus()
        self.expect(sorted(stored) == sorted(corpus),
                    f"store holds {len(stored)} ids, the implied corpus {len(corpus)}")
        wrong = 0
        for rid, src in corpus.items():
            got = stored.get(rid)
            exp = engine.get_speed_limits(
                src["country_code"], _pylist_tags(src["tags"]),
                [_pylist_tags(m) for m in (src["relations"] or [])])
            sl = got["speed_limit"] if got is not None else None
            ok = got is not None and got["country_code"] == src["country_code"] and (
                same_result(sl["road_type_name"], sl["tags"], sl["certitude"], exp)
                if sl is not None else exp is None)
            wrong += not ok
        self.expect(wrong == 0, f"{wrong} stored rows differ from re-inference")

    def layers(self, median_run_s: float) -> dict:
        from osm_legal_default_speeds_spark.plans.native_cascade import infer_speed_limits_native
        from osm_legal_default_speeds_spark.streaming.delta_store import version_manifest
        from osm_legal_default_speeds_spark.streaming.inference_maintenance import (
            read_current_results,
        )

        manifests = [m for m in (version_manifest(self.store, c["version"])
                                 for c in self.commits) if m]
        plain = sorted(c["commit_s"] for c in self.commits if not c["compacted"])
        comp = [c["commit_s"] for c in self.commits if c["compacted"]]
        rows = sum(c["rows"] for c in self.commits) or 1
        t0 = time.monotonic()
        with self.tracer.span("native_cascade.replan"):
            infer_speed_limits_native(
                self.spark.read.parquet(os.path.join(self.inputs, "cs-0.parquet")),
                self.ruleset, relations_col="relations")
        replan = time.monotonic() - t0
        cur = read_current_results(self.spark, self.store)
        live = cur.count()
        # the Catalyst phases of a commit's inference plan
        out = self.engine_layers(self.project(self.inferred_base), self.first_run_s,
                                 median_run_s)
        # executor-side cascade work and input shape over the upserts
        # the timed commits inferred
        upserts = self.committed_changesets(self.commits[0]["version"] - 1) \
            .where(F.col("op") == "upsert")
        inferred = infer_speed_limits_native(upserts, self.ruleset, relations_col="relations")
        sl = F.col("speed_limit")
        t = self.timed_prefixes([
            ("scan", upserts),
            ("match", inferred.select("road_id", sl.getField("certitude"))),
            ("assembly", inferred),
        ])
        out.update(cascade_counts(
            inferred.select(sl.getField("certitude").alias("certitude")),
            upserts, self.ruleset, "country_code"))
        out.update({
            "native_cascade.match_s": t["match"] - t["scan"],
            "native_cascade.assembly_s": t["assembly"] - t["match"],
            "native_cascade.replan_s": replan,
            "delta_store.commit_write_s":
                sum(m["commit_wall_s"] for m in manifests) / max(len(manifests), 1),
            "delta_store.write_amp":
                sum(m["delta_bytes"] + m["dirty_bytes"] for m in manifests) / rows,
            "delta_store.compaction_s":
                (sum(comp) / len(comp) - plain[len(plain) // 2]) if comp and plain else 0.0,
            "delta_store.chain_len": sum(self.chain) / max(len(self.chain), 1),
            "delta_store.bytes_per_live_row": dir_bytes(self.store) / max(live, 1),
        })
        return out


# ----------------------------------------------------------------------
# curate
# ----------------------------------------------------------------------

MAX_HAMMING, BAND_BITS = 2, 16
NUM_HASHES, NUM_BANDS, SHINGLE_N, THRESHOLD = 64, 16, 3, 0.5


def _popcount64(x):
    import numpy as np

    x = x.view(np.uint64)
    table = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    return sum(table[(x >> np.uint64(8 * b)) & np.uint64(0xFF)].astype(np.int64)
               for b in range(8))


def brute_phash_pairs(ids: list[str], hashes: list[int]) -> set:
    """Every pair within MAX_HAMMING bits, by exhaustive comparison."""
    import numpy as np

    h = np.array(hashes, dtype=np.int64)
    out = set()
    for i in range(len(h) - 1):
        d = _popcount64(np.bitwise_xor(h[i + 1:], h[i]))
        for j in np.nonzero(d <= MAX_HAMMING)[0].tolist():
            a, b = ids[i], ids[i + 1 + j]
            out.add((a, b) if a < b else (b, a))
    return out


def components_keep(ids: list[str], pairs: set) -> set:
    """Ids kept by component dedup: every id not paired, plus the
    smallest id of each connected component."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in ids if find(i) == i}


def shingle_set(text: str) -> frozenset:
    t = text.lower().split(" ")
    n = max(len(t) - (SHINGLE_N - 1), 1)
    return frozenset(" ".join(t[i:i + SHINGLE_N]) for i in range(n))


def brute_jaccard_pairs(docs: dict) -> set:
    """Pairs of docs whose exact shingle Jaccard is >= THRESHOLD,
    through an inverted index (pairs sharing no shingle have
    Jaccard 0)."""
    sets = {k: shingle_set(v) for k, v in docs.items()}
    by_sh: dict = {}
    for k, s in sets.items():
        for sh in s:
            by_sh.setdefault(sh, []).append(k)
    cands = set()
    for ks in by_sh.values():
        ks = sorted(ks)
        for i in range(len(ks)):
            for j in range(i + 1, len(ks)):
                cands.add((ks[i], ks[j]))
    return {(a, b) for a, b in cands
            if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= THRESHOLD}


class Curate(Workload):
    name = "curate"

    def pipeline(self):
        """decode_and_verify -> drop_near_dup_images -> MinHash pairs
        over the kept images' captions. ``drop_near_dup_images`` runs
        its connected-components rounds eagerly, so the whole pipeline
        is rebuilt for every run."""
        from osm_legal_default_speeds_spark.operators.dedup import minhash_dedup_pairs
        from osm_legal_default_speeds_spark.payload.images import (
            decode_and_verify, drop_near_dup_images,
        )

        images = self.spark.read.parquet(self.images_path)
        verified = decode_and_verify(images)
        with self.tracer.span("images.drop_near_dup"):
            kept = drop_near_dup_images(
                verified.where(F.col("pixels_ok") & F.col("caption_ok")),
                max_hamming=MAX_HAMMING, band_bits=BAND_BITS)
        texts = kept.select("image_id").join(images.select("image_id", "alt_text"), "image_id")
        pairs = minhash_dedup_pairs(
            texts, text_col="alt_text", id_col="image_id", num_hashes=NUM_HASHES,
            num_bands=NUM_BANDS, shingle_n=SHINGLE_N, threshold=THRESHOLD)
        return images, verified, kept, texts, pairs

    def setup(self) -> None:
        self.images_path = os.path.join(self.inputs, "images")
        self.n_rows = pq.ParquetDataset(self.images_path).read(columns=["phash"]).num_rows
        self.k = 0
        self.first_run_s = self._op()[1].wall

    def _op(self):
        from pyspark.sql import Observation

        out_dir = self.fresh_dir(f"curate-out-{self.k % 2}")
        self.k += 1
        obs = Observation()
        with Stopwatch() as commit:
            self.images, self.verified, self.kept, self.texts, self.pairs = self.pipeline()
            with self.tracer.span("sink.parquet"):
                self.pairs.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(out_dir)
        self.last_dir = out_dir
        self.last_pairs = obs.get["n"]
        reads = []
        for _ in range(READS_PER_OP):
            with Stopwatch() as read:
                got = self.spark.read.parquet(out_dir).orderBy("id_a", "id_b") \
                    .limit(READ_SAMPLE).collect()
            reads.append(read)
            self.expect(len(got) == min(READ_SAMPLE, self.last_pairs), "curate read-back")
        return self.n_rows, commit, reads

    def run_once(self):
        return self._op()

    def check(self) -> None:
        """Every image verifies; the kept set and the caption pairs equal
        brute force over the same phash values (recomputed from the
        decoded pixels, which differ from the stored ones for the lossy
        format) and the same captions."""
        meta = self.verified.select("image_id", "phash", "pixels_ok", "caption_ok").collect()
        bad = sum(not (r["pixels_ok"] and r["caption_ok"]) for r in meta)
        self.expect(bad == 0, f"{bad} images failed decode_and_verify")
        self.expect(len(meta) == self.n_rows, f"verified {len(meta)} of {self.n_rows} images")
        ids = [r["image_id"] for r in meta]
        hashes = [r["phash"] for r in meta]
        ppairs = brute_phash_pairs(ids, hashes)
        keep = components_keep(ids, ppairs)
        got_keep = {r[0] for r in self.kept.select("image_id").collect()}
        self.expect(got_keep == keep,
                    f"near-dup images kept {len(got_keep)}, brute force keeps {len(keep)}")
        alt = pq.ParquetDataset(self.images_path).read(columns=["image_id", "alt_text"])
        text = {i: t for i, t in zip(alt.column("image_id").to_pylist(),
                                     alt.column("alt_text").to_pylist()) if i in keep}
        want = brute_jaccard_pairs(text)
        got = {(r["id_a"], r["id_b"]) for r in self.spark.read.parquet(self.last_dir).collect()}
        self.expect(got == want,
                    f"caption pairs: {len(got)} from LSH, {len(want)} by brute force")
        self.brute = {"phash_pairs": len(ppairs), "phash_candidates": self._band_candidates(hashes)}

    @staticmethod
    def _band_candidates(hashes: list[int]) -> int:
        """Distinct id pairs sharing at least one phash band."""
        from collections import defaultdict

        seen = set()
        for b in range(64 // BAND_BITS):
            buckets = defaultdict(list)
            for i, h in enumerate(hashes):
                buckets[(h >> (b * BAND_BITS)) & ((1 << BAND_BITS) - 1)].append(i)
            for ks in buckets.values():
                for x in range(len(ks)):
                    for y in range(x + 1, len(ks)):
                        seen.add((ks[x], ks[y]))
        return len(seen)

    def layers(self, median_run_s: float) -> dict:
        from osm_legal_default_speeds_spark.operators.dedup import (
            minhash_bands, minhash_signatures,
        )

        out = self.engine_layers(self.pairs, self.first_run_s, median_run_s)
        t = self.timed_prefixes([
            ("scan", self.images.select("image_id", "phash")),
            ("verify", self.verified),
            ("phash_dedup", self.kept),
            ("minhash", self.pairs),
        ])
        sig = minhash_signatures(self.texts, text_col="alt_text", id_col="image_id",
                                 num_hashes=NUM_HASHES, shingle_n=SHINGLE_N)
        buckets = sig.select(F.explode(minhash_bands(
            F.col("sig"), NUM_BANDS, NUM_HASHES // NUM_BANDS)).alias("bk")) \
            .groupBy("bk").count()
        agg = buckets.agg(F.max("count").alias("mx"),
                          F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("cand")).first()
        brute = getattr(self, "brute", {})
        out.update({
            "images.verify_s": t["verify"] - t["scan"],
            "images.phash_dedup_s": max(self._median_span("images.drop_near_dup")
                                        - t["verify"], 0.0),
            "images.lsh_pair_yield":
                brute.get("phash_pairs", 0) / max(brute.get("phash_candidates", 0), 1),
            "dedup.minhash_s": t["minhash"] - t["phash_dedup"],
            "dedup.max_band_bucket": float(agg["mx"] or 0),
            "dedup.pair_yield": self.last_pairs / max(float(agg["cand"] or 0), 1.0),
        })
        return out


WORKLOADS = {w.name: w for w in (Flagship, Changesets, Curate)}
