"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates (or reuses) the seeded inputs
of the workload under ``.perfbench/inputs``, starts a Spark session on
``local[<nproc / 2>]``, sets the workload up (untimed first run and
warm-up included),
repeats its timed operation for at least ``--seconds`` seconds and at
least the workload's ``MIN_OPS`` times (``changesets`` also finishes its
compaction cycle), checks the outputs, and prints one JSON object as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

preceded by one line ``{"context": {...}}`` with the host context (nproc,
load average, /proc/stat user and steal ticks per timed operation,
versions, session confs) and the raw per-operation timings.

The end-to-end times are process CPU seconds (``host.process_cpu_s``:
the driver JVM less its JIT compiler threads, its Python workers and
this process), because on a shared host wall time moves with the CPU
time other tenants steal; the wall-clock figures are in the context
line under ``wall``.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json;
``--trace 1`` records spans around every call into a layer, adds the
per-layer probes after the timed loop, writes the spans to
``.perfbench/traces/`` and reports the per-layer metrics instead.

Without the package next to ``perfbench/`` it exits with status 2 and
prints nothing to standard output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "osm_legal_default_speeds_spark"

# per-workload generator parameters (inputs) for each size
GEN = {
    "flagship": {
        "full": dict(n_roads=10_000, n_combos=3000, gap_share=0.13, parts=8),
        "tiny": dict(n_roads=2_000, n_combos=200, gap_share=0.13, parts=2),
    },
    "changesets": {
        "full": dict(n_base=6_000, n_changesets=24, changeset_rows=1500, parts=1),
        "tiny": dict(n_base=1_000, n_changesets=20, changeset_rows=50, parts=1),
    },
    "curate": {
        "full": dict(n_images=4000, boilerplate_share=0.1, parts=8),
        "tiny": dict(n_images=300, boilerplate_share=0.1, parts=2),
    },
}

END_TO_END = {
    "setup_s": "s", "rows_per_cpu_s": "rows/cpu_s", "commit_cpu_s": "s", "read_cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "rules_compiler.compile_s": "s",
    "native_cascade.bundle_s": "s",
    "native_cascade.replan_s": "s",
    "native_cascade.match_s": "s",
    "native_cascade.assembly_s": "s",
    "native_cascade.distinct_input_share": "ratio",
    "native_cascade.fallback_share": "ratio",
    "native_cascade.nomatch_share": "ratio",
    "spatial.index_s": "s",
    "spatial.pip_s": "s",
    "spatial.knn_s": "s",
    "spatial.tiles_s": "s",
    "spatial.pip_miss_share": "ratio",
    "spatial.candidates_per_point": "count",
    "checkpointed_job.write_s": "s",
    "checkpointed_job.bytes_per_row": "bytes/row",
    "delta_store.commit_write_s": "s",
    "delta_store.write_amp": "bytes/row",
    "delta_store.compaction_s": "s",
    "delta_store.chain_len": "count",
    "delta_store.bytes_per_live_row": "bytes/row",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "spark.first_run_extra_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "trace.overhead_share": "ratio",
}

# layers only the curate workload calls; it is not in BENCHMARK.json's
# workload set (see perfbench/README.md) and reports these on top
CURATE_LAYERS = {
    "images.verify_s": "s",
    "images.phash_dedup_s": "s",
    "images.lsh_pair_yield": "ratio",
    "dedup.minhash_s": "s",
    "dedup.max_band_bucket": "count",
    "dedup.pair_yield": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(GEN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    return ap.parse_args(argv)


def span_cost_s(tracer_cls) -> float:
    """Wall cost of recording one span, measured on a scratch tracer."""
    t = tracer_cls(True)
    n = 20_000
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x"):
            pass
    return (time.perf_counter() - t0) / n


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    import host
    import layers
    import synth
    from spans import Tracer
    from workloads import WORKLOADS

    load_before = list(os.getloadavg())
    t_gen = time.monotonic()
    inputs = synth.materialize(os.path.join(base, "inputs"), args.workload, args.seed,
                               **GEN[args.workload][args.size])
    gen_s = time.monotonic() - t_gen

    tracer = Tracer(bool(args.trace))
    t0, cpu0 = time.monotonic(), host.process_cpu_s()
    spark = host.make_spark(work)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](spark, inputs, work, tracer, args.seed,
                                      GEN[args.workload][args.size])
        with tracer.span("setup"):
            wl.setup()
        setup_s = time.monotonic() - t0
        setup_cpu_s = host.process_cpu_s() - cpu0

        stages_before = layers.stage_ids(spark) if args.trace else set()
        ops, ticks = [], []
        n_spans0 = len(tracer.spans)
        t_loop = time.monotonic()
        while True:
            c0 = host.cpu_ticks()
            try:
                ops.append(wl.run_once())
            except Exception:  # a failed operation counts; the run goes on to report it
                wl.attempted += 1
                wl.fail(traceback.format_exc(limit=3))
                break
            ticks.append(host.tick_delta(c0, host.cpu_ticks()))
            elapsed = time.monotonic() - t_loop
            if wl.exhausted() or (elapsed >= args.seconds and len(ops) >= wl.MIN_OPS
                                  and wl.can_stop()):
                break
        loop_s = time.monotonic() - t_loop
        loop_spans = len(tracer.spans) - n_spans0

        try:
            with tracer.span("check"):
                wl.check()
        except Exception:
            wl.attempted += 1
            wl.fail(traceback.format_exc(limit=3))

        commits = [c for _, c, _ in ops]
        reads = [r for _, _, rs in ops for r in rs]
        rows = sum(n for n, _, _ in ops)
        metrics: dict = {}
        wall: dict = {}
        if ops:
            # read cost is a mean, not a median: over a compaction cycle
            # the reads cluster by chain length, and a median falls between
            # two clusters
            metrics = {
                "setup_s": setup_cpu_s,
                "rows_per_cpu_s": rows / sum(c.cpu for c in commits),
                "commit_cpu_s": statistics.median(c.cpu for c in commits),
                "read_cpu_s": statistics.fmean(r.cpu for r in reads),
            }
            wall = {
                "setup_s": setup_s,
                "rows_per_s": rows / sum(c.wall for c in commits),
                "commit_p50_s": statistics.median(c.wall for c in commits),
                "read_mean_s": statistics.fmean(r.wall for r in reads),
            }
        context = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "ruleset": getattr(wl, "ruleset_label", None),
            "inputs": os.path.relpath(inputs, ROOT), "input_gen_s": gen_s,
            "operations": len(ops), "rows": rows, "loop_s": loop_s, "wall": wall,
            "commit_s": [c.wall for c in commits], "read_s": [r.wall for r in reads],
            "commit_cpu_s": [c.cpu for c in commits], "read_cpu_s": [r.cpu for r in reads],
            "cpu_ticks": ticks,
            "load_before": load_before, **host.host_context(),
            "versions": host.versions(spark), "confs": host.session_confs(spark),
            "errors": wl.errors,
        }
        if args.trace and ops:
            layer = {k: 0.0 for k in PER_LAYER}
            layer.update(wl.probe)
            layer.update({f"spark.{k}": v for k, v in
                          layers.stage_metrics(spark, stages_before).items()})
            with tracer.span("layers"):
                layer.update(wl.layers(wall["commit_p50_s"]))
            layer["trace.overhead_share"] = loop_spans * span_cost_s(Tracer) / loop_s
            context["traced_rows_per_cpu_s"] = metrics["rows_per_cpu_s"]
            metrics = layer
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            path = os.path.join(base, "traces", f"{args.workload}-{args.seed}.json")
            tracer.dump(path)
            context["trace_file"] = os.path.relpath(path, ROOT)
        if metrics and not args.trace:
            metrics["peak_rss_mb"] = host.peak_rss_mb()
        context["load_after"] = list(os.getloadavg())
    finally:
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not ops:
        print(json.dumps({"error": "no operation completed", "context": context}),
              file=sys.stderr)
        return 1
    units = END_TO_END
    if args.trace:
        units = PER_LAYER | (CURATE_LAYERS if args.workload == "curate" else {})
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
