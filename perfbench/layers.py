"""Engine-level readings for the traced run: Catalyst phase times of a
DataFrame's query execution, and stage metrics (shuffle, spill, GC,
task skew) from the driver's live status store."""

from __future__ import annotations


def catalyst_phases(df) -> dict:
    """Seconds spent in analysis / optimization / planning of a fresh
    query over ``df`` (planning is forced here, without executing)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    qe = df.select("*")._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        if kv._1() in out:
            out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def stage_ids(spark) -> set:
    st = spark.sparkContext._jsc.sc().statusStore()
    stages = st.stageList(None, False, False, _quantiles(spark, ()), None)
    return {stages.apply(i).stageId() for i in range(stages.size())}


def _quantiles(spark, qs):
    gw = spark.sparkContext._gateway
    arr = gw.new_array(gw.jvm.double, len(qs))
    for i, q in enumerate(qs):
        arr[i] = q
    return arr


def stage_metrics(spark, exclude: set) -> dict:
    """Shuffle write bytes, spill bytes, GC seconds and task skew (max
    over median task run time of the busiest stage) summed over every
    stage not in ``exclude``."""
    st = spark.sparkContext._jsc.sc().statusStore()
    stages = st.stageList(None, False, True, _quantiles(spark, (0.5, 1.0)), None)
    shuffle = spill = gc_ms = 0
    busiest, skew = -1, 1.0
    for i in range(stages.size()):
        sd = stages.apply(i)
        if sd.stageId() in exclude:
            continue
        shuffle += sd.shuffleWriteBytes()
        spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        gc_ms += sd.jvmGcTime()
        dist = sd.taskMetricsDistributions()
        if sd.executorRunTime() > busiest and dist.isDefined():
            rt = dist.get().executorRunTime()
            busiest = sd.executorRunTime()
            med = rt.apply(0)
            skew = rt.apply(1) / med if med > 0 else 1.0
    return {"shuffle_bytes": shuffle, "spill_bytes": spill,
            "gc_s": gc_ms / 1000.0, "task_skew": skew}
