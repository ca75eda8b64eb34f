"""Per-layer measurements for the traced run.

Two sources, both read from the benchmark's side of the package boundary:

- Spark's event log (uncompressed, non-rolling), parsed with stdlib ``json``
  after the session stops. Each timed call runs under its own job group, so
  stage and task metrics are attributed to the call that caused them.
- The JVM's MXBeans, read through py4j: GC time, JIT time, code cache and
  the heap left after a full GC.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_ACC = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
}


def group_metrics(event_dir: str) -> dict[str, dict[str, float]]:
    """Sum stage metrics per job group over every event log in ``event_dir``.

    Returns ``{group: {"stages", "tasks", "task_failures", "run_ms", "gc_ms",
    "input_bytes", "output_bytes"}}``.
    """
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if group and reason != "Success":
                        out[group]["task_failures"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if not group:
                        continue
                    m = out[group]
                    m["stages"] += 1
                    m["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        key = _ACC.get(acc.get("Name"))
                        if key:
                            m[key] += float(acc.get("Value") or 0)
    return {g: dict(m) for g, m in out.items()}


def jvm_counters(spark) -> dict[str, float]:
    """Cumulative GC and JIT milliseconds of the driver JVM."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return {"gc_ms": float(gc_ms), "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime())}


def jvm_memory(spark) -> dict[str, float]:
    """Code cache in use, and heap in use after a full GC, in MB."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    code = sum(
        p.getUsage().getUsed()
        for p in mf.getMemoryPoolMXBeans()
        if "CodeHeap" in p.getName() or "Code Cache" in p.getName()
    )
    jvm.System.gc()
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {"code_cache_mb": code / 2**20, "heap_after_gc_mb": heap / 2**20}


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of the execution that ran."""
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        name: float(phases.apply(name).durationMs())
        for name in ("analysis", "optimization", "planning")
        if phases.contains(name)
    }
