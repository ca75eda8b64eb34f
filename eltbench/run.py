"""Benchmark of the m33 ELT pipeline: CTAS, interactive SQL, JDBC export.

Usage (from the repository root)::

    python3 eltbench/run.py --workload m33_4files --seed 1 --seconds 20 --trace 0

One process is one run: one closed-loop client drives one engine on
``local[nproc]``. The run generates its input tree from ``--seed`` and sets
the engine up three times (session, view registration, warm-up; the median is
``setup_s``). It then measures two phases, each for a share of ``--seconds``
and at least a fixed number of calls:

1. cycles of one ``Engine.m33_ctas`` (CTAS of the typed raw view) and one
   block of a seeded stream of Hive/T-SQL statements through
   ``Engine.exec_sql(sql).collect()`` against the raw views and the table;
2. ``Engine.m33_export(url)`` with its default arguments into a fresh
   in-memory Derby database, dropped after each call.

No statement runs after Derby has booted in the process, so the export
target's heap never shares the JVM with the interactive statements. Only calls
into the package are timed; every answer is then checked against closed forms
of the generator's integer arithmetic, outside the timed interval.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (event log, Catalyst phases, JVM MXBeans) plus the traced
end-to-end figures, whose difference from an untraced run is the tracing
overhead. A host line before it says whether the run was contended.

Everything the run writes (inputs, warehouse, Derby, event logs, Spark local
dirs, temp files) lives under ``eltbench/data/`` and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
PACKAGE = "hdfs_hive_sql_playground_spark"

SETUPS = 3
MIN_CALLS = 3  # timed exports per run
BURN_IN_EXPORTS = 1
MIN_BLOCKS = 17  # of 6 statements: p90 rests on >= 10 samples above it
PHASE_SHARE = {"cycles": 0.7, "export": 0.3}

# name -> (unit, better). BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ctas_s": ("s", "lower"),
    "stmt_p50_ms": ("ms", "lower"),
    "stmt_p90_ms": ("ms", "lower"),
    "export_s": ("s", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "m33.create_views_ms": ("ms", "lower"),
    "dialect.rewrite_us": ("us", "lower"),
    "engine.exec_sql_ms": ("ms", "lower"),
    "engine.collect_ms": ("ms", "lower"),
    "engine.analysis_ms": ("ms", "lower"),
    "engine.optimization_ms": ("ms", "lower"),
    "engine.planning_ms": ("ms", "lower"),
    "engine.stages_per_stmt": ("count", "lower"),
    "engine.tasks_per_stmt": ("count", "lower"),
    "engine.raw_fetch_ms": ("ms", "lower"),
    "engine.raw_field_ms": ("ms", "lower"),
    "engine.table_fetch_ms": ("ms", "lower"),
    "engine.table_agg_ms": ("ms", "lower"),
    "sources.text.scan_s": ("s", "lower"),
    "sources.text.input_bytes": ("bytes", "lower"),
    "sources.text.tasks": ("count", "higher"),
    "sources.text.fetch_bytes_read": ("bytes", "lower"),
    "sources.text.fetch_read_amplification": ("ratio", "lower"),
    "sinks.ctas_task_ms": ("ms", "lower"),
    "sinks.output_bytes": ("bytes", "lower"),
    "sinks.bytes_per_row": ("bytes", "lower"),
    "sinks.read_text_table_ms": ("ms", "lower"),
    "sources.jdbc.export_task_ms": ("ms", "lower"),
    "sources.jdbc.verify_s": ("s", "lower"),
    "sources.jdbc.tasks": ("count", "lower"),
    "sources.jdbc.gc_ms": ("ms", "lower"),
    "sources.jdbc.task_failures": ("count", "lower"),
    "jvm.gc_ms": ("ms", "lower"),
    "jvm.jit_ms": ("ms", "lower"),
    "jvm.code_cache_mb": ("MB", "lower"),
    "jvm.heap_after_gc_mb": ("MB", "lower"),
    "trace.ctas_s": ("s", "lower"),
    "trace.stmt_p50_ms": ("ms", "lower"),
    "trace.stmt_p90_ms": ("ms", "lower"),
    "trace.export_s": ("s", "lower"),
    "trace.bookkeeping_ms": ("ms", "lower"),
}


def layouts():
    from inputs import Layout

    # Same 120k rows, two file layouts: a few large files (one wholetext task
    # each, the layout a splittable header skip would help) and many small
    # ones (per-file and per-task overhead dominates).
    return {
        "m33_4files": Layout(rows=30_000, replicas=1),
        "m33_100files": Layout(rows=1_200, replicas=25),
    }


class Run:
    """Attempt/failure bookkeeping and the walls of every timed call."""

    def __init__(self, set_group=None) -> None:
        self.set_group = set_group or (lambda group: None)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.walls: dict[str, list[float]] = {}

    def call(self, kind: str, fn, check, group: str | None = None):
        """Time ``fn()`` under Spark job group ``group``, then check its result
        untimed under group ``check``. Returns (wall, result); wall is None
        when the call raised or its answer was wrong."""
        self.attempted += 1
        self.set_group(group or kind)
        t = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # a failed call is counted, not fatal
            wall, result, ok = None, None, False
            self.errors.append(f"{kind}: {type(exc).__name__}: {str(exc)[:200]}")
        else:
            wall = time.perf_counter() - t
            self.set_group("check")
            try:
                ok = bool(check(result))
            except Exception as exc:
                ok = False
                self.errors.append(f"{kind} check: {type(exc).__name__}: {exc}")
            else:
                if not ok:
                    self.errors.append(f"{kind}: wrong answer")
        if not ok:
            self.failed += 1
            return None, result
        self.walls.setdefault(kind, []).append(wall)
        return wall, result


# -- host -------------------------------------------------------------------


def _cpu_times() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]  # total, steal


def _procs() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, cmdline) for every visible process."""
    out = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out[int(pid)] = (ppid, cmd)
    return out


def _tree(procs, root: int) -> set[int]:
    tree, frontier = {root}, [root]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in procs.items() if pp == parent and p not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def other_spark_driver() -> bool:
    procs = _procs()
    mine = _tree(procs, os.getpid())
    return any(
        "org.apache.spark.deploy.SparkSubmit" in cmd and pid not in mine
        for pid, (_, cmd) in procs.items()
    )


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its descendants (driver Python,
    JVM, Python workers)."""
    procs = _procs()
    kb = 0
    for pid in _tree(procs, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


# -- the workload -----------------------------------------------------------


def configure_env(work: str) -> None:
    """Keep every file the engine writes under ``work`` and make the package
    importable by Python workers."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Both JVMs (spark-submit's launcher and the driver) keep temp files
    # under ``work`` and write no hsperfdata file to the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def engine_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        # The engine's driver heap (session.get_spark's default) as the
        # initial heap too: with a fixed heap size the JVM's resident memory
        # repeats run to run instead of following the collector's resizing.
        # defaultJavaOptions leaves the engine's extraJavaOptions in place.
        "spark.driver.defaultJavaOptions": "-Xms" + os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if trace:
        from tracing import EVENT_LOG_CONF

        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
    return conf


def shutdown_jvm() -> None:
    """Stop the py4j gateway's JVM and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def run_workload(layout, seed: int, seconds: float, trace: bool, work: str) -> tuple[Run, dict]:
    import inputs
    from inputs import TABLE_SUMS_SQL, check_export, check_statement, check_table_sums

    ages = inputs.draw_ages(seed)
    tree = os.path.join(work, "tree")
    inputs.write_tree(tree, layout, ages)
    configure_env(work)

    from hdfs_hive_sql_playground_spark import dialect
    from hdfs_hive_sql_playground_spark.engine import Engine
    from hdfs_hive_sql_playground_spark.sinks import read_text_table
    from hdfs_hive_sql_playground_spark.sources.jdbc import read_jdbc

    engine = None
    run = Run(lambda group: engine.spark.sparkContext.setJobGroup(group, group))
    layer: dict[str, list[float]] = {}

    def note(key, value):
        layer.setdefault(key, []).append(value)

    def check_ctas(_path) -> bool:
        return check_table_sums(engine.spark.sql(TABLE_SUMS_SQL).collect(), layout, ages)

    if trace:
        from tracing import catalyst_phases, jvm_counters, jvm_memory
    bookkeeping = 0.0

    def statement(stmt, i: int, kind: str = "stmt") -> None:
        nonlocal bookkeeping
        if trace:
            t = time.perf_counter()
            dialect.rewrite(stmt.sql)
            note("dialect.rewrite_us", (time.perf_counter() - t) * 1e6)
        parts = {}

        def execute():
            t = time.perf_counter()
            parts["df"] = engine.exec_sql(stmt.sql)
            parts["exec_sql"] = time.perf_counter() - t
            return parts["df"].collect()

        wall, rows = run.call(
            kind, execute, lambda rows: check_statement(stmt, rows, layout, ages),
            group=f"{kind}:{stmt.template}:{i}",
        )
        if wall is None or kind != "stmt":
            return
        run.walls.setdefault(f"stmt.{stmt.template}", []).append(wall)
        if trace:
            t = time.perf_counter()
            note("engine.exec_sql_ms", parts["exec_sql"] * 1e3)
            note("engine.collect_ms", (wall - parts["exec_sql"]) * 1e3)
            for phase, ms in catalyst_phases(parts["df"]).items():
                note(f"engine.{phase}_ms", ms)
            if stmt.template == "raw_field":
                note("raw_field_bytes", float(sum(len(r[2]) + 1 for r in rows)))
            bookkeeping += time.perf_counter() - t

    stream = inputs.stream(seed, layout, blocks=10**6)
    conf = engine_conf(work, trace)
    setups, t0 = [], T_START
    for k in range(SETUPS):
        if engine is not None:
            engine.stop()
            t0 = time.perf_counter()
        t = time.perf_counter()
        engine = Engine(warehouse_dir=os.path.join(work, "warehouse"), conf=conf).start()
        note("session.start_s", time.perf_counter() - t)
        t = time.perf_counter()
        engine.m33_create_views(tree)
        note("m33.create_views_ms", (time.perf_counter() - t) * 1e3)
        # Warm-up: the first CTAS and the first statement of each template in
        # a fresh session are 1.5x their steady walls.
        run.call("warmup", engine.m33_ctas, check_ctas)
        for j in range(inputs.BLOCK):
            statement(next(stream), k * inputs.BLOCK + j, kind="warmup")
        setups.append(time.perf_counter() - t0)

    spark = engine.spark
    jvm = spark._jvm
    jvm.System.setProperty("derby.system.home", os.path.join(work, "derby"))
    # Bulk-load locking for the export target: with Derby's default row
    # locks the export spends most of its time in Derby's lock manager,
    # which would hide any change to the engine's writer.
    jvm.System.setProperty("derby.storage.rowLocking", "false")

    def quiesce() -> None:
        # Start a long call from a collected heap, not from the garbage of
        # the calls before it.
        jvm.System.gc()

    if trace:
        jvm0 = jvm_counters(spark)

    # Phase 1: cycles of one CTAS and one block of the statement stream, so
    # both steps sample the same stretch of the JVM's warm-up.
    deadline = time.perf_counter() + PHASE_SHARE["cycles"] * seconds
    cycle = 0
    while cycle < MIN_BLOCKS or time.perf_counter() < deadline:
        run.call("ctas", engine.m33_ctas, check_ctas, group=f"ctas:{cycle}")
        for j in range(inputs.BLOCK):
            statement(next(stream), cycle * inputs.BLOCK + j)
        cycle += 1
    if trace:
        for j in range(3):
            run.set_group(f"scan:{j}")
            t = time.perf_counter()
            spark.table("m33_schem").count()
            note("sources.text.scan_s", time.perf_counter() - t)
            run.set_group(f"readback:{j}")
            t = time.perf_counter()
            read_text_table(
                spark, "m33", "age_mil bigint, wavelength double, flam double, is_peculiar int",
                engine.warehouse_dir,
            ).count()
            note("sinks.read_text_table_ms", (time.perf_counter() - t) * 1e3)

    # Phase 2: JDBC export into a fresh Derby database per call. The first
    # call boots Derby and compiles its insert path; it is not timed.
    deadline = time.perf_counter() + PHASE_SHARE["export"] * seconds
    i = 0
    while i < BURN_IN_EXPORTS + MIN_CALLS or time.perf_counter() < deadline:
        db = f"eltbench{i}"
        url = f"jdbc:derby:memory:{db};create=true"
        timed = i >= BURN_IN_EXPORTS
        quiesce()
        run.call("export" if timed else "warmup", lambda: engine.m33_export(url),
                 lambda n: check_export(n, layout), group=f"export:{i}")
        if trace and timed:
            run.set_group(f"verify:{i}")
            t = time.perf_counter()
            read_jdbc(spark, url, "m33").count()
            note("sources.jdbc.verify_s", time.perf_counter() - t)
        try:
            jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:memory:{db};drop=true")
        except Exception:  # Derby reports a successful drop as SQLState 08006
            pass
        i += 1

    run.set_group("teardown")
    host = {"spark": spark.version, "java": jvm.System.getProperty("java.version"),
            "driver_heap_mb": round(jvm.Runtime.getRuntime().maxMemory() / 2**20)}
    peak_rss = tree_peak_rss_mb()
    if trace:
        jvm1 = jvm_counters(spark)
        mem = jvm_memory(spark)
    engine.stop()
    shutdown_jvm()

    w = run.walls
    if not trace:
        metrics = {
            "setup_s": median(setups),
            "peak_rss_mb": peak_rss,
            "ctas_s": median(w.get("ctas", [])),
            "stmt_p50_ms": median(w.get("stmt", [])) * 1e3,
            "stmt_p90_ms": percentile(w.get("stmt", []), 90) * 1e3,
            "export_s": median(w.get("export", [])),
        }
        return run, {"metrics": metrics, "host": host}

    from tracing import group_metrics

    groups = group_metrics(os.path.join(work, "events"))

    def per_call(prefix: str, key: str, agg=median):
        return agg([m.get(key, 0.0) for g, m in groups.items() if g.startswith(prefix)])

    field_bytes_read = per_call("stmt:raw_field:", "input_bytes", agg=sum)
    out_bytes = per_call("ctas:", "output_bytes")
    metrics = {
        "session.start_s": layer["session.start_s"][0],
        "m33.create_views_ms": median(layer["m33.create_views_ms"]),
        "dialect.rewrite_us": median(layer["dialect.rewrite_us"]),
        "engine.exec_sql_ms": median(layer["engine.exec_sql_ms"]),
        "engine.collect_ms": median(layer["engine.collect_ms"]),
        "engine.analysis_ms": statistics.mean(layer["engine.analysis_ms"]),
        "engine.optimization_ms": statistics.mean(layer["engine.optimization_ms"]),
        "engine.planning_ms": statistics.mean(layer["engine.planning_ms"]),
        "engine.stages_per_stmt": per_call("stmt:", "stages", agg=statistics.mean),
        "engine.tasks_per_stmt": per_call("stmt:", "tasks", agg=statistics.mean),
        **{f"engine.{t}_ms": median(w.get(f"stmt.{t}", [])) * 1e3 for t in inputs.TEMPLATES},
        "sources.text.scan_s": median(layer["sources.text.scan_s"]),
        "sources.text.input_bytes": per_call("ctas:", "input_bytes"),
        "sources.text.tasks": per_call("ctas:", "tasks"),
        "sources.text.fetch_bytes_read": per_call("stmt:raw_", "input_bytes"),
        "sources.text.fetch_read_amplification": field_bytes_read / max(1.0, sum(layer.get("raw_field_bytes", []))),
        "sinks.ctas_task_ms": per_call("ctas:", "run_ms"),
        "sinks.output_bytes": out_bytes,
        "sinks.bytes_per_row": out_bytes / layout.total_rows,
        "sinks.read_text_table_ms": median(layer["sinks.read_text_table_ms"]),
        "sources.jdbc.export_task_ms": per_call("export:", "run_ms"),
        "sources.jdbc.verify_s": median(layer["sources.jdbc.verify_s"]),
        "sources.jdbc.tasks": per_call("export:", "tasks"),
        "sources.jdbc.gc_ms": per_call("export:", "gc_ms"),
        "sources.jdbc.task_failures": per_call("export:", "task_failures", agg=sum),
        "jvm.gc_ms": jvm1["gc_ms"] - jvm0["gc_ms"],
        "jvm.jit_ms": jvm1["jit_ms"] - jvm0["jit_ms"],
        "jvm.code_cache_mb": mem["code_cache_mb"],
        "jvm.heap_after_gc_mb": mem["heap_after_gc_mb"],
        "trace.ctas_s": median(w.get("ctas", [])),
        "trace.stmt_p50_ms": median(w.get("stmt", [])) * 1e3,
        "trace.stmt_p90_ms": percentile(w.get("stmt", []), 90) * 1e3,
        "trace.export_s": median(w.get("export", [])),
        "trace.bookkeeping_ms": bookkeeping * 1e3,
    }
    return run, {"metrics": metrics, "host": host}


def percentile(xs, p: int) -> float:
    if len(xs) < 2:
        return float("nan")
    return statistics.quantiles(xs, n=100)[p - 1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in (PACKAGE, os.path.join("scripts", "gen_m33_fixture.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"eltbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    if args.workload not in layouts():
        print(f"eltbench: unknown workload {args.workload!r}; known: {sorted(layouts())}", file=sys.stderr)
        return 2

    work = os.path.join(DATA, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    load0, cpu0, other0 = os.getloadavg()[0], _cpu_times(), other_spark_driver()
    try:
        run, out = run_workload(layouts()[args.workload], args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    cpu1 = _cpu_times()
    steal = 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    other = other0 or other_spark_driver()
    host = {
        "nproc": os.cpu_count(),
        **out["host"],
        "loadavg_start": load0,
        "loadavg_end": os.getloadavg()[0],
        "steal_pct": round(steal, 2),
        "other_spark_driver": other,
        "contended": other or steal > 5.0,
    }
    for err in run.errors[:20]:
        print(f"eltbench: {err}", file=sys.stderr)
    print(json.dumps({"host": host}))
    table = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": table[k][0]} for k, v in out["metrics"].items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
