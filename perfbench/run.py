"""Run one benchmark workload and print its metrics.

Usage, from the repository root:

    python3 perfbench/run.py --workload interactive_sf0.01 --seed 1 \
        --seconds 25 --trace 0

The run generates its input tables from the seed, sets up the engine
(imports, SparkSession on local[k], catalog registration), runs one
warm-up pass and then measured passes until ``--seconds`` have passed.
Every operation's rows are checked against DuckDB outside the timed
region.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run
alternates untraced and traced passes and the metrics are the
per-layer ones, read from the traced passes.  See README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
MAX_CORES = 4

sys.path.insert(0, HERE)

import workloads as W  # noqa: E402


def _cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def _tree_cpu_s() -> float:
    """CPU seconds used by this process and all its descendants (the
    JVM and Python workers), including reaped children."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    total, frontier = 0, {os.getpid()}
    while frontier:
        total += sum(procs[p][1] for p in frontier if p in procs)
        frontier = {p for p, (ppid, _) in procs.items() if ppid in frontier}
    return total / _TICK


def _host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def _steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the host's CPU time the hypervisor took between two
    ``_host_ticks`` readings."""
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One process, one workload, one seed."""

    def __init__(self, wl: W.Workload, seed: int, seconds: float,
                 trace: bool, workdir: str):
        self.wl = wl
        self.seconds = seconds
        self.trace = trace
        self.data_dir = os.path.join(workdir, "data")
        self.rng = random.Random(seed)
        self.seen_statements: set = set()
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.k = _cores()
        self.oracle_cache: dict[str, tuple] = {}
        self.tables: dict = {}

    # ------------------------------------------------------------ setup
    def setup(self) -> None:
        """Imports, session, catalog.  Timed as ``setup_s``."""
        from spans import Tracer
        self.tracer = Tracer()
        t0 = time.perf_counter()
        import pyspark  # noqa: F401
        import __spark_entry__ as entry_mod
        from bench import HEADLINE
        from clickhouse_core_spark import get_spark
        from clickhouse_core_spark import plans
        from clickhouse_core_spark.plans import frontend
        from clickhouse_core_spark.sources import mergetree
        t1 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.k}]", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            # the JVM's temporary files (native-library extraction, the
            # perf-data file) stay inside the run's directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        t2 = time.perf_counter()
        entry_mod._cat(self.spark, self.data_dir)
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        for name, a, b in (("import", t0, t1), ("session.start", t1, t2),
                           ("catalog.register", t2, t3)):
            self.tracer.record(name, a, b)
        self.phase = {"import.s": t1 - t0, "session.start_s": t2 - t1,
                      "catalog.register_s": t3 - t2}
        missing = [e for e in self.wl.entries if e not in HEADLINE]
        if missing:
            raise SystemExit(f"entries not in bench.HEADLINE: {missing}")
        self.queries = entry_mod.queries()
        self.oracles = entry_mod.oracle_sql()
        self.ch_sql = plans.ch_sql
        self.frontend = frontend
        self.mergetree = mergetree
        import oracle
        import datagen
        self.oracle = oracle
        self.duck = oracle.connect(self.data_dir, datagen.TABLES)
        self.lineitem_bytes = os.path.getsize(
            os.path.join(self.data_dir, "lineitem.parquet"))
        if self.trace:
            self._install_wrappers()

    def _install_wrappers(self) -> None:
        t = self.tracer
        t.count_py4j()
        t.wrap(self.frontend, "translate_ch_sql", "plans.translate")
        cls = self.mergetree.MergeTreeTable
        t.wrap(cls, "insert", "mergetree.insert")
        t.wrap(cls, "compact", "mergetree.compact")
        t.wrap(cls, "read_raw", "mergetree.read_raw")
        t.wrap(cls, "read", "mergetree.read")
        t.wrap(self.mergetree, "replacing_final", "final.replacing_final")

    # ------------------------------------------------------------ oracle
    def _duck_rows(self, sql: str):
        res = self.duck.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def _check(self, op_name: str, cols, rows, duck_sql: str, cache_key=None) -> None:
        try:
            if cache_key and cache_key in self.oracle_cache:
                dcols, drows = self.oracle_cache[cache_key]
            else:
                dcols, drows = self._duck_rows(duck_sql)
                if cache_key:
                    self.oracle_cache[cache_key] = (dcols, drows)
            why = self.oracle.compare(cols, rows, dcols, drows)
        except Exception as e:  # the oracle itself failed
            why = f"oracle error {type(e).__name__}: {str(e)[:200]}"
        if why:
            self._fail(op_name, why)

    def _fail(self, op_name: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(op_name, why)

    # ------------------------------------------------------------ ops
    def _run_op(self, op_name: str, build, pass_rec: dict, tracing: bool):
        """Build and collect one op.  Returns (latency_s or None, df,
        rows, columns)."""
        self.attempted += 1
        tr = self.tracer
        op_id = f"p{pass_rec['no']}:{op_name}"
        sc = self.spark.sparkContext
        if tracing:
            tr.op_id = op_id
            sc.setJobGroup(op_id, op_name)
        df = rows = cols = None
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                with tr.span("build"):
                    df = build()
                if df is not None:
                    with tr.span("action"):
                        rows = [tuple(r) for r in df.collect()]
                    cols = df.columns
            latency = time.perf_counter() - t0
        except Exception as e:
            self._fail(op_name, f"{type(e).__name__}: {str(e)[:200]}")
            latency = None
        if tracing:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tr.op_id = None
        pass_rec["ops"].append((op_name, latency))
        return latency, df, rows, cols

    def _layer_metrics(self, op_id: str, df, collect_s: float, rec: dict) -> None:
        """Traced passes only, outside the timed region: Catalyst phases,
        noop-sink execution, SQL metrics, job/stage/task counts."""
        from py4j.protocol import Py4JError
        sc = self.spark.sparkContext
        tr = self.tracer
        tr.op_id = op_id
        if df is not None:
            try:
                qe = df._jdf.queryExecution()
                phases = qe.tracker().phases()
                # the tracker's epoch-ms phase times, on the tracer's clock
                offset = time.perf_counter() - time.time()
                for k in ("analysis", "optimization", "planning"):
                    if phases.contains(k):
                        ph = phases.apply(k)
                        rec[f"catalyst.{k}_ms"] += ph.durationMs()
                        tr.record(f"catalyst.{k}", ph.startTimeMs() / 1e3 + offset,
                                  ph.endTimeMs() / 1e3 + offset)
                self._plan_metrics(qe.executedPlan(), rec)
            except Py4JError:
                pass  # best-effort: a layer metric the plan does not expose
            sc.setJobGroup(op_id + ":noop", "noop")
            try:
                t0 = time.perf_counter()
                with tr.span("exec.noop"):
                    df.write.format("noop").mode("overwrite").save()
                noop = time.perf_counter() - t0
                rec["exec.noop_s"] += noop
                rec["ship.s"] += collect_s - noop
            except Py4JError:
                pass  # best-effort: a layer metric the plan does not expose
            sc.setLocalProperty("spark.jobGroup.id", None)
        tr.op_id = None
        st = sc.statusTracker()
        for jid in st.getJobIdsForGroup(op_id):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            rec["exec.jobs"] += 1
            for sid in info.stageIds:
                rec["exec.stages"] += 1
                sinfo = st.getStageInfo(sid)
                if sinfo is not None:
                    rec["exec.tasks"] += sinfo.numTasks

    def _plan_metrics(self, plan, rec: dict) -> None:
        seen: set = set()
        stack = [plan]
        while stack:
            node = stack.pop()
            metrics = node.metrics()
            name = node.nodeName()
            for key, out in (("shuffleBytesWritten", "exec.shuffle_write_bytes"),
                             ("spillSize", "exec.spill_bytes"),
                             ("numOutputRows", "exec.scan_rows")):
                if out == "exec.scan_rows" and not name.startswith("Scan"):
                    continue
                opt = metrics.get(key)
                if opt.isDefined():
                    m = opt.get()
                    if m.id() not in seen:
                        seen.add(m.id())
                        rec[out] += m.value()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif cls.endswith("QueryStageExec"):
                stack.append(node.plan())
            else:
                kids = node.children()
                stack.extend(kids.apply(i) for i in range(kids.size()))

    # ------------------------------------------------------------ units
    def _entry(self, unit, rec, tracing):
        name = unit.name.split(":", 1)[1]
        fn = self.queries[name]
        tr = self.tracer
        t_build = []

        def build():
            with tr.span("build.entry"):
                b0 = time.perf_counter()
                df = fn(self.spark, self.data_dir)
                t_build.append(time.perf_counter() - b0)
                return df

        lat, df, rows, cols = self._run_op(unit.name, build, rec, tracing)
        self._after(unit.name, lat, df, rows, cols, t_build, rec, tracing,
                    self.oracles.get(name), cache_key=name, kind="entry")

    def _chsql(self, unit, rec, tracing):
        st = unit.statement
        t_build = []

        def build():
            with self.tracer.span("plans.ch_sql"):
                b0 = time.perf_counter()
                df = self.ch_sql(self.spark, st.ch, tables=self.tables)
                t_build.append(time.perf_counter() - b0)
                return df

        lat, df, rows, cols = self._run_op(unit.name, build, rec, tracing)
        self._after(unit.name, lat, df, rows, cols, t_build, rec, tracing,
                    st.duck, kind="chsql")

    def _after(self, op_name, lat, df, rows, cols, t_build, rec, tracing,
               duck_sql, cache_key=None, kind="entry"):
        t0, c0 = time.perf_counter(), _tree_cpu_s()
        if lat is not None and duck_sql:
            self._check(op_name, cols, rows, duck_sql, cache_key)
        if tracing and lat is not None:
            build_s = t_build[0] if t_build else 0.0
            if kind == "entry":
                rec["build.s"] += build_s
            rec["ship.result_rows"] += len(rows or ())
            self._layer_metrics(f"p{rec['no']}:{op_name}", df, lat - build_s, rec)
        rec["excluded_cpu_s"] += _tree_cpu_s() - c0
        rec["excluded_s"] += time.perf_counter() - t0

    def _ingest(self, unit, rec, tracing):
        cycle = unit.cycle
        tr = self.tracer
        table_path = None
        seen_parts: set = set()
        for step in cycle.steps():
            t_build = []
            parts_before = 0
            if tracing and step.kind in ("insert", "optimize"):
                tbl = self.tables.get(W.TABLE)
                parts_before = len(tbl.parts()) if tbl is not None else 0

            def build(step=step):
                with tr.span("plans.ch_sql"):
                    b0 = time.perf_counter()
                    df = self.ch_sql(self.spark, step.ch, tables=self.tables)
                    t_build.append(time.perf_counter() - b0)
                    return df if step.kind in ("final", "count") else None

            n_spans = len(tr.spans)
            lat, df, rows, cols = self._run_op(step.name, build, rec, tracing)
            t0, c0 = time.perf_counter(), _tree_cpu_s()
            if lat is not None:
                if W.TABLE in self.tables:
                    table_path = self.tables[W.TABLE].path
                if step.kind == "insert":
                    rows_in = self._duck_rows(step.rows_sql)[1][0][0]
                    rec["insert_rows"] += rows_in
                    rec["insert_s"] += lat
                    if tracing:
                        own = [s for s in tr.spans[n_spans:]
                               if s.name == "mergetree.insert"]
                        reads = [s for s in tr.spans[n_spans:]
                                 if s.name == "mergetree.read_raw"]
                        ins = sum(s.duration for s in own)
                        rec["mergetree.insert_s"] += ins
                        rec["mergetree.view_refresh_s"] += lat - ins
                        rec["read_raw_per_insert"].append(len(reads))
                        if step.name.startswith("ingest:insert_"):
                            # the update batch inserts fewer rows; fit
                            # the equal-sized key batches only
                            rec["slope_points"].append((parts_before, lat))
                elif step.kind == "optimize":
                    rec["merge_s"].append(lat)
                    if table_path:
                        rec["stored_bytes"].append(_dir_bytes(table_path))
                    if tracing:
                        rec["mergetree.parts_at_merge"] += parts_before
                        rec["mergetree.compact_s"] += sum(
                            s.duration for s in tr.spans[n_spans:]
                            if s.name == "mergetree.compact")
                elif step.kind == "final" and tracing:
                    rec["final.read_s"] += lat
                if step.duck:
                    self._check(step.name, cols, rows, step.duck)
                if tracing:
                    if table_path and os.path.isdir(table_path):
                        for p in os.listdir(table_path):
                            full = os.path.join(table_path, p)
                            if p.startswith("part-") and full not in seen_parts:
                                seen_parts.add(full)
                                rec["mergetree.bytes_written"] += _dir_bytes(full)
                    if df is not None:
                        rec["ship.result_rows"] += len(rows or ())
                        self._layer_metrics(f"p{rec['no']}:{step.name}", df,
                                            lat - (t_build[0] if t_build else 0.0), rec)
            rec["excluded_cpu_s"] += _tree_cpu_s() - c0
            rec["excluded_s"] += time.perf_counter() - t0
        if tracing and table_path:
            rec["mergetree.bytes_left_after_drop"] += _dir_bytes(table_path)

    # ------------------------------------------------------------ passes
    def run_pass(self, no: int, tracing: bool) -> dict:
        rec = {"no": no, "traced": tracing, "ops": [],
               "excluded_s": 0.0, "excluded_cpu_s": 0.0, "insert_rows": 0, "insert_s": 0.0,
               "merge_s": [], "stored_bytes": [], "read_raw_per_insert": [],
               "slope_points": []}
        for k in PER_PASS_SUMS:
            rec[k] = 0
        units = W.plan_pass(self.wl, self.rng, self.seen_statements)
        self.tracer.active = tracing
        gc0 = self._gc_s() if tracing else 0.0
        cpu0 = _tree_cpu_s()
        host0 = _host_ticks()
        t0 = time.perf_counter()
        for unit in units:
            if unit.kind == "ingest":
                self._ingest(unit, rec, tracing)
                continue
            if unit.kind == "entry":
                self._entry(unit, rec, tracing)
            else:
                self._chsql(unit, rec, tracing)
        rec["pass_s"] = time.perf_counter() - t0 - rec["excluded_s"]
        rec["pass_cpu_s"] = _tree_cpu_s() - cpu0 - rec["excluded_cpu_s"]
        rec["steal"] = _steal_share(host0, _host_ticks())
        self.tracer.active = False
        if tracing:
            rec["jvm.gc_s"] = self._gc_s() - gc0
            rec["state.persisted_rdds"] = \
                self.spark.sparkContext._jsc.getPersistentRDDs().size()
        # untimed: drop what the pass persisted, so every pass starts
        # from the same cache state
        self.spark.catalog.clearCache()
        return rec

    def _gc_s(self) -> float:
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def heap_after_gc_mb(self) -> float:
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mem.getHeapMemoryUsage().getUsed() / 2**20

    def run(self) -> dict:
        warm = self.run_pass(0, False)
        self.warmup_s = warm["pass_s"]
        if self.trace:
            # the pass after the warm-up is still JIT-heavy; a trace run
            # lets it go by uncounted, so the traced-minus-untraced
            # difference below is not inflated by it
            self.run_pass(0, False)
        measured: list[dict] = []
        t0 = time.perf_counter()
        no = 1
        # every run takes enough samples for its tail percentile.  Trace
        # runs alternate traced and untraced passes (traced first and
        # last, so a warming trend cancels) and the tracing overhead is
        # measured in the same process.
        while (time.perf_counter() - t0 < self.seconds
               or sum(len(p["ops"]) for p in measured) < MIN_SAMPLES
               or (self.trace and len(measured) < 3)
               or (self.trace and no % 2 == 1)):
            measured.append(self.run_pass(no, self.trace and no % 2 == 1))
            no += 1
        return {"warm": warm, "measured": measured}


# op_p70_s needs 10 samples beyond the 70th percentile
MIN_SAMPLES = 34

PER_PASS_SUMS = (
    "build.s", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.noop_s", "ship.s", "ship.result_rows",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.scan_rows", "mergetree.insert_s",
    "mergetree.view_refresh_s", "mergetree.compact_s",
    "mergetree.parts_at_merge", "mergetree.bytes_written",
    "mergetree.bytes_left_after_drop", "final.read_s")

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s",
             "op_p50_s": "s", "op_p70_s": "s",
             "ok_rate": "ratio", "ingest_rows_per_s": "rows/s", "merge_s": "s",
             "stored_bytes_per_source_byte": "ratio"}


def end_to_end(b: Bench, passes: list[dict]) -> dict:
    lat = [x if x is not None else float("inf")
           for p in passes for _, x in p["ops"]]
    p50, n = W.percentile(lat, 50)
    p70, _ = W.percentile(lat, 70)
    ins_rows = sum(p["insert_rows"] for p in passes)
    ins_s = sum(p["insert_s"] for p in passes)
    vals = {
        "setup_s": b.setup_s,
        "pass_s": _median([p["pass_s"] for p in passes]),
        "pass_cpu_s": _median([p["pass_cpu_s"] for p in passes]),
        "op_p50_s": p50,
        "op_p70_s": p70,
        "ok_rate": 1.0 - b.failed / max(1, b.attempted),
        "ingest_rows_per_s": ins_rows / ins_s if ins_s else 0.0,
        "merge_s": _median([x for p in passes for x in p["merge_s"]]),
        "stored_bytes_per_source_byte": _median(
            [x for p in passes for x in p["stored_bytes"]]) / b.lineitem_bytes,
    }
    b.samples = n
    return {k: {"value": v if v != float("inf") else 1e9, "unit": E2E_UNITS[k]}
            for k, v in vals.items()}


LAYER_UNITS = {
    "import.s": "s", "session.start_s": "s", "catalog.register_s": "s",
    "warmup.first_pass_s": "s", "build.s": "s", "build.py4j_calls": "count",
    "plans.translate_s": "s", "plans.ch_sql_s": "s", "plans.py4j_calls": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "exec.noop_s": "s", "ship.s": "s",
    "ship.result_rows": "count", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.scan_rows": "count", "jvm.gc_s": "s",
    "jvm.heap_after_gc_mb": "MB", "state.persisted_rdds": "count",
    "state.query_log_rows": "count", "mergetree.insert_s": "s",
    "mergetree.view_refresh_s": "s", "mergetree.read_raw_calls": "count",
    "mergetree.insert_slope_s_per_part": "s", "mergetree.compact_s": "s",
    "mergetree.parts_at_merge": "count", "mergetree.bytes_written": "bytes",
    "mergetree.bytes_left_after_drop": "bytes", "final.read_s": "s",
    "trace.overhead_s": "s",
}


def per_layer(b: Bench, passes: list[dict]) -> dict:
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    vals: dict[str, float] = dict(b.phase)
    vals["warmup.first_pass_s"] = b.warmup_s
    for k in PER_PASS_SUMS + ("jvm.gc_s", "state.persisted_rdds"):
        vals[k] = _median([p[k] for p in traced])
    ids = {p["no"] for p in traced}
    spans = [s for s in b.tracer.spans
             if s.op_id and int(s.op_id.split(":")[0][1:]) in ids]
    per_pass: dict[str, list[float]] = {}
    for no in ids:
        mine = [s for s in spans if s.op_id.startswith(f"p{no}:")]
        for key, name, attr in (("build.py4j_calls", "build.entry", "py4j_calls"),
                                ("plans.translate_s", "plans.translate", "duration"),
                                ("plans.ch_sql_s", "plans.ch_sql", "duration"),
                                ("plans.py4j_calls", "plans.ch_sql", "py4j_calls")):
            per_pass.setdefault(key, []).append(
                sum(getattr(s, attr) for s in mine if s.name == name))
    for k, xs in per_pass.items():
        vals[k] = _median(xs)
    reads = [x for p in traced for x in p["read_raw_per_insert"]]
    vals["mergetree.read_raw_calls"] = _median(reads)
    pts = [xy for p in traced for xy in p["slope_points"]]
    vals["mergetree.insert_slope_s_per_part"] = _slope(pts)
    vals["jvm.heap_after_gc_mb"] = b.heap_after_gc_mb()
    vals["state.query_log_rows"] = b.frontend.system_query_log(b.spark).count()
    vals["trace.overhead_s"] = (_median([p["pass_s"] for p in traced])
                                - _median([p["pass_s"] for p in plain]))
    return {k: {"value": vals[k], "unit": u} for k, u in LAYER_UNITS.items()}


def _slope(points) -> float:
    if len(points) < 2:
        return 0.0
    mx = statistics.fmean(x for x, _ in points)
    my = statistics.fmean(y for _, y in points)
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx


def _engine_present() -> bool:
    return all(os.path.exists(os.path.join(ROOT, f)) for f in (
        "bench.py", "__spark_entry__.py",
        os.path.join("clickhouse_core_spark", "__init__.py")))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale (smoke tests)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _engine_present():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    wl = W.WORKLOADS[args.workload]
    if args.sf is not None:
        wl = dataclasses.replace(wl, sf=args.sf)
    os.makedirs(WORK_ROOT, exist_ok=True)
    workdir = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    # Python workers must import the engine; Spark's scratch files and
    # ch_sql's table directory stay inside the run's directory
    env_py = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + env_py if env_py else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)
    os.chdir(workdir)
    bench = None
    try:
        # input generation runs in its own process so the setup timer
        # below starts with nothing but the standard library imported
        subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"),
                        os.path.join(workdir, "data"), str(wl.sf), str(args.seed),
                        ",".join(wl.tables)],
                       check=True)
        t_data = time.perf_counter() - T_START
        bench = Bench(wl, args.seed, args.seconds, bool(args.trace), workdir)
        bench.setup()
        t_setup = time.perf_counter() - T_START
        result = bench.run()
        t_run = time.perf_counter() - T_START
        passes = result["measured"]
        if args.trace:
            metrics = per_layer(bench, passes)
            spans_path = os.path.join(
                OUT_DIR, f"spans-{args.workload}-{args.seed}.json")
            os.makedirs(OUT_DIR, exist_ok=True)
            with open(spans_path, "w") as fh:
                json.dump(bench.tracer.as_dicts(), fh)
            self_t = bench.tracer.self_times(bench.tracer.spans)
            print("span self time (s): " + json.dumps(
                {k: round(v, 4) for k, v in sorted(self_t.items())}))
            print(f"spans: {len(bench.tracer.spans)} written to {spans_path}")
        else:
            metrics = end_to_end(bench, passes)
            print(f"op samples: {bench.samples}")
            by_op: dict[str, list[float]] = {}
            for p in passes:
                for op, lat in p["ops"]:
                    if lat is not None:
                        by_op.setdefault(op, []).append(lat)
            print("op median latency (s): " + json.dumps(
                {op: round(_median(xs), 3) for op, xs in sorted(
                    by_op.items(), key=lambda kv: -_median(kv[1]))}))
        import pyspark
        print("run: " + json.dumps({
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "k": bench.k, "spark": pyspark.__version__,
            "python": platform.python_version(), "sf": wl.sf,
            "warmup_pass_s": round(bench.warmup_s, 4),
            "measured_passes": len(passes),
            "wall_at": {"data": round(t_data, 2), "setup": round(t_setup, 2),
                        "passes": round(t_run, 2),
                        "metrics": round(time.perf_counter() - T_START, 2)},
            "pass_s": [round(p["pass_s"], 4) for p in passes],
            "pass_cpu_s": [round(p["pass_cpu_s"], 4) for p in passes],
            # the host's steal share during each measured pass: a run
            # whose passes lost CPU time to other guests shows it here
            "host_steal": [round(p["steal"], 4) for p in passes]}))
        failed = bench.failed
        print(f"error_rate: {failed / max(1, bench.attempted):.6f} "
              f"({failed} of {bench.attempted} ops)")
        for op, why in sorted(bench.failures.items()):
            print(f"failed op {op}: {why}")
        print(json.dumps({"correct": failed == 0, "attempted": bench.attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        try:
            if bench is not None and getattr(bench, "spark", None) is not None:
                _stop_spark(bench.spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(workdir, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM, so no process outlives
    the run.  The JVM exits when its stdin closes."""
    from py4j.protocol import Py4JError
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Py4JError:
        pass  # the gateway is already gone; the JVM is stopped below
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
