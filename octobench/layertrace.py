"""Layer tracing from outside the program.

The tracer wraps the public functions of each layer's modules and
rebinds every module attribute (and module-level dict entry, such as
``sinks.WRITERS``) that refers to them, so calls made through any
import path are seen. Each call records a span: layer, function,
start, end, parent and operation. Spans stay in memory; the run
writes them out when it ends. A layer's self time is its spans'
durations minus the time covered by their child spans.

Spark's own instrumentation supplies the rest: Catalyst phase times
from ``QueryExecution.tracker()``, jobs from ``StatusTracker`` by job
group, task metrics from the event log, and Python worker time from
the ``perf`` UDF profiler.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

# layer -> modules whose public functions belong to it
LAYER_MODULES = {
    "cli": ["octosql_spark.cli"],
    "sql.transpile": ["octosql_spark.sql.transpiler", "octosql_spark.sql.tokenizer"],
    "sources": ["octosql_spark.sources.files"],
    "sources.infer": ["octosql_spark.schema_infer"],
    "catalog": ["octosql_spark.catalog"],
    "operators": ["octosql_spark.operators.aggregate", "octosql_spark.operators.distinct",
                  "octosql_spark.operators.joins", "octosql_spark.operators.order_limit",
                  "octosql_spark.operators.runtime_filter", "octosql_spark.operators.setops",
                  "octosql_spark.operators.temporal", "octosql_spark.operators.unnest"],
    "datapipe": ["octosql_spark.datapipe.cluster", "octosql_spark.datapipe.curate",
                 "octosql_spark.datapipe.dedup", "octosql_spark.datapipe.similarity",
                 "octosql_spark.datapipe.sketch", "octosql_spark.datapipe.text"],
    "sinks": ["octosql_spark.sinks"],
}
# only these functions of a layer module; the others are helpers that
# would only add spans (sql: run_query is transpile + spark.sql)
LAYER_FUNCTIONS = {
    "cli": {"main"},
    "sql.transpile": {"transpile", "tokenize"},
    "sources": {"read_file", "read_csv", "read_tsv", "read_json", "read_lines",
                "read_parquet", "read_orc"},
    "sources.infer": {"infer_csv", "infer_json"},
    "catalog": {"load_table"},
    "sinks": {"write_table", "write_csv", "write_json", "write_stream_native"},
}
# workloads that must not touch a layer: (metric, workload) pairs whose
# value has to be zero, the "bypass" predictions the benchmark records
BYPASS = {
    "tpch_library": ["cli.main_s", "sql.transpile_s", "sql.spark_sql_s",
                     "sources.read_file_calls", "sinks.write_s", "pyworker.udf_s"],
    "cli_files": ["catalog.load_table_calls", "datapipe.calls", "build.s",
                  "pyworker.udf_s"],
    "corpus_pipeline": ["cli.main_s", "sql.transpile_s", "sources.read_file_calls",
                        "sinks.write_s"],
}
BYPASS["tpch_money_sums"] = BYPASS["tpch_library"]


@dataclass
class Span:
    op: int
    layer: str
    fn: str
    start: float
    parent: int
    end: float = 0.0
    child: float = 0.0      # time covered by child spans
    py4j: int = 0           # py4j round trips inside, children included
    parquet_reads: int = 0  # DataFrameReader.parquet calls inside


@dataclass
class OpTrace:
    op: int
    name: str
    group: str
    wall: float = 0.0
    dfs: list = field(default_factory=list)   # DataFrames an action ran on
    rows_fetched: int = 0
    sink_bytes: int = 0
    sink_rows: int = 0
    catalyst_ms: dict = field(default_factory=dict)
    udf_s: float = 0.0
    jobs: int = 0
    persists_released: int = 0
    release_s: float = 0.0


class Tracer:
    """Spans and counters for the traced passes of one run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.ops: list[OpTrace] = []
        self.py4j = 0
        self._undo: list = []
        self.op: OpTrace | None = None
        self.errors: list[str] = []

    # ---------------------------------------------------------- spans
    def begin(self, layer: str, fn: str) -> int:
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(self.op.op if self.op else -1, layer, fn,
                               time.perf_counter(), parent, py4j=self.py4j))
        self.stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, i: int) -> None:
        s = self.spans[i]
        s.end = time.perf_counter()
        s.py4j = self.py4j - s.py4j
        self.stack.pop()
        if s.parent >= 0:
            self.spans[s.parent].child += s.end - s.start

    def add_child_time(self, layer: str, fn: str, start: float, end: float) -> None:
        """A span measured piecewise (time spent inside a result
        iterator's ``next``), attached to the current span."""
        parent = self.stack[-1] if self.stack else -1
        self.spans.append(Span(self.op.op if self.op else -1, layer, fn, start,
                               parent, end=end))
        if parent >= 0:
            self.spans[parent].child += end - start

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            i = tracer.begin(layer, name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.end(i)
        return wrapper

    # -------------------------------------------------------- install
    def install(self) -> None:
        originals: dict[int, tuple] = {}
        for layer, mods in LAYER_MODULES.items():
            only = LAYER_FUNCTIONS.get(layer)
            for mname in mods:
                mod = importlib.import_module(mname)
                for name, obj in vars(mod).items():
                    if (inspect.isfunction(obj) and obj.__module__ == mname
                            and not name.startswith("_")
                            and (only is None or name in only)):
                        originals[id(obj)] = (obj, self._wrap(obj, layer, name))
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("octosql_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in originals and originals[id(obj)][0] is obj:
                    setattr(mod, name, originals[id(obj)][1])
                    self._undo.append((setattr, mod, name, obj))
                elif isinstance(obj, dict):
                    for k, v in list(obj.items()):
                        if id(v) in originals and originals[id(v)][0] is v:
                            obj[k] = originals[id(v)][1]
                            self._undo.append((dict.__setitem__, obj, k, v))
        self._install_pyspark()

    def _install_pyspark(self) -> None:
        from pyspark.sql import SparkSession
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader
        tracer = self

        def patch(cls, name, make):
            orig = cls.__dict__.get(name)
            setattr(cls, name, make(getattr(cls, name)))
            self._undo.append((_restore_attr, cls, name, orig))

        def fetch(orig):
            @functools.wraps(orig)
            def wrapper(df, *a, **kw):
                i = tracer.begin("driver.fetch", orig.__name__)
                try:
                    out = orig(df, *a, **kw)
                finally:
                    tracer.end(i)
                if tracer.op is not None:
                    tracer.op.dfs.append(df)
                    if orig.__name__ == "toLocalIterator":
                        return tracer._timed_iter(out)
                    tracer.op.rows_fetched += len(out)
                return out
            return wrapper

        for name in ("collect", "toPandas", "toLocalIterator"):
            patch(DataFrame, name, fetch)

        def spark_sql(orig):
            return self._wrap(orig, "sql.spark_sql", "SparkSession.sql")
        patch(SparkSession, "sql", spark_sql)

        def parquet(orig):
            @functools.wraps(orig)
            def wrapper(*a, **kw):
                for i in tracer.stack:
                    tracer.spans[i].parquet_reads += 1
                return orig(*a, **kw)
            return wrapper
        patch(DataFrameReader, "parquet", parquet)

        from py4j import protocol
        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command
        # detach messages come from Python's garbage collector, whose
        # timing varies run to run; they are not calls the program made
        detach = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

        def counted(command, *a, **kw):
            if not command.startswith(detach):
                tracer.py4j += 1
            return send(command, *a, **kw)
        client.send_command = counted
        self._undo.append((_restore_attr, client, "send_command", None))

    def _timed_iter(self, it):
        op = self.op
        while True:
            t0 = time.perf_counter()
            try:
                row = next(it)
            except StopIteration:
                self.add_child_time("driver.fetch", "toLocalIterator.next",
                                    t0, time.perf_counter())
                return
            self.add_child_time("driver.fetch", "toLocalIterator.next",
                                t0, time.perf_counter())
            op.rows_fetched += 1
            yield row

    def uninstall(self) -> None:
        for f, obj, key, val in reversed(self._undo):
            f(obj, key, val)
        self._undo.clear()

    # ----------------------------------------------------- operations
    def start_op(self, index: int, name: str, group: str) -> None:
        self.op = OpTrace(index, name, group)
        self.ops.append(self.op)

    def finish_op(self, wall: float) -> None:
        """After the timed region: read Spark's own instrumentation."""
        op, self.op = self.op, None
        op.wall = wall
        sc = self.spark.sparkContext
        op.jobs = len(sc.statusTracker().getJobIdsForGroup(op.group))
        for df in op.dfs:
            phases = df._jdf.queryExecution().tracker().phases()   # a Scala Map
            for k in ("analysis", "optimization", "planning"):
                summary = phases.get(k)
                if summary.isDefined():
                    op.catalyst_ms[k] = op.catalyst_ms.get(k, 0) + summary.get().durationMs()
        op.dfs = []
        coll = getattr(self.spark, "_profiler_collector", None)
        if coll is not None:
            op.udf_s = sum(st.total_tt for st in coll._perf_profile_results.values())
            self.spark.profile.clear(type="perf")


def _restore_attr(obj, name, orig):
    if orig is None:
        try:
            delattr(obj, name)
        except AttributeError:
            pass
    else:
        setattr(obj, name, orig)


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals, stage and task metrics."""
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if not f.startswith(".")]
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {
        "jobs": {}, "stages": set(), "tasks_launched": 0, "tasks_ok": 0,
        "task_ms": defaultdict(list), "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
        "input_bytes": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0})
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        job_group[ev["Job ID"]] = g
                        out[g]["jobs"][ev["Job ID"]] = [ev["Submission Time"], None]
                        for s in ev.get("Stage IDs", []):
                            stage_group[s] = g
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_group:
                    out[job_group[ev["Job ID"]]]["jobs"][ev["Job ID"]][1] = ev["Completion Time"]
                elif kind == "SparkListenerTaskStart" and ev["Stage ID"] in stage_group:
                    out[stage_group[ev["Stage ID"]]]["tasks_launched"] += 1
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    g = out[stage_group[ev["Stage ID"]]]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g["stages"].add(ev["Stage ID"])
                    if ev.get("Task End Reason", {}).get("Reason") == "Success":
                        g["tasks_ok"] += 1
                    g["task_ms"][ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
                    g["run_ms"] += m.get("Executor Run Time", 0)
                    g["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += m.get("JVM GC Time", 0)
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    g["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def _overlap(a: float, b: float, ivs: list[tuple[float, float]]) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in ivs)


# ------------------------------------------------------------ accounting

def op_layers(tracer: Tracer, ev: dict[str, dict], epoch_offset: float) -> list[dict]:
    """Per-operation layer metrics. ``epoch_offset`` maps
    ``perf_counter`` to the event log's wall-clock milliseconds."""
    by_op: dict[int, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        by_op[s.op].append(s)
    rows = []
    for op in tracer.ops:
        spans = by_op.get(op.op, [])
        m: dict[str, float] = defaultdict(float)
        e = ev.get(op.group)
        jobs = _union([((a / 1000.0) - epoch_offset, (b / 1000.0) - epoch_offset)
                       for a, b in (e["jobs"].values() if e else []) if b is not None])
        self_total = 0.0
        for s in spans:
            self_s = (s.end - s.start) - s.child
            if s.layer == "driver.fetch":
                # time inside the fetch call not covered by a running job
                self_s -= _overlap(s.start, s.end, jobs)
                self_s = max(self_s, 0.0)
            self_total += (s.end - s.start) - s.child
            key = {"cli": "cli.main_s", "sql.transpile": "sql.transpile_s",
                   "sql.spark_sql": "sql.spark_sql_s", "sources": "sources.read_file_s",
                   "sources.infer": "sources.infer_s", "catalog": "catalog.load_table_s",
                   "operators": "operators.s", "datapipe": "datapipe.s",
                   "driver.fetch": "driver.fetch_s", "sinks": "sinks.write_s",
                   "build": "build.self_s"}[s.layer]
            m[key] += self_s
            if s.layer == "build":
                m["build.s"] += s.end - s.start
                m["build.py4j_calls"] += s.py4j
                m["build.eager_jobs"] += len([1 for a, _b in jobs if s.start <= a <= s.end])
            elif s.layer in ("operators", "datapipe") and (
                    s.parent < 0 or tracer.spans[s.parent].layer != s.layer):
                m[f"{s.layer}.calls"] += 1
            elif s.layer == "sql.transpile" and s.fn == "transpile":
                m["sql.transpile_py4j_calls"] += s.py4j
            elif s.layer == "sources" and s.fn == "read_file":
                m["sources.read_file_calls"] += 1
            elif s.layer == "catalog":
                m["catalog.load_table_calls"] += 1
                m["catalog.memo_hits"] += 1 if s.parquet_reads == 0 else 0
        m["self_total_s"] = self_total
        m["wall_s"] = op.wall
        for k, v in op.catalyst_ms.items():
            m[f"catalyst.{k}_ms"] = v
        m["pyworker.udf_s"] = op.udf_s
        m["driver.rows_fetched"] = op.rows_fetched
        m["sinks.rows_out"] = op.sink_rows
        m["sinks.bytes_out"] = op.sink_bytes
        m["session.release_cached_s"] = op.release_s
        m["session.persists_released"] = op.persists_released
        m["exec.jobs"] = op.jobs
        if e:
            m["exec.action_s"] = sum(b - a for a, b in jobs)
            m["exec.stages"] = len(e["stages"])
            m["exec.tasks"] = e["tasks_ok"]
            m["exec.tasks_launched"] = e["tasks_launched"]
            m["exec.task_run_ms"] = e["run_ms"]
            m["exec.task_cpu_ms"] = e["cpu_ms"]
            m["exec.task_gc_ms"] = e["gc_ms"]
            m["exec.input_bytes"] = e["input_bytes"]
            m["exec.shuffle_write_bytes"] = e["shuffle_write"]
            m["exec.shuffle_read_bytes"] = e["shuffle_read"]
            m["exec.spill_bytes"] = e["spill"]
            skews = [max(t) / statistics.median(t) for t in e["task_ms"].values()
                     if len(t) >= 2 and statistics.median(t) > 0]
            m["exec.task_skew"] = max(skews) if skews else 1.0
        rows.append({"op": op.name, "index": op.op, **m})
    return rows


# per-layer metrics of the result line: name -> unit. Additive values
# are totals per pass (every operation once); ratios are ratios of
# totals; session set-up times are per run.
UNITS = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "session.release_cached_s": "s/pass", "session.persists_released": "count/pass",
    "cli.main_s": "s/pass",
    "sql.transpile_s": "s/pass", "sql.transpile_py4j_calls": "count/pass",
    "sql.spark_sql_s": "s/pass",
    "sources.read_file_s": "s/pass", "sources.read_file_calls": "count/pass",
    "sources.infer_s": "s/pass",
    "catalog.load_table_s": "s/pass", "catalog.load_table_calls": "count/pass",
    "catalog.memo_hit_ratio": "ratio",
    "build.s": "s/pass", "build.py4j_calls": "count/pass", "build.eager_jobs": "count/pass",
    "operators.s": "s/pass", "operators.calls": "count/pass",
    "datapipe.s": "s/pass", "datapipe.calls": "count/pass",
    "catalyst.analysis_ms": "ms/pass", "catalyst.optimization_ms": "ms/pass",
    "catalyst.planning_ms": "ms/pass",
    "exec.action_s": "s/pass", "exec.jobs": "count/pass", "exec.stages": "count/pass",
    "exec.tasks": "count/pass", "exec.task_run_ms": "ms/pass",
    "exec.task_cpu_ms": "ms/pass", "exec.task_gc_ms": "ms/pass",
    "exec.input_bytes": "bytes/pass", "exec.shuffle_write_bytes": "bytes/pass",
    "exec.shuffle_read_bytes": "bytes/pass", "exec.spill_bytes": "bytes/pass",
    "exec.task_skew": "ratio", "exec.useful_task_ratio": "ratio",
    "pyworker.udf_s": "s/pass",
    "driver.fetch_s": "s/pass", "driver.rows_fetched": "count/pass",
    "sinks.write_s": "s/pass", "sinks.rows_out": "count/pass",
    "sinks.bytes_out": "bytes/pass",
    "trace.overhead_ratio": "ratio",
}
# layers each workload must exercise (value > 0), beside BYPASS
EXERCISED = {
    "tpch_library": ["catalog.load_table_calls", "build.s", "operators.calls",
                     "exec.jobs", "catalyst.optimization_ms", "driver.fetch_s"],
    "cli_files": ["cli.main_s", "sql.transpile_s", "sql.spark_sql_s",
                  "sources.read_file_calls", "sources.infer_s", "sinks.write_s"],
    "corpus_pipeline": ["datapipe.calls", "pyworker.udf_s", "build.eager_jobs"],
    "tpch_money_sums": ["catalog.load_table_calls", "build.s", "exec.jobs",
                        "catalyst.optimization_ms", "driver.fetch_s"],
}


def per_pass(per_op: list[dict], n_passes: int, setup: dict,
             overhead_ratio: float) -> dict[str, float]:
    """Workload-level per-layer metrics from the per-operation rows."""
    tot: dict[str, float] = defaultdict(float)
    for row in per_op:
        for k, v in row.items():
            if isinstance(v, (int, float)) and k != "index":
                tot[k] += v
    out: dict[str, float] = {}
    for k in UNITS:
        if UNITS[k].endswith("/pass"):
            out[k] = tot.get(k, 0.0) / max(n_passes, 1)
    out["session.get_spark_s"] = setup["get_spark_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    calls = tot.get("catalog.load_table_calls", 0.0)
    out["catalog.memo_hit_ratio"] = tot.get("catalog.memo_hits", 0.0) / calls if calls else 0.0
    launched = tot.get("exec.tasks_launched", 0.0)
    out["exec.useful_task_ratio"] = tot.get("exec.tasks", 0.0) / launched if launched else 1.0
    skews = [r["exec.task_skew"] for r in per_op if "exec.task_skew" in r]
    out["exec.task_skew"] = statistics.median(skews) if skews else 1.0
    out["trace.overhead_ratio"] = overhead_ratio
    return out


def checks(workload: str, per_op: list[dict], layer: dict[str, float]) -> list[str]:
    """Accounting checks: layer self-times fit in each operation's wall
    time, bypassed layers read zero, exercised layers read non-zero."""
    bad = [f"{r['op']}#{r['index']}: layer self-times {r['self_total_s']:.4f}s "
           f"> wall {r['wall_s']:.4f}s"
           for r in per_op if r["self_total_s"] > r["wall_s"] + 1e-3]
    bad += [f"{k} = {layer[k]} on {workload}, predicted 0"
            for k in BYPASS[workload] if layer.get(k, 0.0) != 0.0]
    bad += [f"{k} = 0 on {workload}, predicted > 0"
            for k in EXERCISED[workload] if not layer.get(k, 0.0) > 0.0]
    return bad
