"""Benchmark entry point.

    python3 octobench/run.py --workload tpch_library --seed 1 --seconds 5 --trace 0

One fresh process per run, from the root of a source checkout:

1. generate the workload's inputs from ``--seed`` (not timed);
2. set up: import the program, start Spark at ``local[nproc]`` through
   ``session.get_spark`` and run one warm-up action (``setup_s``);
3. an untimed warm-up pass over every operation on nproc client
   threads, while a child process computes every operation's expected
   output with DuckDB;
4. one closed-loop client runs the workload's fixed number of full
   passes in a seeded fixed order (``--seconds`` is accepted and not
   used: the passes take longer). Each output is checked against
   DuckDB outside the timed region; an exception, a timeout or a
   wrong answer counts as a failed operation, and the run still
   finishes;
5. with ``--trace 1``, one pass in which every operation also runs with
   the layer tracer installed (``layertrace``), and per-layer metrics in
   place of the end-to-end ones.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
Per-operation details go to ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import importlib.util
import io
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import layertrace
import ops as wl

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

OP_TIMEOUT_S = 20.0       # an operation running longer is cancelled and failed
MEASURE_CUTOFF_S = 140.0  # start no operation this long after process start
# Driver heap cap, below the program's 8g default: with a large heap
# the JVM's resident size depends on when the collector happens to run,
# and the machine's memory is shared.
DRIVER_MEM = "1g"


def _since_process_start() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _reset_hwm(pid: int | str) -> None:
    """Restart a process's VmHWM from its current resident size."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(walls: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it, and
    which percentile that is."""
    s = sorted(walls)
    if len(s) <= 10:
        return s[-1], 100.0
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


class Runner:
    """Runs operations one at a time, each under its own job group.
    With a tracer, every operation runs twice in a row, untraced and
    traced, in alternating order, so ``trace.overhead_ratio`` compares
    neighbours rather than an early and a late pass."""

    def __init__(self, spark, ops, order, tracer=None):
        self.spark, self.ops, self.order = spark, ops, order
        self.tracer = tracer
        self.records: list[dict] = []
        self.traced_records: list[dict] = []
        self.last_out: dict[str, object] = {}

    def run_op(self, op, traced: bool = False) -> None:
        from octosql_spark import session
        sc = self.spark.sparkContext
        index = len(self.records) + len(self.traced_records)
        group = f"ob-{index}"
        tr = self.tracer if traced else None
        if tr:
            self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tr.install()
            tr.start_op(index, op.name, group)
        gc.collect()   # no collector pause from earlier operations inside the timed region
        sc.setJobGroup(group, op.name, True)
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, [group])
        timer.daemon = True
        timer.start()
        err, out = None, None
        t0 = time.perf_counter()
        try:
            df = None
            if op.build is not None:
                b = tr.begin("build", op.name) if tr else None
                try:
                    df = op.build()
                finally:
                    if tr:
                        tr.end(b)
            out = op.action(df)
        except Exception:  # noqa: BLE001 - one operation's failure is recorded, the run goes on
            err = traceback.format_exc(limit=3)
        wall = time.perf_counter() - t0
        timer.cancel()
        sc._jsc.clearJobGroup()
        if tr:
            tr.uninstall()
            try:
                tr.finish_op(wall)
            except Exception:  # noqa: BLE001 - a reading the tracer cannot take fails the run
                tr.errors.append(traceback.format_exc(limit=3))
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
        t1 = time.perf_counter()
        released = session.release_cached(self.spark)
        if tr:
            tr.ops[-1].release_s = time.perf_counter() - t1
            tr.ops[-1].persists_released = released
        problems = [err] if err else []
        if not err:
            try:
                problems = op.check(out)
            except Exception:  # noqa: BLE001 - an output the check cannot read is wrong
                problems = [traceback.format_exc(limit=3)]
            self.last_out[op.name] = out
            if tr and isinstance(out, tuple):
                tr.ops[-1].sink_bytes = len(out[1].encode())
                tr.ops[-1].sink_rows = wl.sink_rows(op.name, out)
        (self.traced_records if traced else self.records).append(
            {"op": op.name, "wall_s": wall, "ok": not problems, "completed": err is None,
             "problems": [p[-2000:] for p in problems]})

    def passes(self, n_passes: int) -> int:
        """``n_passes`` full passes; with a tracer, one pass of
        untraced and traced pairs. Returns the number of passes run."""
        n_passes = 1 if self.tracer else n_passes
        for done in range(n_passes):
            for k, i in enumerate(self.order):
                if _since_process_start() > MEASURE_CUTOFF_S:
                    print("cut-off reached: the last pass is incomplete", file=sys.stderr)
                    return done + 1
                if self.tracer is None:
                    self.run_op(self.ops[i])
                    continue
                first = k % 2 == 1
                self.run_op(self.ops[i], traced=first)
                self.run_op(self.ops[i], traced=not first)
        return n_passes


def warm_up(spark, ops, workdir: str, threads: int) -> list[str]:
    """One untimed pass over every operation, run on ``threads`` client
    threads. It takes each query's cold first execution out of the
    timed passes: what warms up is codegen, class loading, the JIT and
    the Python workers, not any result, so outputs are not checked. A
    CLI command changes the cwd and redirects stdout, both process-wide;
    the pass runs inside one chdir and one redirect of its own, so
    whatever order the threads restore theirs in, they restore to these."""
    from octosql_spark import session
    errors: list[str] = []

    def one(op):
        try:
            op.action(op.build() if op.build else None)
        except Exception as ex:  # noqa: BLE001 - warm-up failures show up again when timed
            errors.append(f"{op.name}: {ex!r}"[:500])

    cwd = os.getcwd()
    os.chdir(workdir)
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            with ThreadPoolExecutor(max_workers=threads) as pool:
                list(pool.map(one, ops))
    finally:
        os.chdir(cwd)
    session.release_cached(spark)
    return errors


def op_median(records: list[dict]) -> float:
    """The median over operations of each operation's median wall time.
    The operations' times are far apart, so the plain median of all
    samples falls between two operations' samples and jumps between
    them from run to run; this one moves only with the operations."""
    by_op: dict[str, list[float]] = {}
    for r in records:
        by_op.setdefault(r["op"], []).append(r["wall_s"])
    return statistics.median(statistics.median(w) for w in by_op.values())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)   # the program and tools/ of the checkout
    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    if importlib.util.find_spec("octosql_spark") is None:
        print("octosql_spark is not importable from the checkout root", file=sys.stderr)
        return 2

    cwd = os.getcwd()
    work = os.path.join(cwd, ".bench_work", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("data", "tmp", "local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, d))
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc), "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no /tmp/hsperfdata_* file from the JVMs: write only inside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })

    # -------------------------------------------------- inputs (untimed)
    pre_setup_s = _since_process_start()
    t = time.perf_counter()
    data = os.path.join(work, "data")
    sizes = wl.generate(args.workload, data, args.seed)
    gen_s = time.perf_counter() - t

    # ------------------------------------------------------------ setup
    t = time.perf_counter()
    from octosql_spark import session
    import_s = time.perf_counter() - t
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
    }
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work}/eventlog",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t = time.perf_counter()
    spark = session.get_spark("octobench", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    warmup_s = time.perf_counter() - t
    setup_s = pre_setup_s + import_s + get_spark_s + warmup_s
    jvm = spark.sparkContext._gateway.proc

    try:
        return _measure(args, spark, data, sizes, nproc, work, {
            "pre_setup_s": pre_setup_s, "import_s": import_s, "gen_s": gen_s,
            "get_spark_s": get_spark_s, "warmup_s": warmup_s, "setup_s": setup_s})
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()       # no py4j calls from finalizers after this
        if jvm is not None:
            jvm.stdin.close()    # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:   # still running: kill and reap it
                jvm.kill()
                jvm.wait()
        for d in ("data", "tmp", "local", "warehouse"):   # keep details and event log
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def _measure(args, spark, data, sizes, nproc, work, setup) -> int:
    expected: dict = {}
    ops = wl.make_ops(args.workload, spark, data, expected)
    order = list(range(len(ops)))
    random.Random(args.seed).shuffle(order)

    # DuckDB runs in a child process, so its memory stays out of
    # peak_rss_mb; it writes every expected output to a pickle.
    oracle_path = os.path.join(work, "oracles.pkl")
    t = time.perf_counter()
    child = subprocess.Popen([sys.executable, os.path.join(HERE, "ops.py"),
                              args.workload, data, str(nproc), oracle_path])
    try:
        warm_errors = warm_up(spark, ops, wl.data_dir(args.workload, data), nproc)
        rc = child.wait(timeout=max(1.0, MEASURE_CUTOFF_S - _since_process_start()))
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
    warm_pass_s = time.perf_counter() - t
    if rc != 0:
        print(f"oracle process exited with {rc}", file=sys.stderr)
        return 3
    with open(oracle_path, "rb") as f:
        expected.update(pickle.load(f))

    # peak_rss_mb is the peak of the timed passes, not of input
    # generation or the concurrent warm-up
    gc.collect()
    jvm_pid = spark.sparkContext._gateway.proc.pid
    _reset_hwm("self")
    _reset_hwm(jvm_pid)

    tracer = layertrace.Tracer(spark) if args.trace else None
    runner = Runner(spark, ops, order, tracer)
    epoch_offset = time.time() - time.perf_counter()
    n_passes = runner.passes(wl.PASSES)
    records, traced_records = runner.records, runner.traced_records

    # self-test: a planted wrong answer must be counted as a failure
    planted_caught = sum(1 for op in ops if op.name in runner.last_out
                         and op.check(wl.plant_wrong(runner.last_out[op.name])))
    planted = sum(1 for op in ops if op.name in runner.last_out)

    peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)

    walls = [r["wall_s"] for r in records]
    attempted = records + traced_records
    failed = sum(1 for r in attempted if not r["ok"])
    p50 = op_median(records) if records else 0.0
    tail_s, tail_pct = tail(walls) if walls else (0.0, 0.0)
    total = sum(walls)
    e2e = {  # failed_ratio is `failed / attempted` in the result line
        "setup_s": (setup["setup_s"], "s"),
        "op_p50_s": (p50, "s"),
        "op_tail_s": (tail_s, "s"),
        "ops_per_s": (sum(r["completed"] for r in records) / total if total else 0.0, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    details = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "nproc": nproc, "input_sizes": sizes, "setup": setup,
        "warm_pass_s": warm_pass_s, "warm_up_errors": warm_errors,
        "passes": n_passes, "samples": len(walls),
        "failed_ratio": failed / len(attempted) if attempted else 1.0,
        "op_tail_percentile": tail_pct, "order": [ops[i].name for i in order],
        "self_test": {"planted": planted, "caught": planted_caught},
        "end_to_end": {k: v[0] for k, v in e2e.items()},
        "operations": records,
    }
    correct = failed == 0 and planted > 0 and planted_caught == planted

    if tracer is not None:
        spark.stop()   # closes the event log
        ev = layertrace.read_event_log(os.path.join(work, "eventlog"))
        per_op = layertrace.op_layers(tracer, ev, epoch_offset)
        layer = layertrace.per_pass(per_op, n_passes, setup,
                                    op_median(traced_records) / p50)
        checks = layertrace.checks(args.workload, per_op, layer)
        details.update({"per_layer": layer, "per_op_layers": per_op,
                        "layer_checks": checks, "tracer_errors": tracer.errors,
                        "traced_operations": traced_records,
                        "spans": [vars(s) for s in tracer.spans]})
        correct = correct and not checks and not tracer.errors
        metrics = {k: {"value": v, "unit": layertrace.UNITS[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    path = os.path.join(work, "details.json")
    with open(path, "w") as f:
        json.dump(details, f, indent=1, default=str)
    print(f"{args.workload} seed={args.seed}: {len(walls)} ops in {n_passes} passes, "
          f"{failed} failed, tail=p{tail_pct:.0f}; details in {path}", file=sys.stderr)
    for r in attempted:
        if not r["ok"]:
            print(f"FAILED {r['op']}: {r['problems'][0][-600:]}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": len(attempted), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
