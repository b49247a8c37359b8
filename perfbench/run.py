"""h2h_spark benchmark.

    python3 perfbench/run.py --workload {io,queries} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout.  One process, one SparkSession on
``local[<cores of this process>]``.  Workloads:

- ``io``: the h2h read path (FLAT with all columns and with 2 columns, a
  single-character-terminator CSV, a multi-character-terminator CSV, a
  CSV with terminators inside quotes read by the two-pass quote-parity
  reader, a row-tag XML file; each read forced with a noop write) and the
  write path (``pipe_out`` FLAT, ``pipe_out`` CSV and
  ``pipe_out_and_merge`` from a Parquet source);
- ``queries``: registered queries of ``__spark_entry__`` called the way
  ``bench.py`` calls them (clear the cache, call, noop write).

The seed fixes the generated inputs and the order of the calls.  Set-up
is session start, input generation and one untimed call of every op whose
output is checked; timing begins after it.  A run then makes enough passes
over the ops to time about ``--seconds`` on a quiet 4-core box, and at
least two; a faster program does the same work in less time.  The files
each write op leaves are checked after it, untimed.

End-to-end metrics (``--trace 0``, last stdout line):

- ``setup_s``: process start until timing begins, less the CPU probe;
- ``wall_s``: one pass, each op at its median over the run's passes;
- ``op_p50_s`` / ``op_tail_s``: median over ops, and the slowest op, of
  the per-op median latency;
- ``mb_s``: bytes one pass moves (input scanned plus bytes committed on
  ``io``, base-table Parquet in the query plans on ``queries``) over
  ``wall_s``;
- ``peak_rss_mb``: VmHWM of the driver JVM plus this process.

With ``--trace 1`` the passes run twice in one session, first with Spark's
event log detached and then attached, and the last line carries the
per-layer metrics (``layer_metrics``) from the traced passes.  The line
before the last is a JSON detail record: provenance (cores, seed,
versions, CPU probe before and after) and figures that are not metrics.
Metric names and units come from BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback

import eventlog

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("io", "queries")
#: Seconds one pass over a workload's ops takes on a quiet 4-core box.  A
#: run makes enough passes to time at least ``--seconds``, and at least
#: two, so every op has a median.
PASS_S = {"io": 6.2, "queries": 5.3}
MB = 1e6


def _process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_probe() -> float:
    """``bench.py``'s fixed single-core loop, timed: a load calibration."""
    t0 = time.perf_counter()
    x = 0
    for i in range(20_000_000):
        x += i
    return time.perf_counter() - t0


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _isolate(out: str, cpus: int, trace: bool) -> None:
    """Keep Spark, its Python workers and the engine inside ``out``, and
    put the source tree on the workers' import path."""
    for d in ("work", "ckpt", "local", "tmp", "eventlog"):
        os.makedirs(f"{out}/{d}", exist_ok=True)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["H2H_SPARK_WORK"] = f"{out}/work"
    env["H2H_SPARK_CKPT_BASE"] = f"{out}/ckpt"
    env["SPARK_LOCAL_DIRS"] = f"{out}/local"
    env["TMPDIR"] = f"{out}/tmp"
    # The session's 8g default heap is sized for big boxes; the inputs here
    # are tens of MB, and the box may be shared.
    env.setdefault("H2H_SPARK_DRIVER_MEM", "2g")
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        confs += eventlog.spark_confs(f"{out}/eventlog")
    # Every JVM spark-submit starts, its launcher included.
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={out}/tmp -XX:-UsePerfData"
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in confs) + " pyspark-shell"


class Runner:
    """Times ops under job groups and keeps one record per timed call."""

    def __init__(self, spark, ops):
        self.spark, self.ops = spark, ops
        self.records: list[dict] = []
        self.bad_ops: set[str] = set()
        self.warm_s: dict[str, float] = {}

    def warm(self) -> None:
        for op in self.ops:
            op.before()
            t0 = time.perf_counter()
            try:
                if not op.warm():
                    print(f"# perfbench: wrong output from {op.name}", file=sys.stderr)
                    self.bad_ops.add(op.name)
            except Exception:
                traceback.print_exc()
                self.bad_ops.add(op.name)
            self.warm_s[op.name] = time.perf_counter() - t0

    def passes(self, phase: str, n: int, rng: random.Random) -> None:
        sc = self.spark.sparkContext
        for p in range(n):
            for op in rng.sample(self.ops, len(self.ops)):
                group = f"{phase}:{op.name}:{p}"
                op.before()
                sc.setJobGroup(group, group)
                rec = {"phase": phase, "op": op.name, "group": group,
                       "build_s": 0.0, "exec_s": 0.0, "ok": False, "bytes": 0}
                t0 = time.perf_counter()
                try:
                    df = op.build()
                    t1 = time.perf_counter()
                    if df is not None:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    rec.update(build_s=t1 - t0, exec_s=t2 - t1)
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    rec.update(op.after())
                except Exception:
                    traceback.print_exc()
                    rec["exec_s"] = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["s"] = rec["build_s"] + rec["exec_s"]
                self.records.append(rec)

    def per_op(self, phase: str) -> dict[str, list[dict]]:
        return {op.name: [r for r in self.records if r["phase"] == phase and r["op"] == op.name]
                for op in self.ops}

    def typical_pass(self, phase: str, names=None) -> tuple[float, float]:
        """Seconds and MB of one pass over ``names`` (default: every op),
        with every op at its median."""
        ops = [rs for name, rs in self.per_op(phase).items() if names is None or name in names]
        return (sum(_median(r["s"] for r in rs) for rs in ops),
                sum(_median(r["bytes"] for r in rs) for rs in ops) / MB)

    def failed(self) -> int:
        return sum(1 for r in self.records if not r["ok"] or r["op"] in self.bad_ops)


def _timed_calls(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _microtimings(out: str, seed: int) -> dict[str, float]:
    """Layer timings outside Spark: the FLAT codec on a fixed buffer and
    ``merge_parts`` on a fixed set of parts."""
    import gen
    import workloads
    from h2h_spark.sources.merge import merge_parts

    lay = workloads.person_layout()
    buf = gen.flat_buffer(seed)
    pdf = lay.unpack(buf)
    parts, size = gen.merge_input(f"{out}/micro", seed)
    return {
        "layout.unpack_mb_s": len(buf) / MB / _timed_calls(lambda: lay.unpack(buf), 5),
        "layout.pack_mb_s": len(buf) / MB / _timed_calls(lambda: lay.pack(pdf), 5),
        "merge.mb_s": size / MB / _timed_calls(
            lambda: merge_parts(parts, f"{out}/micro/merged"), 3),
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def layer_metrics(records: list[dict], totals: dict, cpus: int,
                  fixed: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the traced phase.  A layer the workload
    bypasses reports zero."""
    import workloads

    traced = [r for r in records if r["phase"] == "traced"]

    def calls(op):
        return [r for r in traced if r["op"] == op]

    def med(op, key):
        return _median(r.get(key, 0) for r in calls(op))

    def ev(op, key):
        return _median(totals.get(r["group"], {}).get(key, 0) for r in calls(op))

    def mb_s(*ops):
        s = sum(med(o, "s") for o in ops)
        return sum(med(o, "bytes") for o in ops) / MB / s if s else 0.0

    m = dict(fixed)
    for op in ("flat", "csv", "xml"):
        m[f"{op}.exec_s"] = med(op, "exec_s")
        m[f"{op}.mb_s"] = mb_s(op)
        m[f"{op}.tasks"] = ev(op, "tasks")
    m["flat_pruned.exec_s"] = med("flat_pruned", "exec_s")
    m["csv_multichar.exec_s"] = med("csv_multichar", "exec_s")
    m["csv_multichar.tasks"] = ev("csv_multichar", "tasks")
    m["csv_split.plan_s"] = med("csv_split", "build_s")
    m["csv_split.exec_s"] = med("csv_split", "exec_s")
    m["csv_split.jobs"] = ev("csv_split", "jobs")
    m["csv_split.tasks"] = ev("csv_split", "tasks")
    m["sink.flat_write_s"] = med("pipe_out_flat", "s")
    m["sink.csv_write_s"] = med("pipe_out_csv", "s")
    m["sink.mb_s"] = mb_s("pipe_out_flat", "pipe_out_csv")
    m["sink.parts"] = med("pipe_out_flat", "parts")
    floor = [op for op in workloads.FLOOR if calls(op)]
    for key in ("build_s", "exec_s"):
        m[f"queries.floor.{key}"] = _median(med(op, key) for op in floor)
    m["queries.floor.jobs"] = _median(ev(op, "jobs") for op in floor)
    for op in workloads.TAIL:
        m[f"q.{op}.build_s"] = med(op, "build_s")
        m[f"q.{op}.exec_s"] = med(op, "exec_s")
        m[f"q.{op}.jobs"] = ev(op, "jobs")
    n = max(1, len(traced))
    agg = {k: sum(totals.get(r["group"], {}).get(k, 0) for r in traced)
           for k in eventlog.FIELDS}
    m["spark.jobs"] = agg["jobs"] / n
    m["spark.stages"] = agg["stages"] / n
    m["spark.tasks"] = agg["tasks"] / n
    m["spark.executor_run_s"] = agg["run_s"] / n
    m["spark.executor_cpu_s"] = agg["cpu_s"] / n
    m["spark.gc_s"] = agg["gc_s"] / n
    m["spark.shuffle_read_mb"] = agg["shuffle_read_b"] / MB / n
    m["spark.shuffle_write_mb"] = agg["shuffle_write_b"] / MB / n
    m["spark.spill_mb"] = agg["spill_b"] / MB / n
    wall = sum(r["s"] for r in traced)
    m["spark.core_busy_frac"] = agg["run_s"] / (wall * cpus) if wall else 0.0
    return m


def _declared(kind: str) -> dict[str, str]:
    """Metric names and units of one kind, as BENCHMARK.json declares them."""
    with open(f"{ROOT}/BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main(argv: list[str] | None = None) -> int:
    started = _process_start()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isdir(f"{ROOT}/h2h_spark") and os.path.isfile(f"{ROOT}/__spark_entry__.py")):
        print(f"perfbench: no h2h_spark source tree at {ROOT}", file=sys.stderr)
        return 2

    probe_before = _cpu_probe()
    cpus = len(os.sched_getaffinity(0))
    graft_cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    out = f"{ROOT}/.perfbench/{args.workload}"
    shutil.rmtree(out, ignore_errors=True)
    _isolate(out, cpus, bool(args.trace))
    sys.path.insert(0, ROOT)

    import pyspark

    import workloads
    from h2h_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus)
    session_s = time.perf_counter() - t0
    switch = eventlog.Switch(spark) if args.trace else None
    if switch:
        switch.off()

    final_check = None
    if args.workload == "io":
        ops, final_check = workloads.io_ops(spark, out, args.seed)
    else:
        ops = workloads.query_ops(spark, out, args.seed)
    inputs_s = time.perf_counter() - t0 - session_s
    runner = Runner(spark, ops)
    runner.warm()
    setup_s = time.time() - started - probe_before

    passes = max(2, math.ceil(args.seconds / PASS_S[args.workload]))
    runner.passes("untraced", passes, random.Random(args.seed))
    merge_s: list[float] = []
    fixed: dict[str, float] = {}
    if switch:
        import h2h_spark.api as api

        merge = api.merge_parts

        def timed_merge(*a, **k):
            t = time.perf_counter()
            try:
                return merge(*a, **k)
            finally:
                merge_s.append(time.perf_counter() - t)

        switch.on()
        api.merge_parts = timed_merge
        try:
            runner.passes("traced", passes, random.Random(args.seed))
        finally:
            api.merge_parts = merge
            switch.off()
        fixed = _microtimings(out, args.seed)
    if final_check is not None and not final_check():
        print("# perfbench: read-back check failed", file=sys.stderr)
        runner.bad_ops.update(op.name for op in ops)
    attempted, failed = len(runner.records), runner.failed()

    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(jvm.pid) if jvm else 0.0}
    peak_rss = sum(rss.values())
    _stop(spark)

    calls_s = {name: [r["s"] for r in rs] for name, rs in runner.per_op("untraced").items()}
    op_s = {name: _median(ss) for name, ss in calls_s.items()}
    pass_s, pass_mb = runner.typical_pass("untraced")
    if switch:
        fixed["session.start_s"] = session_s
        fixed["merge.s"] = _median(merge_s)
        fixed["trace.overhead_s"] = runner.typical_pass("traced")[0] - pass_s
        totals = eventlog.totals_by_group(f"{out}/eventlog")
        values = layer_metrics(runner.records, totals, cpus, fixed)
    else:
        values = {
            "setup_s": setup_s,
            "wall_s": pass_s,
            "op_p50_s": _median(op_s.values()),
            "op_tail_s": max(op_s.values()),
            "mb_s": pass_mb / pass_s,
            "peak_rss_mb": peak_rss,
        }
    units = _declared("per_layer" if args.trace else "end_to_end")
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(values) ^ set(units)}")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": passes,
        "op_tail": f"median of the slowest op, {max(op_s, key=op_s.get)}",
        "peak_rss_parts_mb": rss,
        "ops_failed_frac": failed / max(1, attempted),
        "setup_parts_s": {"session": session_s, "inputs": inputs_s,
                          "warm": sum(runner.warm_s.values())},
        "warm_s": runner.warm_s,
        "calls_s": {name: [round(x, 3) for x in ss] for name, ss in calls_s.items()},
        "nproc": os.cpu_count(), "cores_used": cpus,
        "SPARK_GRAFT_CPUS": graft_cpus_env,
        "driver_mem": os.environ["H2H_SPARK_DRIVER_MEM"],
        "scale_factor": workloads.gen.SF if args.workload == "queries" else None,
        "spark": pyspark.__version__, "python": platform.python_version(),
        "cpu_probe_s": [round(probe_before, 3), round(_cpu_probe(), 3)],
    }
    if args.workload == "io":
        for key, names in (("read_mb_s", workloads.READ_OPS), ("write_mb_s", workloads.WRITE_OPS)):
            s, mb = runner.typical_pass("untraced", names)
            detail[key] = mb / s
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
