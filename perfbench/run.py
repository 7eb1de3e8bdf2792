"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload flight_batch --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. One process drives one
``local[nproc]`` SparkSession from one thread; operations run one after
another (closed loop). A run:

1. starts the session and generates its inputs from ``--seed``;
2. runs one untimed warm-up pass (counted in ``setup_s``);
3. repeats timed passes until ``--seconds`` have passed and at least
   two have run;
4. checks the outputs against independent oracles (untimed);
5. prints a summary line, then the result as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
pass: after each one it reads Spark's status store and the streaming
progress, builds spans (workload -> pass -> query -> build / exec ->
job -> stage; pipeline -> trigger -> phase), and at the end writes them
to ``.perfbench_work/traces/`` and reports the per-layer metrics.
Inside a pass tracing only samples the cached bytes after each
operation; ``trace.overhead_ratio`` is pass wall time over pass wall
time minus that sampling time.
Workload and metric definitions are in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "big_data_flight_analytics_spark"
ALL_WORKLOADS = ("flight_batch", "flight_stream", "catalog_heavy")
MIN_PASSES = 2


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, -(-len(xs) * q // 100) - 1))
    return float(xs[int(k)])


def op_geomean(ops) -> float:
    """Geometric mean over operation names of each name's fastest wall
    time: every query weighs the same, however long it runs."""
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.wall_s)
    return math.exp(statistics.fmean(
        math.log(min(v)) for v in by_name.values()))


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def start_session(work: str, nproc: int):
    from big_data_flight_analytics_spark.session import session_builder

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        session_builder(app_name="perfbench", master=f"local[{nproc}]",
                        shuffle_partitions=nproc)
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stops Spark and waits for its JVM, which exits once its stdin
    closes; Python workers end with it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


# --- per-layer metrics ----------------------------------------------------

def declared_metrics(key: str) -> dict[str, str]:
    """Name -> unit of the metrics ``BENCHMARK.json`` lists under ``key``
    (``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


PHASE_METRIC = {"latestOffset": "latest_offset", "walCommit": "wal_commit",
                "getBatch": "get_batch", "queryPlanning": "query_planning",
                "addBatch": "add_batch", "commitOffsets": "commit_offsets"}
PYTHON_METRICS = {"python.udf_s": "time to run Python workers",
                  "python.bytes_to_worker": "data sent to Python workers",
                  "python.rows_from_worker": "number of output rows"}


def trace_pass(p, snap, trace, nproc: int, wl_span: int) -> dict[str, float]:
    """Spans and per-layer values of one traced pass."""
    import workloads
    from status import STAGE_COUNTERS

    m: dict[str, float] = {}
    pw = snap.window(p.start, p.end)
    pid = trace.add("pass", p.start, p.end, wl_span)
    m["spark.jobs"] = len(pw.jobs)
    m["spark.stages"] = len(pw.stages)
    m["spark.tasks"] = pw.tasks
    m["spark.sql_executions"] = len(pw.sql)
    for c in STAGE_COUNTERS:
        m[f"spark.{c}"] = pw.counter(c)
    m["spark.busy_ratio"] = pw.counter("executor_run_s") / (p.wall_s * nproc)
    m["driver.self_s"] = pw.driver_self_s
    for key, spark_name in PYTHON_METRICS.items():
        m[key] = pw.python(spark_name)
    m["cache.stored_bytes_peak"] = p.info.get("storage_peak", 0)

    def job_spans(parent: int, lo: float, hi: float) -> None:
        placed = set()
        for j in snap.window(lo, hi).jobs:
            jid = trace.add(f"job {j.id}", j.start, j.end, parent)
            for sid in j.stage_ids:
                st = snap.stages.get(sid)
                if st and st.start and sid not in placed:
                    placed.add(sid)
                    trace.add(f"stage {sid}", st.start, st.end or j.end, jid,
                              tasks=st.tasks, **st.counters)

    build = exec_ = exchanges = 0.0
    for op in p.ops:
        if op.build_end is None:
            continue
        w = snap.window(op.start, op.end)
        oid = trace.add(op.name, op.start, op.end, pid, jobs=len(w.jobs),
                        exchanges=w.exchanges)
        bid = trace.add("build", op.start, op.build_end, oid)
        eid = trace.add("exec", op.build_end, op.end, oid)
        job_spans(bid, op.start, op.build_end)
        job_spans(eid, op.build_end, op.end)
        b, e = op.build_end - op.start, op.end - op.build_end
        m[f"query.{op.name}.build_s"] = b
        m[f"query.{op.name}.exec_s"] = e
        m[f"query.{op.name}.jobs"] = len(w.jobs)
        build, exec_, exchanges = build + b, exec_ + e, exchanges + w.exchanges
    if build + exec_ > 0:
        m["plans.build_s"], m["plans.exec_s"] = build, exec_
        m["plans.build_share"] = build / (build + exec_)
        m["plan.exchanges"] = exchanges
    for st in p.steps:
        sid = trace.add(st.name, st.start, st.end, pid)
        if st.name == "etl":
            job_spans(sid, st.start, st.end)
            m["sources.etl_s"] = st.wall_s
            m["sources.etl_bytes_written"] = p.info["etl_bytes"]
            m["sources.etl_files_written"] = p.info["etl_files"]
            m["sources.result_bytes_written"] = p.info["result_bytes"]
        if st.name in workloads.PIPELINES:
            m[f"stream.{st.name}.events_per_s"] = st.info["events"] / st.wall_s
            for op in (o for o in p.ops if o.name == st.name):
                tid = trace.add("trigger", op.start, op.end, sid,
                                batch=op.info["batchId"],
                                rows=op.info["numInputRows"])
                t = op.start
                for ph in workloads.PHASES:
                    d = op.info["durationMs"].get(ph, 0) / 1e3
                    trace.add(ph, t, t + d, tid)
                    t += d
    if p.steps and p.steps[0].name in workloads.PIPELINES:
        m.update(stream_layer(p.ops))
        m["stream.output_rows"] = p.info["sink_rows"]
    return m


def stream_layer(ops) -> dict[str, float]:
    import workloads

    m = {"stream.triggers": len(ops)}
    for ph in workloads.PHASES:
        m[f"stream.{PHASE_METRIC[ph]}_ms_p50"] = median(
            o.info["durationMs"].get(ph, 0) for o in ops)
    stateful = [o for o in ops if o.info["stateOperators"]]
    m["stream.state_commit_ms_p50"] = median(
        sum(s["commitTimeMs"] for s in o.info["stateOperators"])
        for o in stateful)
    m["stream.state_memory_bytes"] = max(
        (sum(s["memoryUsedBytes"] for s in o.info["stateOperators"])
         for o in stateful), default=0)
    last = {}
    for o in stateful:
        last[o.name] = o
    m["stream.state_rows"] = sum(
        s["numRowsTotal"] for o in last.values()
        for s in o.info["stateOperators"])
    m["stream.rows_dropped_by_watermark"] = sum(
        s["numRowsDroppedByWatermark"] for o in stateful
        for s in o.info["stateOperators"])
    return m


# --- the run --------------------------------------------------------------

class StorageSampler:
    """Cached-bytes probe called after each traced operation; keeps the
    time it spends, which is the tracing cost inside a pass."""

    def __init__(self, reader) -> None:
        self.reader = reader
        self.spent = 0.0

    def __call__(self) -> int:
        t0 = time.perf_counter()
        try:
            return self.reader.storage_bytes()
        finally:
            self.spent += time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help=f"one of {', '.join(ALL_WORKLOADS)}, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload == "all":
        # each workload in its own process, so each pays its own set-up
        rc = 0
        for name in ALL_WORKLOADS:
            rc |= subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 name, "--seed", str(args.seed), "--seconds",
                 str(args.seconds), "--trace", str(args.trace)]).returncode
        return rc
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Python workers (mapInPandas) import the package: they inherit this
    # environment from the JVM, which inherits it from this process
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import workloads
    from status import StatusReader
    from spans import Trace

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    load_before = loadavg()
    t0 = time.time()
    spark = start_session(work, nproc)
    session_s = time.time() - t0
    try:
        reader = StatusReader(spark)
        sampler = StorageSampler(reader) if args.trace else None
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed,
                                                storage=sampler)
        setup = wl.setup()
        t0 = time.time()
        wl.run_pass()  # warm-up: JIT, codegen and caches
        warmup_s = time.time() - t0
        setup_s = session_s + sum(setup.values()) + warmup_s

        trace = Trace()
        layer: list[dict[str, float]] = []
        passes = []
        deadline = time.time() + args.seconds
        while len(passes) < MIN_PASSES or time.time() < deadline:
            if sampler:
                sampler.spent = 0.0
            p = wl.run_pass()
            passes.append(p)
            if sampler:
                # the status store is read after the pass, outside it;
                # inside it tracing costs only the storage samples
                p.info["trace_s"] = sampler.spent
                snap = reader.snapshot(p.start, p.end)
                span = trace.add(args.workload, p.start, p.end,
                                 seed=args.seed)
                layer.append(trace_pass(p, snap, trace, nproc, span))
        t0 = time.time()
        attempted, errors = wl.check()
        check_s = time.time() - t0
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
    finally:
        stop_session(spark)
    load_after = loadavg()

    ops = [o for p in passes for o in p.ops]
    attempted += len(ops) + sum(len(p.steps) for p in passes)
    failed = len(errors)
    # the fastest pass: other tenants of a shared host only add time
    pass_s = min(p.wall_s for p in passes)
    if args.trace:
        units = declared_metrics("per_layer")
        values = dict.fromkeys(units, 0.0)
        for name in units:
            got = [m[name] for m in layer if name in m]
            if got:
                values[name] = (max(got) if name.endswith("_peak")
                                else median(got))
        if ops and ops[0].build_end is None:
            values["stream.trigger_p50_ms"] = 1e3 * median(
                o.wall_s for o in ops)
            values["stream.trigger_p90_ms"] = 1e3 * percentile(
                [o.wall_s for o in ops], 90)
        wall = sum(p.wall_s for p in passes)
        values.update({
            "bench.input_gen_s": setup.get("input_gen_s", 0.0),
            "bench.lookups_s": setup.get("lookups_s", 0.0),
            "bench.warmup_s": warmup_s,
            "session.start_s": session_s,
            "driver.peak_rss_mb": peak_rss_mb,
            "trace.overhead_ratio": wall / (
                wall - sum(p.info["trace_s"] for p in passes)),
        })
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in units.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"),
                    exist_ok=True)
        trace.write(os.path.join(
            ROOT, ".perfbench_work", "traces",
            f"{args.workload}-seed{args.seed}.json"))
    else:
        values = {"setup_s": setup_s, "pass_s": pass_s,
                  "op_geomean_ms": 1e3 * op_geomean(ops)}
        metrics = {n: {"value": values[n], "unit": u}
                   for n, u in declared_metrics("end_to_end").items()}
    for e in errors:
        print(f"perfbench: MISMATCH {e}", file=sys.stderr)
    summary = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "loadavg_1m_before": load_before, "loadavg_1m_after": load_after,
        "setup": {"session_start_s": session_s, **setup,
                  "warmup_s": warmup_s},
        "pass_walls_s": [p.wall_s for p in passes],
        "passes": len(passes), "operations": len(ops),
        "fail_ratio": failed / attempted,
        "op_p90_ms": 1e3 * percentile([o.wall_s for o in ops], 90),
        "op_samples": len(ops),
        "op_p50_ms": 1e3 * median(o.wall_s for o in ops),
        "check_s": check_s,
        "peak_rss_mb": peak_rss_mb,
    }
    print("perfbench summary: " + json.dumps(summary))
    print("perfbench metrics: " + "  ".join(
        f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
