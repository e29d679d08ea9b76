"""Benchmark of the engine: serving, cold LLM-data batches and ETL refresh.

    python3 perfbench/run.py --workload serve_headline --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench/`` in the working directory, starts a
Spark session with ``get_spark()``'s defaults (``SPARK_GRAFT_CPUS`` =
the number of usable cores) twice, each from a fresh JVM, primes the
workload, measures its closed loop for ``--seconds`` and checks every
result. The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``, which holds the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. A traced run
also writes its spans and per-layer table to ``.perfbench/traces/``.
The exit code is 0 only when every operation returned the right result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 2

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_geomean_ms": "ms",
    "latency_tail_ms": "ms",
}
PER_LAYER_UNITS = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "registry.build_ms": "ms",
    "registry.build_jobs": "count",
    "registry.cache_hit_ratio": "ratio",
    "catalyst.plan_ms": "ms",
    "scheduler.jobs_per_op": "count",
    "scheduler.stages_per_op": "count",
    "scheduler.tasks_per_op": "count",
    "scheduler.wait_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.input_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "driver.py_cpu_ms": "ms",
    "driver.unattributed_ms": "ms",
    "sheet_ingest.compile_ms": "ms",
    "sheet_ingest.load_ms": "ms",
    "sheet_ingest.rows_out": "count",
    "sinks.bytes_written": "bytes",
    "txlog.merge_ms": "ms",
    "txlog.files_added": "count",
    "txlog.files_removed": "count",
    "txlog.bytes_rewritten": "bytes",
    "txlog.stored_bytes_per_row": "bytes",
    "txlog.snapshot_ms": "ms",
    "analytics.read_ms": "ms",
    "analytics.input_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
}


def _by_type(ops: list[dict]) -> list[list[float]]:
    """Latencies in ms, grouped by operation type."""
    by_type: dict[tuple[str, str], list[float]] = {}
    for r in ops:
        by_type.setdefault((r["kind"], r["name"]), []).append(1000.0 * r["latency_s"])
    return list(by_type.values())


def _geomean(values) -> float:
    return math.exp(statistics.mean(math.log(v) for v in values))


def geomean_of_medians(ops: list[dict]) -> float:
    """Geometric mean, over operation types, of each type's median latency
    in ms. A plain median over a mix of query types lands in the gaps
    between their latency clusters and jumps from run to run."""
    return _geomean(statistics.median(v) for v in _by_type(ops))


def geomean_of_p90s(ops: list[dict]) -> float:
    """Geometric mean, over operation types, of each type's 90th
    percentile latency in ms (interpolated between its two slowest
    samples when it has few). A percentile over the whole mix lands in
    the gaps between the slowest types' latency clusters, as a plain
    median does."""
    return _geomean(
        v[0] if len(v) == 1 else statistics.quantiles(v, n=10, method="inclusive")[-1]
        for v in _by_type(ops)
    )


def throughput(ops: list[dict]) -> float:
    """Operations per second: the median, over the run's decks (serve) or
    refresh cycles (etl), of the deck's operations divided by its busy
    time per client (the sum of their latencies over the number of
    clients). Neither the benchmark's bookkeeping between operations nor
    a client idle at the end of the run counts, and a deck that a burst
    of load from other tenants slowed does not move the result."""
    clients = len({r.get("client", 0) for r in ops})
    decks: dict[int, list[float]] = {}
    for r in ops:
        decks.setdefault(r["deck"], []).append(r["latency_s"])
    return statistics.median(clients * len(v) / sum(v) for v in decks.values())


def peak_rss_mb() -> float:
    """The sum over this process and its descendants (the JVM and any
    Python workers it runs) of each one's peak resident memory (VmHWM):
    read once, so no sampler runs beside the measured loop. A process
    that has already exited is not counted."""
    me = os.getpid()
    parent: dict[int, int] = {}
    hwm: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        parent[int(pid)] = int(fields["PPid"])
        hwm[int(pid)] = int(fields.get("VmHWM", "0 kB").split()[0])
    total = 0
    for pid, kb in hwm.items():
        p = pid
        while p and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += kb
    return total / 1024.0


def _mean(ops: list[dict], key) -> float:
    vals = [key(r) for r in ops]
    return sum(vals) / len(vals) if vals else 0.0


def _span_ms(rec: dict, name: str) -> float:
    return 1000.0 * sum(s["end"] - s["start"] for s in rec["spans"] if s["name"] == name)


def _jobs_in(rec: dict, name: str) -> int:
    """Jobs submitted while span ``name`` of the operation was open."""
    spans = [s for s in rec["spans"] if s["name"] == name]
    return sum(
        1 for j in rec["jobs"] for s in spans
        if j["start"] is not None and s["start"] - 1e-3 <= j["start"] <= s["end"] + 1e-3
    )


def per_layer(ops: list[dict], setups: list[tuple[float, float]], peak_mb: float,
              overhead_ratio: float) -> dict[str, float]:
    """Per-operation means of every layer metric over the measured ops."""
    from tracing import layer_table

    def jobsum(key):
        return lambda r: sum(j[key] for j in r["jobs"])

    queries = [r for r in ops if r["kind"] == "query"]
    loads = [r for r in ops if r["kind"] == "load"]
    merges = [r for r in ops if r["kind"] == "merge"]
    reads = [r for r in ops if r["kind"] == "read"]
    m = {
        "process.peak_rss_mb": peak_mb,
        "session.start_s": statistics.median(s for s, _ in setups),
        "session.warmup_s": statistics.median(w for _, w in setups),
        "registry.build_ms": _mean(queries, lambda r: _span_ms(r, "registry.build")),
        "registry.build_jobs": _mean(queries, lambda r: _jobs_in(r, "registry.build")),
        "registry.cache_hit_ratio": _mean(queries, lambda r: float(r.get("cache_hit", False))),
        "catalyst.plan_ms": _mean(queries, lambda r: _span_ms(r, "catalyst.plan")),
        "scheduler.jobs_per_op": _mean(ops, lambda r: len(r["jobs"])),
        "scheduler.stages_per_op": _mean(ops, jobsum("stages")),
        "scheduler.tasks_per_op": _mean(ops, jobsum("tasks")),
    }
    for key in ("scheduler.wait_ms", "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
                "executor.input_bytes", "shuffle.write_bytes", "shuffle.read_bytes",
                "shuffle.spill_bytes"):
        m[key] = _mean(ops, jobsum(key))
    m["driver.py_cpu_ms"] = _mean(ops, lambda r: 1000.0 * r["py_cpu_s"])
    m["driver.unattributed_ms"] = layer_table(ops)["driver.unattributed"]
    m.update({
        "sheet_ingest.compile_ms": _mean(loads, lambda r: _span_ms(r, "sheet_ingest.compile")),
        "sheet_ingest.load_ms": _mean(loads, lambda r: _span_ms(r, "sheet_ingest.load")),
        "sheet_ingest.rows_out": _mean(loads, lambda r: r.get("rows_out", 0)),
        "sinks.bytes_written": _mean(loads, lambda r: r.get("bytes_written", 0)),
        "txlog.merge_ms": _mean(merges, lambda r: _span_ms(r, "txlog.merge")),
        "txlog.files_added": _mean(merges, lambda r: r.get("files_added", 0)),
        "txlog.files_removed": _mean(merges, lambda r: r.get("files_removed", 0)),
        "txlog.bytes_rewritten": _mean(merges, lambda r: r.get("bytes_rewritten", 0)),
        "txlog.stored_bytes_per_row": merges[-1].get("stored_bytes_per_row", 0.0) if merges else 0.0,
        "txlog.snapshot_ms": _mean(reads, lambda r: _span_ms(r, "txlog.snapshot")),
        "analytics.read_ms": _mean(reads, lambda r: _span_ms(r, "analytics.read")),
        "analytics.input_bytes": _mean(reads, jobsum("executor.input_bytes")),
        "trace.overhead_ratio": overhead_ratio,
    })
    return m


def _stop_jvm() -> None:
    """End the JVM PySpark launched (it exits when its stdin closes) and
    wait for it, so a run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Everything the run writes stays under the working directory.
    state = os.path.abspath(".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # For the launcher JVM too: temp files here, no hsperfdata file in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    threads = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(threads)
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    try:
        return _run(args, work, state, threads)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, state: str, threads: int) -> int:
    import tracing
    from workloads import WORKLOADS

    from healthcare_aihw_etl_pipeline_spark import get_spark

    paths = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    t_inputs = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed, threads)
    t_inputs = time.perf_counter() - t_inputs
    setups: list[tuple[float, float]] = []
    spark = None
    try:
        # Each set-up is what a fresh process pays before its first
        # query: launch the JVM, build the session, run one trivial job.
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
                _stop_jvm()
            t0 = time.perf_counter()
            spark = get_spark(extra_conf=paths)
            t1 = time.perf_counter()
            spark.range(1).collect()  # the session's first job
            wl.prepare(spark)
            setups.append((t1 - t0, time.perf_counter() - t1))
        t_prime = time.perf_counter()
        unmeasured = wl.prime(spark, tracing.Tracer(spark, enabled=False))
        t_prime = time.perf_counter() - t_prime
        tracer = tracing.Tracer(spark, enabled=bool(args.trace))

        def untraced() -> list[dict]:
            return wl.run(spark, tracing.Tracer(spark, enabled=False), args.seconds)

        # trace.overhead_ratio compares the traced loop with untraced ones
        # around it, so warm-up drift does not count as tracing cost. A
        # cold workload's traced loop must come first; its only untraced
        # loop then runs warm, so its ratio is not an overhead.
        base = [untraced()] if args.trace and not wl.cold else []
        t_run = time.perf_counter()
        ops = wl.run(spark, tracer, args.seconds)
        elapsed = time.perf_counter() - t_run
        if args.trace:
            base.append(untraced())
            overhead_ratio = statistics.mean(throughput(b) for b in base) / throughput(ops)
            unmeasured += [r for b in base for r in b]
        unmeasured += wl.after(spark, tracing.Tracer(spark, enabled=False))
        peak_mb = peak_rss_mb()
    finally:
        if spark is not None:
            spark.stop()
            _stop_jvm()

    wl.verify(ops + unmeasured)
    failed = [r for r in ops + unmeasured if not r["ok"]]
    for r in failed[:10]:
        print(f"FAILED {r['op']} {r['kind']} {r['name']}: {r['error'][:500]}", file=sys.stderr)
    lat = [1000.0 * r["latency_s"] for r in ops]
    print(f"{args.workload} inputs: {json.dumps(wl.inputs)}", file=sys.stderr)
    print(
        f"{args.workload}: inputs and oracle {t_inputs:.2f} s, "
        f"set-ups {' '.join(f'{s + w:.2f}' for s, w in setups)} s, prime {t_prime:.2f} s, "
        f"{len(ops)} measured ops in {elapsed:.2f} s, "
        f"p50 = {statistics.median(lat):.0f} ms, "
        f"fail_ratio = {len(failed) / len(ops + unmeasured):.4f}",
        file=sys.stderr,
    )
    by_name: dict[str, list[float]] = {}
    for r in ops:
        by_name.setdefault(f"{r['kind']}:{r['name']}", []).append(1000.0 * r["latency_s"])
    print("median ms per operation: " + ", ".join(
        f"{k} {statistics.median(v):.0f} (n={len(v)})" for k, v in sorted(by_name.items())
    ), file=sys.stderr)
    if args.trace:
        values = per_layer(ops, setups, peak_mb, overhead_ratio)
        units = PER_LAYER_UNITS
        traces = os.path.join(state, "traces")
        os.makedirs(traces, exist_ok=True)
        stem = os.path.join(traces, f"{args.workload}-seed{args.seed}")
        tracer.write(stem + ".spans.json")
        with open(stem + ".layers.json", "w") as f:
            json.dump({"layers_ms_per_op": tracing.layer_table(ops),
                       "latency_ms_per_op": statistics.mean(lat), "metrics": values}, f, indent=1)
    else:
        values = {
            "setup_s": statistics.median(s + w for s, w in setups),
            "ops_per_s": throughput(ops),
            "latency_geomean_ms": geomean_of_medians(ops),
            "latency_tail_ms": geomean_of_p90s(ops),
        }
        units = END_TO_END_UNITS
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops) + len(unmeasured),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
