#!/usr/bin/env python3
"""Market-data engine benchmark: one command per workload run.

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 18 --trace 0

Run from the repository root. Generates seeded inputs, launches the
engine's session (``get_spark(master="local[<nproc>]")``, default conf),
warms up, runs the workload's operations back to back for ``--seconds``,
verifies every kept output, and prints a metric table followed by one JSON
line. ``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced layer pass and reports the per-layer metrics. See README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("nightly_etl", "research_sweep", "live_ingest")


def _args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: str) -> None:
    """Keep every temporary file of the run (Python, JVM, Spark local
    dirs) inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()


def _p(values, q):
    """q-th percentile; 0.0 when every operation failed (the run then
    reports ``correct: false``)."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Run:
    """State of one benchmark run: the session, the named workload, and the
    counters and samples of its timed operations."""

    def __init__(self, args, work):
        self.args, self.work = args, work
        self.rows = self.attempted = self.failed = 0
        self.latency: list[float] = []
        self.op_wall: list[float] = []
        self.errors: list[str] = []
        self.next_op = 0

    def setup(self, spark_factory, workloads, np, master):
        t = time.perf_counter()
        self.spark = spark_factory(master=master)
        self.session_ms = (time.perf_counter() - t) * 1e3
        self.wl = self.build(workloads.WORKLOADS[self.args.workload], np)
        self.setup_s = time.perf_counter() - T_START

    def build(self, cls, np):
        """Generate a workload's inputs and warm it up."""
        t = time.perf_counter()
        wl = cls(self.spark, os.path.join(self.work, cls.name),
                 np.random.default_rng(self.args.seed))
        self.generate_ms = (time.perf_counter() - t) * 1e3
        t = time.perf_counter()
        wl.warmup()
        self.warmup_ms = (time.perf_counter() - t) * 1e3
        return wl

    def one_op(self, wl):
        """One timed operation; an exception counts as a failed op."""
        i = self.next_op
        self.next_op += 1
        self.attempted += 1
        t = time.perf_counter()
        try:
            rows, lat = wl.op(i)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return
        self.op_wall.append((time.perf_counter() - t) * 1e3)
        self.rows += rows
        self.latency += lat

    def measure(self, tree, probes):
        tree.reset()
        t = time.perf_counter()
        while True:
            self.one_op(self.wl)
            if time.perf_counter() - t >= self.args.seconds:
                break
        self.wall_s = time.perf_counter() - t
        self.peak_rss_mb = tree.peak_mb()
        self.retained_mb = (probes.jvm_live_heap_mb(self.spark)
                            + tree.python_rss_mb())

    def verify(self, wl):
        try:
            errors = wl.verify()
        except Exception:
            errors = [traceback.format_exc(limit=3)]
        self.errors += errors
        self.failed += len(errors)


def _table(rows):
    print(f"{'metric':44} {'value':>16} {'unit':>8} {'samples':>8}")
    for name, value, unit, n in rows:
        print(f"{name:44} {value:16.4f} {unit:>8} {n:8d}")


def end_to_end(run) -> dict:
    wl = run.wl
    rows = [
        ("setup_s", run.setup_s, "s", 1),
        ("rows_per_s", run.rows / run.wall_s, "rows/s", len(run.op_wall)),
        ("latency_p50_ms", _p(run.latency, 50), "ms", len(run.latency)),
        ("retained_mb", run.retained_mb, "MB", 1),
    ]
    extra = [("peak_rss_mb", run.peak_rss_mb, "MB", 1),
             ("failed_ratio", run.failed / run.attempted, "ratio",
              run.attempted)]
    if len(run.latency) >= 100:
        extra.append(("latency_p90_ms", _p(run.latency, 90), "ms",
                      len(run.latency)))
    if getattr(wl, "event_ms", None):
        extra.append(("event_sim_p50_ms", _p(wl.event_ms, 50), "ms",
                      len(wl.event_ms)))
    _table(rows + extra)
    print(f"note: {len(run.latency)} latency samples; latency_p90_ms is "
          "reported only from 100 samples")
    return {n: {"value": v, "unit": u} for n, v, u, _ in rows}


OP_SPAN = {"nightly_etl": "nightly_etl.job",
           "research_sweep": "research_sweep.request",
           "live_ingest": "live_ingest.drain"}
#: traced pass: untraced/traced op pairs of the named workload, and traced
#: ops of each other chain (five research requests include an event-driven
#: one)
PAIRS = {"nightly_etl": 1, "research_sweep": 6, "live_ingest": 1}
OTHER_TRACED = {"nightly_etl": 1, "research_sweep": 5, "live_ingest": 1}


def _paired(run, wl, tr, status, probes, m) -> list[dict]:
    """The named workload's ops, untraced and traced in alternation so a
    warm-up ramp cannot bias the overhead figure. Each untraced op runs in
    its own job group and yields the Spark and JVM figures."""
    spark = run.spark
    stats, gc, counts = [], [], []
    probes.jvm_heap_reset(spark)
    for k in range(PAIRS[wl.name]):
        group = f"untraced-{k}"
        spark.sparkContext.setJobGroup(group, f"{wl.name} op {k}")
        g0 = probes.jvm_gc_ms(spark)
        run.one_op(wl)
        gc.append(probes.jvm_gc_ms(spark) - g0)
        # a streaming query runs its jobs under its own run id
        st = status.op_stats(getattr(wl, "last_run_id", group))
        per = getattr(wl, "last_batches", 1)
        st["jobs"] /= per
        st["tasks"] /= per
        stats.append(st)
        spark.sparkContext.setJobGroup(f"traced-{k}",
                                       f"{wl.name} traced {k}")
        counts.append(wl.traced(tr, f"t{k}", status))

    def med(key):
        return statistics.median(s[key] for s in stats)
    m.update({
        "spark.exec_ms": (med("exec_ms"), "ms"),
        "spark.jobs_per_op": (med("jobs"), "count"),
        "spark.tasks_per_op": (med("tasks"), "count"),
        "spark.shuffle_read_bytes": (med("shuffle_read"), "bytes"),
        "spark.shuffle_write_bytes": (med("shuffle_write"), "bytes"),
        "spark.spill_bytes": (med("spill"), "bytes"),
        "spark.task_ms_max_over_median": (med("skew"), "ratio"),
        "jvm.gc_ms": (statistics.median(gc), "ms"),
        "jvm.heap_peak_mb": (probes.jvm_heap_peak_mb(spark), "MB"),
        "trace.overhead_pct": ((tr.median_ms(OP_SPAN[wl.name])
                                / statistics.median(run.op_wall) - 1) * 100,
                               "%"),
    })
    return counts


def per_layer(run, workloads, probes, np, spark_factory) -> dict:
    """The traced layer pass: every chain is generated, warmed and traced,
    so each layer metric is measured on every workload; the named
    workload additionally runs untraced operations for the Spark, JVM
    and overhead figures."""
    spark, tr = run.spark, probes.Tracer()
    status = probes.StatusStore(spark)
    m = {"session.start_ms": (run.session_ms, "ms"),
         "bench.generate_ms": (run.generate_ms, "ms"),
         "bench.warmup_ms": (run.warmup_ms, "ms")}
    out, chains = {}, {}
    for cls in workloads.WORKLOADS.values():
        if cls.name == run.args.workload:
            wl = run.wl
            out[cls.name] = _paired(run, wl, tr, status, probes, m)
        else:
            wl = run.build(cls, np)
            out[cls.name] = [wl.traced(tr, f"t{k}", status)
                             for k in range(OTHER_TRACED[cls.name])]
        chains[cls.name] = wl

    night, sweep, live = (out["nightly_etl"], out["research_sweep"],
                          out["live_ingest"])
    med = tr.median_ms

    def diff(a, b):
        return statistics.median(x - y for x, y in zip(tr.ms(a), tr.ms(b)))
    first = night[0]
    m.update({
        "sources.normalizer.build_ms": (med("sources.normalizer.build"), "ms"),
        "sources.normalizer.exec_ms": (med("sources.normalizer.noop"), "ms"),
        "sources.normalizer.rows_in": (first["rows_in"], "count"),
        "sources.normalizer.rows_out": (first["rows_out"], "count"),
        "operators.cleaner.build_ms": (med("operators.cleaner.build"), "ms"),
        "operators.cleaner.exec_ms": (diff("operators.cleaner.noop",
                                           "sources.normalizer.noop"), "ms"),
        "operators.cleaner.dropped_duplicate": (first["dropped_duplicate"],
                                                "count"),
        "operators.cleaner.dropped_invalid": (first["dropped_invalid"],
                                              "count"),
        "operators.cleaner.dropped_outlier": (first["dropped_outlier"],
                                              "count"),
        "operators.cleaner.exchanges": (first["exchanges"], "count"),
        "operators.cleaner.reused_exchanges": (first["reused_exchanges"],
                                               "count"),
        "operators.bars.build_ms": (med("operators.bars.build"), "ms"),
        "operators.bars.exec_ms": (diff("operators.bars.noop",
                                        "operators.cleaner.noop"), "ms"),
        "operators.bars.bars_out": (first["bars_out"], "count"),
        "sources.io.write_ms": (diff("sources.io.write",
                                     "operators.bars.noop"), "ms"),
        "sources.io.files_written": (first["files_written"], "count"),
        "sources.io.bytes_written": (first["bytes_written"], "bytes"),
        "operators.signals.build_ms": (med("operators.signals.build"), "ms"),
        "operators.backtest.build_ms": (med("operators.backtest.build"),
                                        "ms"),
        "operators.metrics.build_ms": (med("operators.metrics.build"), "ms"),
        "operators.orderbook.build_ms": (med("operators.orderbook.build"),
                                         "ms"),
        "operators.orderbook.exec_ms": (med("operators.orderbook.exec"),
                                        "ms"),
    })
    phases = [c for c in sweep if "analysis" in c]
    events = [c for c in sweep if "arrow_bytes_sent" in c]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = (statistics.median(c[ph] for c in phases),
                                  "ms")
    m["operators.orderbook.arrow_bytes_sent"] = (
        events[0]["arrow_bytes_sent"], "bytes")
    m["operators.orderbook.arrow_bytes_received"] = (
        events[0]["arrow_bytes_received"], "bytes")
    s = live[0]
    for key, unit in (("add_batch_ms", "ms"), ("query_planning_ms", "ms"),
                      ("wal_commit_ms", "ms"), ("commit_offsets_ms", "ms"),
                      ("latest_offset_ms", "ms"), ("batches", "count")):
        m[f"streaming.{key}"] = (s[key], unit)
    for key, unit in (("state_rows", "count"),
                      ("state_memory_bytes", "bytes"),
                      ("state_commit_ms", "ms"),
                      ("rows_dropped_by_watermark", "count")):
        m[f"streaming.ohlcv.{key}"] = (s[key], unit)

    # single-thread baseline: one nightly job on a fresh local[1] context
    run.verify(run.wl)
    spark.stop()
    run.spark = spark_factory(master="local[1]")
    nightly = chains["nightly_etl"]
    nightly.spark = run.spark
    t = time.perf_counter()
    nightly.op("local1", keep=False)
    m["baseline.local1_job_s"] = (time.perf_counter() - t, "s")

    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    tr.dump(os.path.join(
        ROOT, ".bench_work",
        f"spans-{run.args.workload}-seed{run.args.seed}.json"))
    _table([(k, float(v), u, 1) for k, (v, u) in m.items()])
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _shutdown(spark) -> None:
    """Stop the session, then the gateway JVM (it exits when its stdin
    closes) and wait for it; Python workers exit with it."""
    if spark is None:
        return
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    args = _args()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _isolate(work)
    run = Run(args, work)
    try:
        sys.path.insert(0, ROOT)
        try:
            import numpy as np
            from build_a_market_data_etl_strategy_backtesting_engine_spark.session import (
                get_spark,
            )
            import probes
            import workloads
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}",
                  file=sys.stderr)
            return 2
        master = f"local[{len(os.sched_getaffinity(0))}]"
        run.setup(get_spark, workloads, np, master)
        print(f"perfbench {args.workload} seed={args.seed} "
              f"seconds={args.seconds} trace={args.trace} master={master}")
        print("inputs: " + json.dumps(run.wl.info))
        print(f"setup: session {run.session_ms:.0f} ms, generate "
              f"{run.generate_ms:.0f} ms, warm-up {run.warmup_ms:.0f} ms")
        if args.trace:
            metrics = per_layer(run, workloads, probes, np, get_spark)
        else:
            run.measure(probes.ProcessTree(os.getpid()), probes)
            run.verify(run.wl)
            metrics = end_to_end(run)
        for e in run.errors:
            print("FAILED: " + e.strip().replace("\n", " | "))
        print(json.dumps({"correct": run.failed == 0,
                          "attempted": run.attempted, "failed": run.failed,
                          "metrics": metrics}))
        return 0
    finally:
        _shutdown(getattr(run, "spark", None))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
