"""The three workloads, each driven only through the engine's public calls.

A workload object generates its inputs when built (the benchmark's own
generator; the engine sees only the files), then offers

* ``op(i)``: one timed operation, untraced; returns the number of input
  rows it consumed and its latency samples in ms;
* ``traced(tracer, i)``: the same operation with a span around every
  public call, per-layer execution times from ``noop``-sink prefixes, and
  the layer counts;
* ``verify()``: untimed checks of every output kept by ``op``; returns a
  list of failure messages, one per failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from build_a_market_data_etl_strategy_backtesting_engine_spark.operators import (
    backtest, metrics, orderbook, signals,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.bars import (
    ticks_to_ohlcv,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.operators.cleaner import (
    clean_pipeline, deduplicate, validate_prices,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.io import (
    write_parquet,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.sources.normalizer import (
    normalize_trades,
)
from build_a_market_data_etl_strategy_backtesting_engine_spark.streaming.pipeline import (
    BAR_SCHEMA, start_bar_stage,
)

import gen
import probes
import reference

# Input sizes. Chosen so that one run (JVM launch, inputs, warm-up, an
# 18 s window and verification) stays near 50 s on a 4-core box.
SIZES = {
    "nightly_etl": dict(n_symbols=20, n_ticks=60_000, minutes=390,
                        zipf_s=1.1, dup_share=0.02, nonpos_share=0.005,
                        jump_share=0.002),
    "research_sweep": dict(n_symbols=8, bars_per_symbol=500),
    "live_ingest": dict(n_symbols=10, n_ticks=40_000, minutes=120,
                        zipf_s=1.1, dup_share=0.02, nonpos_share=0.005,
                        jump_share=0.002, files=12, disorder_rows=16),
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _count_nodes(names: list[str]) -> tuple[int, int]:
    exch = sum(n in ("Exchange", "BroadcastExchange") for n in names)
    return exch, sum(n == "ReusedExchange" for n in names)


class NightlyEtl:
    """Closed loop of back-to-back batch jobs over one tick archive:
    read text -> normalize -> clean -> 1-minute bars -> partitioned parquet."""

    name = "nightly_etl"

    def __init__(self, spark, root: str, rng: np.random.Generator):
        self.spark, self.root = spark, root
        self.info = gen.tick_archive(rng, os.path.join(root, "in"),
                                     **SIZES[self.name])
        self.path = self.info["path"]
        self.outputs: list[str] = []

    def _bars(self):
        ticks = normalize_trades(self.spark.read.text(self.path))
        clean = clean_pipeline(ticks, dedup_subset=["symbol", "ts"],
                               outlier_method="iqr")
        return ticks_to_ohlcv(clean, "1min", tiebreaker="price")

    def warmup(self) -> None:
        # the first job is ~3x a steady one; the second still ~1.1x
        for k in range(2):
            self.op(f"warmup{k}", keep=False)

    def _out(self, i) -> str:
        return os.path.join(self.root, "out", f"job{i}")

    def op(self, i: int, keep: bool = True) -> tuple[int, list[float]]:
        t = time.perf_counter()
        write_parquet(self._bars(), self._out(i), partition_by=["symbol"])
        ms = (time.perf_counter() - t) * 1e3
        if keep:
            self.outputs.append(self._out(i))
        return self.info["ticks"], [ms]

    def traced(self, tr: probes.Tracer, i: int, status: probes.StatusStore
               ) -> dict:
        op = f"{self.name}-{i}"
        with tr.span("nightly_etl.job", op):
            with tr.span("sources.normalizer.build", op):
                raw = self.spark.read.text(self.path)
                ticks = normalize_trades(raw)
            with tr.span("operators.cleaner.build", op):
                clean = clean_pipeline(ticks, dedup_subset=["symbol", "ts"],
                                       outlier_method="iqr")
            with tr.span("operators.bars.build", op):
                bars = ticks_to_ohlcv(clean, "1min", tiebreaker="price")
            # every noop re-executes its whole prefix from the file, so the
            # order is free: the cleaner's goes last so that its plan is
            # the latest SQL execution once the span has closed
            with tr.span("sources.normalizer.noop", op):
                _noop(ticks)
            with tr.span("operators.bars.noop", op):
                _noop(bars)
            with tr.span("sources.io.write", op):
                write_parquet(bars, self._out(f"t{i}"), partition_by=["symbol"])
            with tr.span("operators.cleaner.noop", op):
                _noop(clean)
        clean_plan = status.last_sql_nodes()
        # counts at the same boundaries, outside the timed spans
        dedup = deduplicate(ticks, subset=["symbol", "ts"], keep="first",
                            order_col="ts")
        n_raw, n_ticks, n_dedup = raw.count(), ticks.count(), dedup.count()
        n_valid = validate_prices(dedup)[0].count()
        n_clean = clean.count()
        files = [os.path.join(d, f) for d, _, fs in
                 os.walk(self._out(f"t{i}")) for f in fs
                 if f.endswith(".parquet")]
        exch, reused = _count_nodes(clean_plan)
        return {
            "rows_in": n_raw, "rows_out": n_ticks,
            "dropped_duplicate": n_ticks - n_dedup,
            "dropped_invalid": n_dedup - n_valid,
            "dropped_outlier": n_valid - n_clean,
            "exchanges": exch, "reused_exchanges": reused,
            "bars_out": bars.count(), "files_written": len(files),
            "bytes_written": sum(os.path.getsize(f) for f in files),
        }

    def verify(self) -> list[str]:
        want = reference.nightly_bars(self.path)
        errors = []
        for out in self.outputs:
            err = reference.same_frame(reference.read_bars(out), want)
            if err:
                errors.append(f"{out}: {err}")
            shutil.rmtree(out)
        return errors


class ResearchSweep:
    """Interactive closed loop: one client sends seeded strategy requests
    over a fixed bar set and waits for each reply. Half of the parameter
    sets come from a small repeated pool, half are fresh; every
    ``EVENT_EVERY``-th request runs the event-driven engine instead."""

    name = "research_sweep"
    #: the first request is ~10x a steady one (cold JIT and Catalyst
    #: paths) and latency keeps falling for dozens of requests; after
    #: fifteen (three of them event-driven) it is within ~1.2x of flat
    WARMUP_REQUESTS = 15
    EVENT_EVERY = 5
    CHECK_SHARE = 0.3

    def __init__(self, spark, root: str, rng: np.random.Generator):
        self.spark = spark
        self.info = gen.bar_parquet(rng, os.path.join(root, "in"),
                                    **SIZES[self.name])
        self.bars = spark.read.schema(BAR_SCHEMA).parquet(self.info["path"])
        self.rng = rng
        self.sent = 0
        self.pool = [self._fresh() for _ in range(6)]
        self.kept: list[tuple[dict, object]] = []
        self.event_ms: list[float] = []

    def warmup(self) -> None:
        for _ in range(self.WARMUP_REQUESTS):
            self.op("warmup", keep=False)
        self.event_ms.clear()

    def _fresh(self) -> dict:
        r = self.rng
        strategy = ("mean_reversion", "momentum", "ma_cross")[r.integers(3)]
        if strategy == "mean_reversion":
            p = {"n": int(r.integers(10, 61)),
                 "num_std": round(float(r.uniform(1.0, 2.5)), 2)}
        elif strategy == "momentum":
            p = {"lookback": int(r.integers(5, 61)),
                 "threshold": round(float(r.uniform(0.0, 0.01)), 4)}
        else:
            p = {"fast": int(r.integers(5, 21)),
                 "slow": int(r.integers(25, 101))}
        return {"strategy": strategy, "params": p}

    def request(self) -> dict:
        """The next request of the seeded stream."""
        req = dict(self.pool[self.rng.integers(len(self.pool))]
                   if self.rng.random() < 0.5 else self._fresh())
        self.sent += 1
        req["event"] = self.sent % self.EVENT_EVERY == 0
        req["check"] = bool(self.rng.random() < self.CHECK_SHARE)
        return req

    def _signal(self, req):
        p = req["params"]
        if req["strategy"] == "mean_reversion":
            return signals.mean_reversion_signal(self.bars, n=p["n"],
                                                 num_std=p["num_std"])
        if req["strategy"] == "momentum":
            return signals.momentum_signal(self.bars, lookback=p["lookback"],
                                           threshold=p["threshold"])
        return signals.ma_cross_signal(self.bars, fast=p["fast"],
                                       slow=p["slow"])

    def op(self, i: int, keep: bool = True) -> tuple[int, list[float]]:
        """One request. Vectorized requests return their latency; the
        event-driven ones are recorded in ``event_ms`` instead."""
        req = self.request()
        t = time.perf_counter()
        if req["event"]:
            rows = orderbook.event_driven_backtest(self._signal(req)).collect()
        else:
            res = backtest.backtest_signals(self._signal(req))
            rows = metrics.compute_metrics(res).collect()
        ms = (time.perf_counter() - t) * 1e3
        if keep and req["check"]:
            self.kept.append((req, rows))
        if req["event"]:
            self.event_ms.append(ms)
            return self.info["bars"], []
        return self.info["bars"], [ms]

    def traced(self, tr: probes.Tracer, i: int, status) -> dict:
        req = self.request()
        op = f"{self.name}-{i}"
        with tr.span("research_sweep.request", op):
            with tr.span("operators.signals.build", op):
                sig = self._signal(req)
            if req["event"]:
                with tr.span("operators.orderbook.build", op):
                    ev = orderbook.event_driven_backtest(sig)
                with tr.span("operators.orderbook.exec", op):
                    ev.collect()
                nodes = [n for n in probes.plan_nodes(ev) if n.getClass()
                         .getSimpleName() == "FlatMapGroupsInPandasExec"]
                return {
                    "arrow_bytes_sent": sum(probes.sql_metric(
                        n, "pythonDataSent") for n in nodes),
                    "arrow_bytes_received": sum(probes.sql_metric(
                        n, "pythonDataReceived") for n in nodes),
                }
            with tr.span("operators.backtest.build", op):
                res = backtest.backtest_signals(sig)
            with tr.span("operators.metrics.build", op):
                m = metrics.compute_metrics(res)
            with tr.span("research_sweep.collect", op):
                m.collect()
        return probes.catalyst_phases(m)

    def verify(self) -> list[str]:
        bars = pd.read_parquet(self.info["path"])
        errors = []
        for req, rows in self.kept:
            got = pd.DataFrame([r.asDict() for r in rows])
            if req["event"]:
                got = got.sort_values("ts").groupby("symbol").agg(
                    rows=("ts", "size"), position=("position", "last"),
                    cash=("cash", "last")).reset_index()
                want = reference.event_final(bars, req["strategy"],
                                             req["params"])
            else:
                got = got[["symbol"] + reference.CHECKED]
                want = reference.sweep_metrics(bars, req["strategy"],
                                               req["params"])
            got = got.sort_values("symbol").reset_index(drop=True)
            err = reference.same_frame(got, want, rtol=reference.RTOL)
            if err:
                errors.append(f"{req}: {err}")
        return errors


class LiveIngest:
    """Streaming backlog drain: the archive is landed as JSON files before
    the query starts; each operation drains it with an ``availableNow``
    trigger into a fresh checkpoint. Latency samples are micro-batches."""

    name = "live_ingest"
    FILES_PER_TRIGGER = 3

    def __init__(self, spark, root: str, rng: np.random.Generator):
        self.spark, self.root = spark, root
        self.info = gen.landing_files(rng, os.path.join(root, "in"),
                                      **SIZES[self.name])
        self.drains: list[tuple[str, list[dict]]] = []

    def warmup(self) -> None:
        """One drain of the first landed file alone: the first micro-batch
        of a process pays for cold streaming and state-store paths."""
        warm = os.path.join(self.root, "warm")
        os.makedirs(os.path.join(warm, "in"))
        first = sorted(os.listdir(self.info["path"]))[0]
        os.link(os.path.join(self.info["path"], first),
                os.path.join(warm, "in", first))
        self._drain(os.path.join(warm, "in"), os.path.join(warm, "q"))
        shutil.rmtree(warm)

    def _drain(self, landing: str, work: str) -> tuple[list[dict], str]:
        raw = (self.spark.readStream
               .option("maxFilesPerTrigger", self.FILES_PER_TRIGGER)
               .text(landing))
        q = start_bar_stage(normalize_trades(raw), work, freq="1min",
                            trigger={"availableNow": True})
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [json.loads(p.json) for p in q.recentProgress], str(q.runId)

    @staticmethod
    def _data_batches(progress: list[dict]) -> list[dict]:
        return [p for p in progress if p["numInputRows"] > 0]

    def op(self, i: int, keep: bool = True) -> tuple[int, list[float]]:
        work = os.path.join(self.root, "drain", str(i))
        progress, self.last_run_id = self._drain(self.info["path"], work)
        batches = self._data_batches(progress)
        self.last_batches = len(progress)
        if keep:
            self.drains.append((work, progress))
        else:
            shutil.rmtree(work)
        return (sum(p["numInputRows"] for p in batches),
                [float(p["durationMs"]["triggerExecution"]) for p in batches])

    def traced(self, tr: probes.Tracer, i: int, status) -> dict:
        op = f"{self.name}-{i}"
        work = os.path.join(self.root, "drain", f"t{i}")
        with tr.span("live_ingest.drain", op):
            progress, _ = self._drain(self.info["path"], work)
        shutil.rmtree(work)
        batches = self._data_batches(progress)

        def med(key):
            return statistics.median(
                float(p["durationMs"].get(key, 0)) for p in batches)

        state = [s for p in progress for s in p["stateOperators"]]
        return {
            "add_batch_ms": med("addBatch"),
            "query_planning_ms": med("queryPlanning"),
            "wal_commit_ms": med("walCommit"),
            "commit_offsets_ms": med("commitOffsets"),
            "latest_offset_ms": med("latestOffset"),
            "batches": len(batches),
            "state_rows": max(s["numRowsTotal"] for s in state),
            "state_memory_bytes": max(s["memoryUsedBytes"] for s in state),
            "state_commit_ms": statistics.median(
                float(s["commitTimeMs"]) for s in state),
            "rows_dropped_by_watermark": sum(
                s.get("numRowsDroppedByWatermark", 0) for s in state),
        }

    def verify(self) -> list[str]:
        ref_dir = os.path.join(self.root, "batch_ref")
        raw = self.spark.read.text(self.info["path"])
        write_parquet(ticks_to_ohlcv(normalize_trades(raw), "1min"), ref_dir)
        want = reference.read_bars(ref_dir)
        errors = []
        for work, progress in self.drains:
            dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                          for p in progress for s in p["stateOperators"])
            wm = pd.Timestamp(progress[-1]["eventTime"]["watermark"])
            wm_ms = wm.value // 10**6
            final = want[want["ts_ms"] + 60_000 <= wm_ms] \
                .reset_index(drop=True)
            got = reference.read_bars(os.path.join(work, "bars"))
            err = reference.same_frame(got, final)
            if dropped:
                err = f"{dropped} rows dropped by the watermark"
            elif err is None and len(final) == 0:
                err = "no bar was finalized"
            if err:
                errors.append(f"{work}: {err}")
            shutil.rmtree(work)
        return errors


WORKLOADS = {w.name: w for w in (NightlyEtl, ResearchSweep, LiveIngest)}
