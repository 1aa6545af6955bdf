"""Independent references the benchmark checks the engine's outputs against.

Nothing here calls the engine. ``nightly_bars`` is DuckDB over the same
JSON archive; ``sweep_metrics`` and ``event_final`` are pandas/numpy
re-statements of the strategy, kernel and metric definitions.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

BAR_COLS = ["symbol", "ts_ms", "open", "high", "low", "close", "volume",
            "n_ticks"]

# normalizer alias order: envelope fields first, then the root object
_ALIASES = {
    "ts": ["timestamp", "ts", "t"],
    "symbol": ["symbol", "s", "ticker"],
    "price": ["price", "p", "last"],
    "volume": ["volume", "v", "size"],
}


def _field(name: str) -> str:
    paths = ([f"'$.data.{a}'" for a in _ALIASES[name]]
             + [f"'$.{a}'" for a in _ALIASES[name]])
    return "coalesce(" + ", ".join(
        f"json_extract_string(json, {p})" for p in paths) + ")"


def nightly_bars(json_path: str, k: float = 3.0) -> pd.DataFrame:
    """normalize -> dedup (symbol, ts) -> price >= 0.01 -> global IQR fence
    -> 1-minute OHLCV, sorted by (symbol, ts_ms). Archive timestamps are
    all epoch milliseconds."""
    con = duckdb.connect()
    try:
        return con.execute(f"""
        WITH raw AS (
          SELECT CAST({_field('ts')} AS BIGINT) AS ts_ms,
                 {_field('symbol')} AS symbol,
                 CAST({_field('price')} AS DOUBLE) AS price,
                 coalesce(CAST({_field('volume')} AS DOUBLE), 0.0) AS volume
          FROM read_ndjson_objects('{json_path}')),
        valid AS (
          SELECT DISTINCT ON (symbol, ts_ms) * FROM raw
          WHERE symbol IS NOT NULL AND price IS NOT NULL),
        priced AS (SELECT * FROM valid WHERE price >= 0.01),
        q AS (SELECT quantile_cont(price, 0.25) AS q1,
                     quantile_cont(price, 0.75) AS q3 FROM priced),
        kept AS (
          SELECT priced.* FROM priced, q
          WHERE price BETWEEN q1 - {k} * (q3 - q1) AND q3 + {k} * (q3 - q1))
        SELECT symbol, ts_ms - ts_ms % 60000 AS ts_ms,
               arg_min(price, ts_ms) AS open, max(price) AS high,
               min(price) AS low, arg_max(price, ts_ms) AS close,
               sum(volume) AS volume, count(*) AS n_ticks
        FROM kept GROUP BY ALL ORDER BY symbol, ts_ms
        """).df()
    finally:
        con.close()


def read_bars(path: str) -> pd.DataFrame:
    """An engine bar output (parquet, optionally hive-partitioned) as the
    reference's frame."""
    df = ds.dataset(path, format="parquet", partitioning="hive").to_table() \
        .to_pandas()
    df["symbol"] = df["symbol"].astype(str)
    df["ts_ms"] = (pd.to_datetime(df["ts"], utc=True).astype("int64")
                   // 10**6)
    return df[BAR_COLS].sort_values(["symbol", "ts_ms"]) \
        .reset_index(drop=True)


def same_frame(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 1e-9
               ) -> str | None:
    """None when equal (floats within ``rtol``), else a one-line reason."""
    if len(got) != len(want):
        return f"{len(got)} rows, want {len(want)}"
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.isclose(a.astype(float), b.astype(float), rtol=rtol,
                            atol=0.0, equal_nan=True)
        else:
            ok = a == b
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return None


# ------------------------------------------------------------ research sweep

COMMISSION, SLIPPAGE, CASH = 0.001, 0.0005, 1_000_000.0
RF, PPY = 0.02, 252
#: metric columns checked per request, and the relative tolerance: rolling
#: std and log-sum orders differ between Spark and pandas in the last bits.
CHECKED = ["n_periods", "total_return", "volatility", "sharpe_ratio",
           "max_drawdown", "num_trades", "win_rate", "exposure"]
RTOL = 1e-6


def signal(close: pd.Series, strategy: str, p: dict) -> np.ndarray:
    """One symbol's signal, as the engine's strategy definitions state it."""
    if strategy == "mean_reversion":
        n, k = p["n"], p["num_std"]
        sd = close.rolling(n).std()
        mid = close.rolling(n).mean()
        z = ((close - mid) / sd.where(sd != 0)).to_numpy()
        return np.where(z < -k, 1, np.where(z > k, -1, 0))
    if strategy == "momentum":
        prev = close.shift(p["lookback"])
        mom = (close / prev - 1).to_numpy()
        thr = p["threshold"]
        return np.where(mom > thr, 1, np.where(mom < -thr, -1, 0))
    fast = close.rolling(p["fast"]).mean().to_numpy()
    slow = close.rolling(p["slow"]).mean().to_numpy()
    return np.where(fast > slow, 1, 0)


def sweep_metrics(bars: pd.DataFrame, strategy: str, p: dict
                  ) -> pd.DataFrame:
    """Vectorized backtest + metric suite per symbol (CHECKED columns)."""
    rows = []
    for sym, g in bars.sort_values(["symbol", "ts"]).groupby("symbol"):
        close = g["close"].reset_index(drop=True)
        pos = signal(close, strategy, p).astype(float)
        ret = (close / close.shift(1) - 1).fillna(0.0).to_numpy()
        prev = np.concatenate([[0.0], pos[:-1]])
        net = prev * ret - np.abs(pos - prev) * (COMMISSION + SLIPPAGE)
        eq = np.exp(np.cumsum(np.log1p(net))) * CASH
        dd = (eq - np.maximum.accumulate(eq)) / np.maximum.accumulate(eq)
        ex = net - RF / PPY
        sd = np.std(ex, ddof=1)
        nz = np.count_nonzero(net)
        rows.append({
            "symbol": sym, "n_periods": len(net),
            "total_return": math.exp(np.sum(np.log1p(net))) - 1,
            "volatility": np.std(net, ddof=1) * math.sqrt(PPY),
            "sharpe_ratio": ex.mean() / sd * math.sqrt(PPY) if sd > 0 else 0.0,
            "max_drawdown": dd.min(),
            "num_trades": int(np.count_nonzero(pos - prev)),
            "win_rate": np.count_nonzero(net > 0) / nz if nz else 0.0,
            "exposure": np.count_nonzero(pos) / len(pos),
        })
    return pd.DataFrame(rows)[["symbol"] + CHECKED]


def event_final(bars: pd.DataFrame, strategy: str, p: dict,
                shares_per_unit: float = 100.0) -> pd.DataFrame:
    """Event-driven engine per symbol with its own cash: final
    ``(symbol, rows, position, cash)``."""
    syms = sorted(bars["symbol"].unique())
    budget = CASH / len(syms)
    out = []
    for sym in syms:
        g = bars[bars["symbol"] == sym].sort_values("ts")
        sig = signal(g["close"].reset_index(drop=True), strategy, p)
        cash, pos = budget, 0.0
        for px, s in zip(g["close"].to_numpy(), sig):
            delta = s * shares_per_unit - pos
            if delta == 0:
                continue
            exec_px = px * (1 + SLIPPAGE) if delta > 0 else px * (1 - SLIPPAGE)
            cost = abs(delta) * exec_px
            fee = cost * COMMISSION
            if delta > 0 and cost + fee > cash:
                continue
            cash -= delta * exec_px
            cash -= fee
            pos = s * shares_per_unit
        out.append({"symbol": sym, "rows": len(g), "position": pos,
                    "cash": cash})
    return pd.DataFrame(out)
