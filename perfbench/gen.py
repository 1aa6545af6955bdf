"""Seeded input generator owned by the benchmark.

Numpy in one process; nothing here imports the engine, so a change to the
engine's own synthetic-data generator cannot change what is measured. Every
function takes a ``numpy.random.Generator`` and a directory and returns a
plain dict describing what it wrote (the run prints it), so one seed always
gives byte-identical files.

Tick archives are JSON lines in three alias shapes the feed normalizer must
unify (flat long names, flat short names, a ``data`` envelope), with a
Zipf-skewed tick count per symbol and seeded shares of exact duplicate
lines, non-positive prices and price jumps. Within a symbol every
timestamp is unique, so the first/last tick of a bar is well defined
without a tiebreaker column.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-01-02 14:30:00 UTC in epoch milliseconds: the session open.
T0_MS = 1_704_205_800_000

_SHAPES = (
    '{{"symbol":"{s}","price":{p:.2f},"volume":{v},"timestamp":{t}}}',
    '{{"s":"{s}","p":"{p:.2f}","v":{v},"t":{t}}}',
    '{{"data":{{"ticker":"{s}","last":{p:.2f},"size":{v},"ts":{t}}}}}',
)


def _symbols(n: int) -> list[str]:
    return [f"SYM{i:02d}" for i in range(n)]


def tick_table(rng: np.random.Generator, n_symbols: int, n_ticks: int,
               minutes: int, zipf_s: float, dup_share: float,
               nonpos_share: float, jump_share: float) -> dict:
    """Arrays ``sym, ts, price, volume, shape`` in event-time order, dirt
    included, plus the description of what was drawn."""
    weights = 1.0 / np.arange(1, n_symbols + 1) ** zipf_s
    counts = np.floor(n_ticks * weights / weights.sum()).astype(np.int64)
    counts = np.maximum(counts, 1)
    counts[0] += n_ticks - counts.sum()
    span = minutes * 60_000
    sym, ts, price = [], [], []
    for s, c in enumerate(counts):
        gaps = rng.integers(1, max(2, 2 * span // c), size=c)
        t = T0_MS + np.cumsum(gaps)
        base = 100.0 * (1.0 + rng.uniform(-0.05, 0.05))
        period = rng.uniform(20.0, 90.0) * 60_000
        phase = rng.uniform(0.0, 2 * np.pi)
        wave = 0.03 * np.sin(2 * np.pi * (t - T0_MS) / period + phase)
        p = base * (1.0 + wave + 0.004 * rng.standard_normal(c))
        sym.append(np.full(c, s, dtype=np.int64))
        ts.append(t)
        price.append(np.round(p, 2))
    sym, ts, price = np.concatenate(sym), np.concatenate(ts), np.concatenate(price)
    order = np.lexsort((sym, ts))
    sym, ts, price = sym[order], ts[order], price[order]
    n = len(ts)
    volume = rng.integers(1, 500, size=n)
    shape = rng.integers(0, len(_SHAPES), size=n)

    n_jump, n_nonpos = round(jump_share * n), round(nonpos_share * n)
    dirty = rng.choice(n, size=n_jump + n_nonpos, replace=False)
    jump, nonpos = dirty[:n_jump], dirty[n_jump:]
    price[jump] = np.round(price[jump] * 25.0, 2)
    price[nonpos] = np.where(rng.random(n_nonpos) < 0.5, 0.0,
                             -price[nonpos])
    # exact duplicates sit right after their original line
    n_dup = round(dup_share * n)
    dup = rng.choice(n, size=n_dup, replace=False)
    rows = np.sort(np.concatenate([np.arange(n), dup]), kind="stable")
    return {
        "sym": sym[rows], "ts": ts[rows], "price": price[rows],
        "volume": volume[rows], "shape": shape[rows],
        "info": {
            "symbols": n_symbols, "ticks": int(len(rows)),
            "zipf_s": zipf_s,
            "hot_symbol_share": round(float(counts[0] / counts.sum()), 4),
            "dup_share": dup_share, "nonpos_share": nonpos_share,
            "jump_share": jump_share, "duplicates": int(n_dup),
            "non_positive": int(n_nonpos), "jumps": int(n_jump),
            "minutes": minutes,
        },
    }


def _lines(t: dict, rows) -> str:
    names = _symbols(int(t["sym"].max()) + 1)
    sym, ts, price, vol, shape = (t["sym"], t["ts"], t["price"],
                                  t["volume"], t["shape"])
    return "".join(
        _SHAPES[shape[i]].format(s=names[sym[i]], p=price[i], v=vol[i],
                                 t=ts[i]) + "\n"
        for i in rows)


def tick_archive(rng: np.random.Generator, out_dir: str, **size) -> dict:
    """One JSON-lines file of ticks in event-time order."""
    t = tick_table(rng, **size)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "ticks.jsonl")
    with open(path, "w") as f:
        f.write(_lines(t, range(len(t["ts"]))))
    return {"path": path, **t["info"]}


def landing_files(rng: np.random.Generator, out_dir: str, files: int,
                  disorder_rows: int, **size) -> dict:
    """The tick archive landed as ``files`` JSON files, in event-time order.

    Lines are shuffled only inside blocks of ``disorder_rows`` and files
    split on block boundaries, so the disorder spans well under a second
    of event time and never crosses a file: no row arrives behind the
    watermark. Modification times increase with the file index because
    the file source orders new files by them."""
    t = tick_table(rng, **size)
    n = len(t["ts"])
    blocks = [np.arange(a, min(a + disorder_rows, n))
              for a in range(0, n, disorder_rows)]
    blocks = [rng.permutation(b) for b in blocks]
    os.makedirs(out_dir, exist_ok=True)
    per_file = -(-len(blocks) // files)
    for i in range(files):
        rows = np.concatenate(blocks[i * per_file:(i + 1) * per_file])
        path = os.path.join(out_dir, f"part-{i:04d}.json")
        with open(path, "w") as f:
            f.write(_lines(t, rows))
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return {"path": out_dir, "files": files, "disorder_rows": disorder_rows,
            **t["info"]}


def bar_parquet(rng: np.random.Generator, out_dir: str, n_symbols: int,
                bars_per_symbol: int) -> dict:
    """1-minute OHLCV bars, mean-reverting around a slow wave per symbol,
    as one parquet file with the engine's bar schema."""
    names = _symbols(n_symbols)
    cols = {k: [] for k in ("symbol", "ts", "open", "high", "low", "close",
                            "volume", "n_ticks")}
    minute = np.arange(bars_per_symbol)
    for s in range(n_symbols):
        base = 100.0 * (1.0 + rng.uniform(-0.1, 0.1))
        x = np.zeros(bars_per_symbol)
        eps = rng.standard_normal(bars_per_symbol)
        for i in range(1, bars_per_symbol):
            x[i] = 0.97 * x[i - 1] + 0.003 * eps[i]
        wave = 0.02 * np.sin(2 * np.pi * minute / rng.uniform(60, 240)
                             + rng.uniform(0, 2 * np.pi))
        close = np.round(base * (1.0 + wave + x), 4)
        open_ = np.concatenate([[close[0]], close[:-1]])
        wick = np.abs(rng.standard_normal((2, bars_per_symbol))) * 1e-3
        cols["symbol"] += [names[s]] * bars_per_symbol
        cols["ts"].append((T0_MS + minute * 60_000) * 1000)
        cols["open"].append(open_)
        cols["close"].append(close)
        cols["high"].append(np.maximum(open_, close) * (1 + wick[0]))
        cols["low"].append(np.minimum(open_, close) * (1 - wick[1]))
        cols["volume"].append(rng.integers(100, 10_000, bars_per_symbol)
                              .astype(np.float64))
        cols["n_ticks"].append(rng.integers(1, 200, bars_per_symbol))
    table = pa.table({
        "symbol": pa.array(cols["symbol"], pa.string()),
        "ts": pa.array(np.concatenate(cols["ts"]), pa.timestamp("us", "UTC")),
        **{k: pa.array(np.concatenate(cols[k])) for k in
           ("open", "high", "low", "close", "volume", "n_ticks")},
    })
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "bars.parquet")
    pq.write_table(table, path)
    return {"path": path, "symbols": n_symbols,
            "bars_per_symbol": bars_per_symbol, "bars": table.num_rows}
