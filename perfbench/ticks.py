"""Seeded NSE tick-drop generator in the reference layout.

The drop is what the reference DAG ingests each day:

    <root>/backfill/STOCK_TICK_DDMMYYYY/<SYMBOL>.csv   backfill days
    <root>/daily/STOCK_TICK_DDMMYYYY/<SYMBOL>.csv      one folder per increment
    <root>/cm<DD><MON><YYYY>bhav.csv                   golden EOD of the last
                                                       backfill day

Every CSV has the 10-column raw tick header.  Ticks follow the paper's
data model: exactly one row per (ticker, second) over one 09:15 session,
so no two ticks of a ticker share a timestamp.  The drop therefore never
exercises the tied-timestamp OHLC defect that the repository's own
incremental-view test keeps red; that defect needs ties and is out of
this workload's reach.

Planted defects, all recorded in the returned :class:`TickDrop`:

- a fixed share of invalid rows per file, half with an unparseable LTP
  (``garbage``) and half with a negative BuyQty.  They replace a regular
  tick in place (the one-row-per-second model holds) and sit strictly
  inside an hour (minute 20-39), never on a bucket's first or last tick,
  so open/close of every hour and day are valid prices;
- one bhavcopy symbol with no ticks (``NOTRADE``);
- one bhavcopy row whose CLOSE is 1.0 above the ticks' close.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

HEADER = [
    "Ticker", "Date", "Time", "LTP", "BuyPrice", "BuyQty",
    "SellPrice", "SellQty", "LTQ", "OpenInterest",
]
BHAV_HEADER = [
    "SYMBOL", "SERIES", "OPEN", "HIGH", "LOW", "CLOSE", "LAST",
    "PREVCLOSE", "TOTTRDQTY", "TOTTRDVAL", "TIMESTAMP", "TOTALTRADES", "ISIN",
]
MISSING_SYMBOL = "NOTRADE"
SESSION_START = dt.time(9, 15)
FIRST_DAY = dt.date(2022, 4, 4)


@dataclass
class TickDrop:
    root: str
    backfill_root: str
    daily_dirs: list[str]
    bhavcopy_csv: str
    bhav_date: str
    symbols: list[str]
    mismatch_symbol: str
    #: (symbol, "YYYY-MM-DD HH:MM:SS", kind) per planted invalid row
    invalid: list[tuple[str, str, str]] = field(default_factory=list)
    backfill_rows: int = 0
    daily_rows: list[int] = field(default_factory=list)
    input_bytes: int = 0


def trading_days(n: int) -> list[dt.date]:
    days, d = [], FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def _price_str(paise: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(paise / 100.0), pa.string())


def _write_day(folder: str, day: dt.date, symbols: list[str], seconds: int,
               invalid_share: float, rng, drop: TickDrop) -> dict:
    """Write one trading day's per-ticker CSVs; returns each symbol's
    day OHLC over its valid prices."""
    os.makedirs(folder, exist_ok=True)
    start = dt.datetime.combine(day, SESSION_START)
    secs = np.arange(seconds)
    times = pa.array([(start + dt.timedelta(seconds=int(s))).strftime("%H:%M:%S")
                      for s in secs])
    dates = pa.array([day.isoformat()] * seconds)
    # candidate slots for invalid rows: minute 20-39 of any hour, away
    # from the session's own first and last minute
    minute = ((SESSION_START.minute * 60 + secs) // 60) % 60
    inner = secs[(minute >= 20) & (minute < 40) & (secs >= 60) & (secs < seconds - 60)]
    n_bad = max(2, int(round(invalid_share * seconds)))
    ohlc = {}
    for sym in symbols:
        p0 = int(rng.integers(10_000, 500_000))
        paise = np.maximum(p0 + np.cumsum(rng.integers(-5, 6, seconds)), 100)
        bid_qty = rng.integers(1, 1000, seconds)
        ltp = _price_str(paise)
        bad = np.sort(rng.choice(inner, size=n_bad, replace=False))
        garbage, negative = bad[: n_bad // 2], bad[n_bad // 2:]
        mask = np.zeros(seconds, dtype=bool)
        mask[garbage] = True
        ltp = pc.if_else(pa.array(mask), pa.scalar("garbage"), ltp)
        bid_qty[negative] = -bid_qty[negative]
        for kind, rows in (("ltp", garbage), ("qty", negative)):
            drop.invalid.extend(
                (sym, f"{day.isoformat()} {times[int(s)].as_py()}", kind) for s in rows
            )
        table = pa.table({
            "Ticker": pa.array([f"{sym}.NSE"] * seconds),
            "Date": dates,
            "Time": times,
            "LTP": ltp,
            "BuyPrice": _price_str(paise - 5),
            "BuyQty": pa.array(bid_qty),
            "SellPrice": _price_str(paise + 5),
            "SellQty": pa.array(rng.integers(1, 1000, seconds)),
            "LTQ": pa.array(rng.integers(1, 500, seconds)),
            "OpenInterest": pa.array(rng.integers(1_000, 100_000, seconds)),
        })
        path = os.path.join(folder, f"{sym}.csv")
        pacsv.write_csv(table, path,
                        pacsv.WriteOptions(quoting_style="needed"))
        drop.input_bytes += os.path.getsize(path)
        valid = np.delete(paise, garbage) / 100.0
        ohlc[sym] = (paise[0] / 100.0, valid.max(), valid.min(), paise[-1] / 100.0)
    return ohlc


def _write_bhavcopy(path: str, day: dt.date, ohlc: dict, mismatch: str) -> None:
    rows = []
    for sym, (o, h, lo, c) in sorted(ohlc.items()):
        close = c + 1.0 if sym == mismatch else c
        rows.append([sym, "EQ", o, h, lo, close, close, o, 1, 1.0,
                     day.strftime("%d-%b-%Y").upper(), 1, f"INE{sym}"])
    rows.append([MISSING_SYMBOL, "EQ", 10.0, 10.0, 10.0, 10.0, 10.0, 10.0, 1, 1.0,
                 day.strftime("%d-%b-%Y").upper(), 1, "INENOTRADE"])
    table = pa.table({h: pa.array([r[i] for r in rows]) for i, h in enumerate(BHAV_HEADER)})
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))


def generate(root: str, seed: int, n_tickers: int, backfill_days: int,
             daily_days: int, seconds: int, invalid_share: float = 0.001) -> TickDrop:
    """Write a complete tick drop under ``root`` (same seed, same bytes)."""
    rng = np.random.default_rng(seed)
    symbols = [f"SYM{i:03d}" for i in range(n_tickers)]
    days = trading_days(backfill_days + daily_days)
    bhav_day = days[backfill_days - 1]
    drop = TickDrop(
        root=root,
        backfill_root=os.path.join(root, "backfill"),
        daily_dirs=[],
        bhavcopy_csv=os.path.join(root, f"cm{bhav_day.strftime('%d%b%Y').upper()}bhav.csv"),
        bhav_date=bhav_day.isoformat(),
        symbols=symbols,
        mismatch_symbol=symbols[int(rng.integers(0, n_tickers))],
    )
    folder_name = "STOCK_TICK_{:%d%m%Y}".format
    for i, day in enumerate(days):
        if i < backfill_days:
            folder = os.path.join(drop.backfill_root, folder_name(day))
        else:
            folder = os.path.join(root, "daily", folder_name(day))
            drop.daily_dirs.append(folder)
        ohlc = _write_day(folder, day, symbols, seconds, invalid_share, rng, drop)
        if i < backfill_days:
            drop.backfill_rows += seconds * n_tickers
        else:
            drop.daily_rows.append(seconds * n_tickers)
        if day == bhav_day:
            _write_bhavcopy(drop.bhavcopy_csv, day, ohlc, drop.mismatch_symbol)
    return drop
