"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The engine only ever sees the files written here.

Time is UTC; a trading day is 390 one-minute bars from 14:30 to 21:00
(09:30-16:00 New York), on consecutive weekdays from 2024-01-02.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

MIN_MS = 60_000
BARS_PER_DAY = 390
_OPEN_MS = (14 * 60 + 30) * MIN_MS


def trading_day_ms(day: int) -> int:
    """Epoch millis of the first bar of trading day ``day`` (0-based,
    weekdays from 2024-01-02)."""
    d = np.busday_offset("2024-01-02", day, roll="forward")
    return int(d.astype("datetime64[ms]").astype(np.int64)) + _OPEN_MS


def day_bars(rng: np.random.Generator, day: int, last_close: float) -> list[dict]:
    """One trading day of 1-minute candles continuing from ``last_close``.

    Prices are random-walk closes rounded to cents; volumes are whole
    numbers so every volume sum is exact in floating point."""
    t0 = trading_day_ms(day)
    rets = rng.normal(0.0, 0.0012, BARS_PER_DAY)
    closes = np.round(last_close * np.cumprod(1.0 + rets), 2)
    closes = np.maximum(closes, 1.0)
    opens = np.concatenate(([last_close], closes[:-1]))
    wig = np.abs(rng.normal(0.0, 0.0006, (2, BARS_PER_DAY)))
    highs = np.round(np.maximum(opens, closes) * (1.0 + wig[0]), 2)
    lows = np.round(np.minimum(opens, closes) * (1.0 - wig[1]), 2)
    vols = rng.integers(100, 20_000, BARS_PER_DAY)
    trades = rng.integers(1, 400, BARS_PER_DAY)
    out = []
    for i in range(BARS_PER_DAY):
        o, h, l_, c = float(opens[i]), float(highs[i]), float(lows[i]), float(closes[i])
        out.append(
            {
                "t": t0 + i * MIN_MS,
                "o": o,
                "h": h,
                "l": l_,
                "c": c,
                "v": float(vols[i]),
                "vw": round((h + l_ + c) / 3.0, 4),
                "n": int(trades[i]),
            }
        )
    return out


def paginate(rows: list[dict], per_page: int) -> list[list[dict]]:
    """Split rows into pages where each page repeats the previous page's
    last row first: the by-design one-row overlap of the reference API."""
    pages, pos = [], 0
    while pos < len(rows):
        start = pos - 1 if pos else 0
        pages.append(rows[start : start + per_page])
        pos = start + per_page
    return pages


def write_page(root: str, symbol: str, index: int, rows: list[dict]) -> None:
    d = os.path.join(root, symbol)
    os.makedirs(d, exist_ok=True)
    # Written beside the symbol directories and renamed into place, so a
    # store listing never sees a partial page.
    tmp = os.path.join(root, f".{symbol}-{index}.tmp")
    with open(tmp, "w") as f:
        json.dump({"results": rows}, f)
    os.replace(tmp, os.path.join(d, f"page-{index}.json"))


# ---------------------------------------------------------------------------
# backfill
# ---------------------------------------------------------------------------

# Trading days per symbol, largest first. The shape is fixed so every seed
# moves the same number of rows; the seed decides which symbol is hot.
BACKFILL_DAYS = (120, 60, 40, 20, 20, 20, 20, 20)
BACKFILL_PAGE_ROWS = 250
# The warm-up store: the same shape at a tenth of the rows, enough for the
# per-row code paths to be compiled before the timed pass.
BACKFILL_WARMUP_DAYS = (12, 6, 4, 2, 2, 2, 2, 2)


@dataclass
class Backfill:
    symbols: list[str]
    rows: dict[str, list[dict]]  # unique candles per symbol, t ascending
    splits: list[tuple[str, int, float]]  # (ticker, ex_date epoch ms, factor)
    pages: int

    @property
    def n_rows(self) -> int:
        return sum(len(r) for r in self.rows.values())


def make_backfill(seed: int, store: str, days: tuple[int, ...] = BACKFILL_DAYS) -> Backfill:
    """Write a skewed multi-symbol page store under ``store``: one symbol
    per entry of ``days``, with that many trading days of candles."""
    rng = np.random.default_rng([seed, 1])
    symbols = [f"S{i:02d}" for i in range(len(days))]
    days = rng.permutation(days)
    rows: dict[str, list[dict]] = {}
    n_pages = 0
    for sym, n_days in zip(symbols, days):
        px = float(rng.uniform(20.0, 400.0))
        sym_rows: list[dict] = []
        for d in range(int(n_days)):
            sym_rows.extend(day_bars(rng, d, px))
            px = sym_rows[-1]["c"]
        rows[sym] = sym_rows
        for i, page in enumerate(paginate(sym_rows, BACKFILL_PAGE_ROWS)):
            write_page(store, sym, i, page)
            n_pages += 1
    # A split on a quarter of the symbols, ex-date inside their history.
    splits = []
    for sym in rng.choice(symbols, size=max(1, len(symbols) // 4), replace=False):
        n_days = len(rows[sym]) // BARS_PER_DAY
        ex_day = int(rng.integers(0, n_days + 1))
        factor = float(rng.choice([0.5, 0.25, 2.0 / 3.0]))
        ex_ms = trading_day_ms(ex_day) - _OPEN_MS  # midnight of the ex-date
        splits.append((str(sym), ex_ms, factor))
    return Backfill(symbols=symbols, rows=rows, splits=sorted(splits), pages=n_pages)


# ---------------------------------------------------------------------------
# stream_catchup
# ---------------------------------------------------------------------------

STREAM_SYMBOLS = 8
STREAM_HISTORY_DAYS = 2
STREAM_PAGE_ROWS = 100
LATE_BARS = 3  # bars of a day's close held back to the next increment


class StreamFeed:
    """Lands one trading day per increment onto a page store.

    Each increment carries the one-row page overlap, for a few symbols
    the last ``LATE_BARS`` bars of the previous day (late, but inside the
    10-minute watermark), and for a few symbols a re-sent page that
    repeats rows already landed."""

    def __init__(self, root: str, seed: int):
        self.root, self.seed, self.day = root, seed, 0
        self.symbols = [f"T{i:02d}" for i in range(STREAM_SYMBOLS)]
        rng = np.random.default_rng([seed, 2])
        self.last_close = {s: float(rng.uniform(20.0, 400.0)) for s in self.symbols}
        self.next_page = {s: 0 for s in self.symbols}
        self.held: dict[str, list[dict]] = {s: [] for s in self.symbols}
        self.last_row: dict[str, list[dict]] = {s: [] for s in self.symbols}
        self.max_t: list[int] = []  # latest bar landed, after each day

    def land_day(self) -> int:
        """Land the next trading day for every symbol; return rows landed."""
        rng = np.random.default_rng([self.seed, 3, self.day])
        late = set(rng.choice(self.symbols, size=2, replace=False))
        resend = set(rng.choice(self.symbols, size=2, replace=False))
        n = 0
        for s in self.symbols:
            bars = day_bars(rng, self.day, self.last_close[s])
            self.last_close[s] = bars[-1]["c"]
            rows = self.held[s] + bars
            if s in late:
                rows, self.held[s] = rows[:-LATE_BARS], rows[-LATE_BARS:]
            else:
                self.held[s] = []
            # The first page repeats the last row landed: the page overlap.
            pages = paginate(self.last_row[s] + rows, STREAM_PAGE_ROWS)
            if s in resend and len(pages) > 1:
                pages.insert(1, pages[0][-5:])  # a page re-sent by the API
            for p in pages:
                write_page(self.root, s, self.next_page[s], p)
                self.next_page[s] += 1
            self.last_row[s] = rows[-1:]
            n += len(rows)
        self.day += 1
        self.max_t.append(max(r[0]["t"] for r in self.last_row.values()))
        return n
