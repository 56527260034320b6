#!/usr/bin/env python3
"""Seeded generator for the committed stock-ETL fixture.

Usage: python3 tools/gen_stock_fixture.py [out.csv]

Writes ``src/main/resources/graft/etl/stock_fixture.csv`` (or ``out.csv``):
synthetic daily bars for the ten market indices the scraper covers, in
the scraped raw shape the cleaning rules handle (FIXTURES.md §1). The
prices are a seeded random walk, not market data. The graded ``etl_*``
queries and their DuckDB twins read this file, so regenerating it
changes their results on both engines alike.

Shape:

- header ``Date,Price,Open,High,Low,Vol.,Change %,stock_name``;
- ``MMM dd, yyyy`` dates, newest first within each index;
- quoted prices, comma-grouped from 1,000 up (``"42,801.72"``);
- ``K``/``M``/``B`` volumes, empty ``Vol.`` cells, and three indices
  with no volume at all;
- signed percents against the previous close, exactly one ``0.00%``;
- one re-scraped (stock, date) row with a later price and volume;
- no empty Date, Price, Open, High or Low cell;
- 21 to 23 bars per index; each index skips up to two weekdays.
"""
import datetime
import os
import random
import sys

SEED = 20240205
FIRST, LAST = datetime.date(2024, 2, 5), datetime.date(2024, 3, 6)
HEADER = "Date,Price,Open,High,Low,Vol.,Change %,stock_name"
OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src",
                   "main", "resources", "graft", "etl", "stock_fixture.csv")

# name: (starting close, daily return sigma, typical volume or None)
INDICES = {
    "Dow Jones": (38_500.0, 0.008, 350e6),
    "S&P 500": (4_950.0, 0.009, None),
    "Nasdaq": (15_600.0, 0.012, 5.5e9),
    "Small Cap 2000": (1_960.0, 0.013, 1.1e9),
    "S&P 500 VIX": (13.9, 0.060, None),
    "S&P/TSX": (21_000.0, 0.007, 210e6),
    "Bovespa": (127_500.0, 0.009, 950e3),
    "S&P/BMV IPC": (57_100.0, 0.008, 180e6),
    "MSCI World": (3_250.0, 0.007, None),
    "DAX": (16_900.0, 0.009, 75e6),
}
# The one bar whose close equals the previous close ("0.00%"), and the
# one bar scraped twice: a Friday, so a forward fill carries it over the
# weekend.
FLAT = ("MSCI World", datetime.date(2024, 2, 22))
RESCRAPE = ("Dow Jones", datetime.date(2024, 2, 23))
EMPTY_VOL_SHARE = 0.03


def money(x):
    return f"{x:,.2f}"


def volume(v):
    """Two decimals under the largest suffix that fits (``763.44M``)."""
    for suffix, scale in (("B", 1e9), ("M", 1e6), ("K", 1e3)):
        if v >= scale:
            return f"{v / scale:.2f}{suffix}"
    return f"{v:.0f}"


def percent(close, prev):
    pct = round((close / prev - 1) * 100, 2)
    return "0.00%" if close == prev else f"{pct:+.2f}%"


def weekdays():
    d, out = FIRST, []
    while d <= LAST:
        if d.weekday() < 5:
            out.append(d)
        d += datetime.timedelta(days=1)
    return out


def bar(rng, prev, sigma, typical, day, name):
    """One (cells, close) pair for ``day``, drawn from ``prev``."""
    while True:
        close = round(prev * (1 + rng.gauss(0, sigma)), 2)
        if (name, day) == FLAT:
            close = prev
            break
        # Only FLAT may print as 0.00%.
        if abs(round((close / prev - 1) * 100, 2)) >= 0.01:
            break
    open_ = round(prev * (1 + rng.gauss(0, sigma / 3)), 2)
    high = round(max(close, open_) * (1 + abs(rng.gauss(0, sigma / 2))), 2)
    low = round(min(close, open_) * (1 - abs(rng.gauss(0, sigma / 2))), 2)
    vol = ""
    if typical is not None and rng.random() >= EMPTY_VOL_SHARE:
        vol = volume(typical * rng.uniform(0.6, 1.5))
    return [close, open_, high, low, vol, percent(close, prev)], close


def line(day, close, open_, high, low, vol, change, name):
    date = day.strftime("%b %d, %Y")
    prices = ",".join(f'"{money(p)}"' for p in (close, open_, high, low))
    return f'"{date}",{prices},{vol},{change},{name}'


def generate():
    rng = random.Random(SEED)
    days = weekdays()
    lines = [HEADER]
    for name, (start, sigma, typical) in INDICES.items():
        # Market holidays: up to two weekdays with no bar, never FLAT or
        # RESCRAPE.
        closed = set(rng.sample([d for d in days if d not in (FLAT[1], RESCRAPE[1])],
                                rng.randrange(0, 3)))
        prev, rows = start, []
        for day in days:
            if day in closed:
                continue
            cells, close = bar(rng, prev, sigma, typical, day, name)
            rows.append(line(day, *cells, name))
            if (name, day) == RESCRAPE:
                _, open_, high, low, _, _ = cells
                again = round(rng.uniform(low, high), 2)
                vol = volume(typical * rng.uniform(0.6, 1.5))
                rows.append(line(day, again, open_, high, low, vol,
                                 percent(again, prev), name))
            prev = close
        lines.extend(reversed(rows))
    assert sum(",0.00%," in l for l in lines) == 1, "exactly one flat bar"
    return "\n".join(lines) + "\n"


def main():
    out = sys.argv[1] if len(sys.argv) > 1 else OUT
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w", newline="") as f:
        f.write(generate())


if __name__ == "__main__":
    main()
