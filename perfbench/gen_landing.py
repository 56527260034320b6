"""Seeded generator for the daily_etl landing zone.

Writes one CSV per trading day across many tickers, shaped like the
scraped index bars the ETL cleans, plus the typed rows a correct load
must produce. Every cleaning rule of the pipeline is exercised:

- comma-grouped numerals (``"42,801.72"``);
- ``K``/``M``/``B`` volume suffixes (``"763.44M"``);
- signed percentages (``"+0.52%"``, ``"-0.99%"``);
- ``MMM dd, yyyy`` dates (``"Mar 07, 2025"``);
- empty ``Vol`` cells;
- header-name drift (``Vol.`` vs ``Vol``, ``Change %`` vs ``Change``);
- a small share of rows whose cell count differs from the header's.

Expected values are computed with the same IEEE operations the
cleaning rules specify (parse the mantissa, then multiply by the
suffix's power of ten), so a correct load matches them exactly.
"""
import csv
import datetime
import io
import os
import random

HEADERS = (
    ["Date", "Price", "Open", "High", "Low", "Vol.", "Change %", "stock_name"],
    ["Date", "Price", "Open", "High", "Low", "Vol", "Change", "stock_name"],
)
SUFFIX = {"K": 1e3, "M": 1e6, "B": 1e9}
MALFORMED_SHARE = 0.01


def _money(x):
    """Two-decimal price text, comma-grouped when >= 1,000."""
    return f"{x:,.2f}"


def _volume(rng):
    """(raw cell, expected typed value) for one volume cell."""
    kind = rng.random()
    if kind < 0.08:
        return "", None
    if kind < 0.25:
        n = rng.randrange(1_000, 50_000_000)
        return f"{n:,}", float(n)
    suffix = rng.choice("KMB")
    mantissa = f"{rng.uniform(1.0, 999.99):.2f}"
    return mantissa + suffix, float(mantissa) * SUFFIX[suffix]


def _trading_days(rng, n):
    day = datetime.date(2015, 1, 5) + datetime.timedelta(days=rng.randrange(0, 2000))
    out = []
    while len(out) < n:
        if day.weekday() < 5:
            out.append(day)
        day += datetime.timedelta(days=1)
    return out


def generate(out_dir, seed, days, tickers):
    """Write ``days`` day files under ``out_dir/pool`` and return the
    manifest: per file its name, byte size, typed rows and malformed
    row count, in landing order."""
    rng = random.Random(seed)
    names = [f"T{i:03d}" for i in range(tickers)]
    last = {n: rng.uniform(20.0, 40_000.0) for n in names}
    pool = os.path.join(out_dir, "pool")
    os.makedirs(pool, exist_ok=True)
    files = []
    for i, day in enumerate(_trading_days(rng, days)):
        # Every third file has the drifted header, so every run sees both.
        header = HEADERS[i % 3 == 2]
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(header)
        rows, malformed = [], 0
        date_cell = day.strftime("%b %d, %Y")
        for name in names:
            prev = last[name]
            price = round(prev * (1 + rng.gauss(0, 0.015)), 2)
            open_ = round(prev * (1 + rng.gauss(0, 0.004)), 2)
            high = round(max(price, open_) * (1 + abs(rng.gauss(0, 0.005))), 2)
            low = round(min(price, open_) * (1 - abs(rng.gauss(0, 0.005))), 2)
            last[name] = price
            change = f"{(price / prev - 1) * 100:+.2f}"
            vol_cell, vol = _volume(rng)
            cells = [date_cell, _money(price), _money(open_), _money(high),
                     _money(low), vol_cell, change + "%", name]
            if rng.random() < MALFORMED_SHARE:
                malformed += 1
                if rng.random() < 0.5:
                    # A lost cell: the row is one short of the header.
                    del cells[6]
                    w.writerow(cells)
                else:
                    # Unquoted grouped numerals split into extra cells;
                    # a row without any gets a stray trailing cell.
                    line = ",".join([f'"{date_cell}"'] + cells[1:])
                    if not any("," in c for c in cells[1:]):
                        line += ","
                    buf.write(line + "\n")
                continue
            w.writerow(cells)
            rows.append([name, day.isoformat(), float(_money(price).replace(",", "")),
                         float(_money(open_).replace(",", "")),
                         float(_money(high).replace(",", "")),
                         float(_money(low).replace(",", "")), vol, float(change)])
        fname = f"day_{i:04d}_{day.isoformat()}.csv"
        data = buf.getvalue().encode()
        with open(os.path.join(pool, fname), "wb") as f:
            f.write(data)
        files.append({"name": fname, "bytes": len(data), "header": header,
                      "rows": rows, "malformed": malformed})
    return files

