"""Seeded input generators for the three workloads.

Everything the program reads is written here from ``--seed``; the
program receives only files. Each generator also returns the *truth* the
output checks compare against, computed from the generated rows with the
same keep-rule the pipeline applies, never by asking the program.

* EOD landing files (FIXTURES.md section 1): one CSV per trading date with
  ``N_ACTIVE`` symbols plus ``N_EDGE`` edge rows -- negative-volume
  rejects, duplicate keys, case/whitespace symbol variants -- and empty or
  literal ``NULL`` price fields on some base rows.
* A streamed backlog: trading-date files whose modification times fix the
  order the file source reads them in, with one corrected re-delivery per
  micro-batch after the first, always of a date an earlier batch landed.
* TPC-H-shaped ``lineitem``/``part`` parquet for the dashboard tiles.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field
from decimal import Decimal

N_ACTIVE = 6227  # active symbols per trading day in the reference
UNIVERSE = 6600  # cumulative symbol universe the active set is drawn from
N_REJECT = 12  # FIXTURES.md section 1 asks for at least 10
N_DUP = 20  # same key twice in one file, different prices
N_VARIANT = 18  # " sym " / "Sym" spellings of an active ticker
N_NULL_PRICE = 10  # base rows with an empty open and a literal NULL high
N_EDGE = N_REJECT + N_DUP + N_VARIANT

HEADER = "trade_date,symbol,open,high,low,close,volume"
FIRST_DATE = dt.date(2024, 1, 2)
# file-source order is modification-time order; one second apart keeps it total
MTIME_BASE = 1_700_000_000


@dataclass
class DayTruth:
    """What a correct pipeline must report and store for one landed file."""

    trade_date: dt.date
    path: str
    raw_cnt: int
    reject_cnt: int
    core_cnt: int
    closes: dict[str, Decimal] = field(repr=False)  # winning close per symbol


def trading_dates(n: int) -> list[dt.date]:
    """``n`` consecutive Mon-Fri dates from ``FIRST_DATE``."""
    out, d = [], FIRST_DATE
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _ticks(x: int) -> str:
    """Price in 1e-4 ticks -> exact CSV decimal text."""
    return f"{x // 10000}.{x % 10000:04d}"


def _bar(rnd: random.Random, base: int) -> tuple[int, int, int, int, int]:
    o = base + rnd.randint(-base // 50, base // 50)
    c = base + rnd.randint(-base // 50, base // 50)
    h = max(o, c) + rnd.randint(0, base // 100)
    lo = max(1, min(o, c) - rnd.randint(0, base // 100))
    return o, h, lo, c, rnd.randint(1_000, 999_999_999)


def eod_day(
    seed: int, trading_date: dt.date, path: str, revision: int = 0, n_active: int = N_ACTIVE
) -> DayTruth:
    """Write one landing CSV and return its truth.

    ``revision > 0`` writes a corrected re-delivery of the same date: the
    same symbols and edge rows, with every close moved by ``revision``
    ticks plus a seeded correction on a tenth of the symbols.
    """
    rnd = random.Random(f"{seed}:{trading_date.isoformat()}")
    universe = [f"S{i:05d}" for i in range(UNIVERSE)]
    active = sorted(rnd.sample(universe, n_active))
    base = {s: 10_000 * (5 + (hash_str(seed, s) % 500)) for s in active}
    bars = {s: list(_bar(rnd, base[s])) for s in active}
    picks = rnd.sample(active, N_DUP + N_VARIANT + N_NULL_PRICE)
    dups, variants = picks[:N_DUP], picks[N_DUP:N_DUP + N_VARIANT]
    null_priced = set(picks[N_DUP + N_VARIANT:])
    # second rows for the duplicate/variant keys; their volume differs from
    # the first row, so the pipeline's keep-rule (same file and load time ->
    # higher volume wins) has a single winner
    seconds = {}
    for s in dups + variants:
        o, h, lo, c, v = _bar(rnd, base[s])
        if v == bars[s][4]:
            v += 1
        seconds[s] = [o, h, lo, c, v]
    rejects = [(f"REJ{i:02d}_X", _bar(rnd, 1_000_000)) for i in range(N_REJECT)]

    if revision:
        fix = random.Random(f"{seed}:{trading_date.isoformat()}:r{revision}")
        for s in active:
            bump = revision + (fix.randint(1, 500) if fix.random() < 0.1 else 0)
            for row in (bars[s], seconds.get(s)):
                if row is not None:
                    row[3] += bump
                    row[1] = max(row[1], row[3])

    d = trading_date.isoformat()
    lines = [HEADER]
    for s in active:
        o, h, lo, c, v = bars[s]
        if s in null_priced:
            lines.append(f"{d},{s},,NULL,{_ticks(lo)},{_ticks(c)},{v}")
        else:
            lines.append(f"{d},{s},{_ticks(o)},{_ticks(h)},{_ticks(lo)},{_ticks(c)},{v}")
    for s in dups + variants:
        o, h, lo, c, v = seconds[s]
        spelled = s if s in dups else (f" {s.lower()} " if len(s) % 2 else f" {s.title()}")
        lines.append(f"{d},{spelled},{_ticks(o)},{_ticks(h)},{_ticks(lo)},{_ticks(c)},{v}")
    for sym, (o, h, lo, c, v) in rejects:
        lines.append(f"{d},{sym},{_ticks(o)},{_ticks(h)},{_ticks(lo)},{_ticks(c)},{-v}")

    closes = {}
    for s in active:
        win = bars[s]
        if s in seconds and seconds[s][4] > win[4]:
            win = seconds[s]
        closes[s] = Decimal(_ticks(win[3]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return DayTruth(trading_date, path, len(lines) - 1, N_REJECT, n_active, closes)


def hash_str(seed: int, s: str) -> int:
    """Stable small hash (Python's ``hash`` of a str is salted per process)."""
    h = seed & 0xFFFFFFFF
    for ch in s.encode():
        h = (h * 131 + ch) & 0xFFFFFFFF
    return h


def land_daily(seed: int, landing: str, trading_date: dt.date, n_active: int = N_ACTIVE) -> DayTruth:
    """Land one date's file into the daily landing directory."""
    return eod_day(seed, trading_date, os.path.join(landing, f"eod_{trading_date.isoformat()}.csv"),
                   n_active=n_active)


@dataclass
class Backlog:
    """A landed streaming backlog and its truth."""

    files: list[str]  # in file-source read order
    originals: dict[dt.date, DayTruth]  # first delivery per date
    corrected: dict[dt.date, DayTruth]  # latest re-delivery per date
    landed_rows: int  # data rows over every file

    def expected_closes(self, d: dt.date) -> dict[str, Decimal]:
        return (self.corrected.get(d) or self.originals[d]).closes

    @property
    def silver_rows(self) -> int:
        return sum(t.core_cnt for t in self.originals.values())


def land_backlog(
    seed: int,
    landing: str,
    n_batches: int,
    files_per_batch: int = 5,
    n_active: int = N_ACTIVE,
) -> Backlog:
    """Land ``n_batches`` micro-batches worth of files.

    Batch 0 holds ``files_per_batch`` new dates; every later batch holds
    ``files_per_batch - 1`` new dates plus one corrected re-delivery of a
    date some earlier batch landed -- so one file in five is a correction,
    and a correction always reaches the stream after its original.
    Modification times fix the read order (the file source sorts by them).
    """
    rnd = random.Random(f"{seed}:backlog")
    n_new = files_per_batch + (n_batches - 1) * (files_per_batch - 1)
    dates = trading_dates(n_new)
    files, originals, corrected, landed = [], {}, {}, 0
    revisions: dict[dt.date, int] = {}
    nxt = 0
    for b in range(n_batches):
        batch = []
        for _ in range(files_per_batch if b == 0 else files_per_batch - 1):
            d = dates[nxt]
            nxt += 1
            path = os.path.join(landing, f"eod_{d.isoformat()}.csv")
            originals[d] = eod_day(seed, d, path, n_active=n_active)
            batch.append(path)
        if b:
            d = rnd.choice(dates[: files_per_batch + (b - 1) * (files_per_batch - 1)])
            revisions[d] = revisions.get(d, 0) + 1
            path = os.path.join(landing, f"eod_{d.isoformat()}_r{revisions[d]}.csv")
            corrected[d] = eod_day(seed, d, path, revision=revisions[d], n_active=n_active)
            batch.insert(rnd.randrange(len(batch) + 1), path)
        files.extend(batch)
    for i, path in enumerate(files):
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
        with open(path, encoding="utf-8") as fh:
            landed += sum(1 for _ in fh) - 1
    return Backlog(files, originals, corrected, landed)


# --- dashboard tables ---------------------------------------------------

#: every table tools/check_oracle.duck_run registers as a view
ORACLE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
_BRANDS = [f"Brand#{m}{n}" for m in range(1, 6) for n in range(1, 6)] + [
    f"Brand#{m}" for m in range(6, 10)
]
_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
SHIP_DAYS = 2499  # distinct ship dates, as in the engine's testdata


def dashboard_tables(seed: int, out_dir: str, lines: int, parts: int) -> None:
    """Write sf0.1-shaped ``lineitem`` and ``part`` parquet (same columns and
    types as the engine's TPC-H-like testdata) plus one-row stand-ins for
    the other tables the oracle session registers."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = lines // 4
    orderkey = np.sort(rng.integers(0, n_orders, lines))
    # unique (orderkey, linenumber): number lines within each order
    first = np.r_[0, np.flatnonzero(np.diff(orderkey)) + 1]
    run_id = np.repeat(np.arange(first.size), np.diff(np.r_[first, lines]))
    linenumber = (np.arange(lines) - first[run_id] + 1).astype(np.int32)
    quantity = rng.integers(1, 51, lines).astype(np.float64)
    price = np.round(rng.integers(90_068, 10_499_992, lines) / 100.0, 2)
    ship = np.datetime64("1995-01-02", "us") + rng.integers(0, SHIP_DAYS, lines).astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    lineitem = pa.table({
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(0, parts, lines).astype(np.int64),
        "l_suppkey": rng.integers(0, 1000, lines).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, lines) / 100.0,
        "l_tax": rng.integers(0, 9, lines) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, lines)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, lines)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))
    part = pa.table({
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": pa.array([f"part {i}" for i in range(parts)]),
        "p_brand": pa.array(np.array(_BRANDS)[rng.integers(0, len(_BRANDS), parts)]),
        "p_type": pa.array(np.array(_TYPES)[rng.integers(0, len(_TYPES), parts)]),
        "p_size": rng.integers(1, 51, parts).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(parts) / 10.0, 2),
    })
    pq.write_table(part, os.path.join(out_dir, "part.parquet"))
    for t in ORACLE_TABLES:
        if t not in ("lineitem", "part"):
            pq.write_table(pa.table({"unused": [0]}), os.path.join(out_dir, f"{t}.parquet"))
