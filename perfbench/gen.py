"""Seeded input generator of the ``psx_daily`` workload.

``write_psx_days`` is a pure function of its seed (same seed, byte-identical
files; the parquet writer is pinned to one codec and one row group so the
bytes do not depend on the machine). It writes about 450 tickers with daily
adds, deletes and renames; per day one ticker list (the sync source), one
details table (the update-info source) and one tick drop for ``landing/``.
Some drops re-deliver an earlier day's file and some ticks arrive a day or
two late.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SECTORS = ["Commercial Banks", "Fertilizer", "Cement", "Refinery",
            "Oil & Gas Marketing Companies", "Oil & Gas Exploration Companies",
            "Power Generation & Distribution", "Technology & Communication",
            "Pharmaceuticals", "Textile Composite", "Automobile Assembler",
            "Food & Personal Care Products", "Insurance", "Chemical"]
_NAME_WORDS = ["Pak", "National", "United", "Habib", "Fauji", "Lucky",
               "Engro", "Crescent", "Nishat", "Maple", "Attock", "Kohinoor",
               "Sapphire", "Gul", "Ahmad", "Indus", "Shifa", "Karachi"]
_SUFFIX = ["Limited", "Mills Limited", "Industries Limited",
           "Corporation Limited", "Company Limited"]
UNKNOWN_NAME, UNKNOWN_SECTOR = "No record found", "Unknown"
_US_PER_DAY = 86_400_000_000


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _symbol(rng, taken):
    while True:
        n = int(rng.integers(3, 7))
        s = "".join(chr(65 + int(c)) for c in rng.integers(0, 26, n))
        if s not in taken:
            taken.add(s)
            return s


def _company(rng, sym):
    name = " ".join([_NAME_WORDS[int(rng.integers(0, len(_NAME_WORDS)))], sym.title(),
                     _SUFFIX[int(rng.integers(0, len(_SUFFIX)))]])
    return {"name": name, "sector": _SECTORS[int(rng.integers(0, len(_SECTORS)))],
            "url": f"https://dps.psx.com.pk/company/{sym}"}


def _tickers_table(rows):
    return pa.table({k: [r[k] for r in rows] for k in ("symbol", "name", "sector", "url")})


def merged_universe(universe, details):
    """The update-info stage's answer: each field takes the details value
    when it is present and meaningful, else keeps the synced value."""
    by_sym = {d["symbol"]: d for d in details}
    out = []
    for u in universe:
        d = by_sym.get(u["symbol"])
        r = dict(u)
        if d is not None:
            if d["name"] not in (None, u["symbol"], UNKNOWN_NAME):
                r["name"] = d["name"]
            if d["sector"] not in (None, UNKNOWN_SECTOR):
                r["sector"] = d["sector"]
            if d["url"] not in (None, ""):
                r["url"] = d["url"]
        out.append(r)
    return out


def write_psx_days(out_dir, seed, days, n_tickers=450, ticks_per_ticker=12,
                   redeliveries=1, late_share=0.03):
    """Write ``days`` trading days under ``out_dir``/day<d>/ and return the
    generator's summary (input bytes, redelivery and late-tick shares, and
    the final merged universe the snapshot check compares with). The seed
    picks which days re-deliver an earlier drop; their number is fixed, so
    every seed lands the same amount of duplicate input."""
    rng = np.random.default_rng(seed)
    redeliver_on = set(rng.choice(np.arange(1, days), size=min(redeliveries, days - 1),
                                  replace=False).tolist())
    taken = set()
    truth = {}
    for _ in range(n_tickers):
        s = _symbol(rng, taken)
        truth[s] = _company(rng, s)
    listed = sorted(truth)
    start = np.datetime64("2025-01-06", "D")
    next_event = 0
    drops = []  # (day, file name) of every tick file delivered so far
    stats = {"days": days, "input_bytes": 0, "tick_rows": 0, "late_rows": 0,
             "redelivered_files": 0, "drop_files": 0, "adds": 0, "deletes": 0,
             "renames": 0}
    final = None
    for d in range(days):
        day = np.busday_offset(start, d, roll="forward")
        ddir = os.path.join(out_dir, f"day{d:03d}")
        os.makedirs(ddir, exist_ok=True)
        if d > 0:  # the day's listing changes before the sync
            for _ in range(int(rng.integers(0, 3))):
                s = listed.pop(int(rng.integers(0, len(listed))))
                stats["deletes"] += 1
            for _ in range(int(rng.integers(0, 3))):
                s = _symbol(rng, taken)
                truth[s] = _company(rng, s)
                listed.append(s)
                stats["adds"] += 1
            if rng.random() < 0.5:
                i = int(rng.integers(0, len(listed)))
                old, new = listed[i], _symbol(rng, taken)
                truth[new] = dict(truth[old], url=f"https://dps.psx.com.pk/company/{new}")
                listed[i] = new
                stats["renames"] += 1
            listed.sort()
        # sync source: some fields arrive as sentinels, details fill them in
        universe, details = [], []
        for s in listed:
            t = truth[s]
            u = {"symbol": s, **t}
            if rng.random() < 0.1:
                u["name"] = UNKNOWN_NAME
            if rng.random() < 0.1:
                u["sector"] = UNKNOWN_SECTOR
            universe.append(u)
            if rng.random() < 0.9:
                det = {"symbol": s, **t}
                if rng.random() < 0.1:
                    det["sector"] = UNKNOWN_SECTOR
                details.append(det)
        _write(_tickers_table(universe), os.path.join(ddir, "universe.parquet"))
        _write(_tickers_table(details), os.path.join(ddir, "details.parquet"))
        final = merged_universe(universe, details)
        # the day's tick drop; a few ticks belong to the previous two days
        n = len(listed) * ticks_per_ticker
        sym = np.repeat(np.array(listed), ticks_per_ticker)
        day_us = day.astype("datetime64[us]").astype(np.int64)
        ts = day_us + rng.integers(9 * 3600, 15 * 3600, n) * 1_000_000 + \
            rng.integers(0, 1_000_000, n)
        late = rng.random(n) < late_share
        if d > 0:
            ts[late] -= rng.integers(1, min(d, 2) + 1, int(late.sum())) * _US_PER_DAY
            stats["late_rows"] += int(late.sum())
        price = np.round(rng.uniform(10.0, 500.0, len(listed)), 2)
        value = np.round(np.repeat(price, ticks_per_ticker) *
                         rng.uniform(0.97, 1.03, n), 2)
        ticks = pa.table({
            "event_id": pa.array(np.arange(next_event, next_event + n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "event_type": sym,
            "value": value})
        next_event += n
        fname = f"ticks_{d:03d}.parquet"
        _write(ticks, os.path.join(ddir, "drop", fname))
        drops.append((d, fname))
        stats["tick_rows"] += n
        stats["drop_files"] += 1
        if d in redeliver_on:  # at-least-once delivery
            src_day, src = drops[int(rng.integers(0, len(drops) - 1))]
            re_name = f"redelivery_{d:03d}_{src}"
            with open(os.path.join(out_dir, f"day{src_day:03d}", "drop", src), "rb") as f:
                data = f.read()
            with open(os.path.join(ddir, "drop", re_name), "wb") as f:
                f.write(data)
            stats["redelivered_files"] += 1
            stats["drop_files"] += 1
        for root, _, files in os.walk(ddir):
            stats["input_bytes"] += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    stats["redelivery_share"] = stats["redelivered_files"] / stats["drop_files"]
    stats["late_share"] = stats["late_rows"] / stats["tick_rows"]
    with open(os.path.join(out_dir, "final_universe.json"), "w") as f:
        json.dump(final, f, sort_keys=True)
    return stats
