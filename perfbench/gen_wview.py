"""Seeded wview `.sdb` station generator and its expected-output manifest.

Each station is a wview SQLite archive (`archive` table, 5-minute cadence,
288 samples per complete UTC day). The generator covers the inputs the
archive job treats specially:

* unit systems: US stations (`usUnits` 1), metric stations (`usUnits` 16,
  converted all the same, because the reference converts on any non-zero
  flag), and stations that switch from 1 to 0 mid-history (rows after the
  switch pass through unconverted);
* about 1% NULL sensor cells (NULL passes through);
* exact zero readings, which the reference never converts;
* rows on the day boundary (every day starts with a 00:00:00 sample);
* short days, where one station misses samples, so the completeness gate
  blocks a tick whose "yesterday" is short.

The manifest holds, per UTC day, the row count and, per sensor column, the
sum and absolute sum of the converted values; for the daily workload it
also holds the expected status, days written and watermark after each
tick. Conversion follows `graft.functions.UnitConversions` (which follows
the reference), computed here independently in plain Python.
"""

import datetime as dt
import json
import os
import random
import sqlite3

SAMPLES_PER_DAY = 288
EPOCH = dt.date(1970, 1, 1)
FIRST_DAY = dt.date(2021, 1, 1)
# share of history days on which one station is short
SHORT_HISTORY_RATE = 0.03
# every fifth tick day, from this one, is short, so that each run has the
# same mix of passing, blocked and catch-up ticks
SHORT_TICK_PHASE = 2

# (column, physical type), in the reference's declaration order
SENSORS = [
    ("barometer", "pressure"), ("pressure", "pressure"),
    ("altimeter", "pressure"), ("inTemp", "temperature"),
    ("outTemp", "temperature"), ("inHumidity", "percent"),
    ("outHumidity", "percent"), ("windSpeed", "speed"),
    ("windDir", "direction"), ("windGust", "speed"),
    ("windGustDir", "direction"), ("rainRate", "rate"),
    ("rain", "amount"), ("dewpoint", "temperature"),
    ("windchill", "temperature"), ("heatindex", "temperature"),
]
# wview columns the job does not archive; present so the decoder skips them
EXTRA = ["ET", "radiation", "UV"]

DDL = (
    "CREATE TABLE archive (dateTime INTEGER NOT NULL UNIQUE PRIMARY KEY, "
    "usUnits INTEGER NOT NULL, interval INTEGER NOT NULL, "
    + ", ".join(f"{c} REAL" for c, _ in SENSORS)
    + ", " + ", ".join(f"{c} REAL" for c in EXTRA) + ")"
)
INSERT = (
    f"INSERT INTO archive VALUES ({', '.join('?' * (3 + len(SENSORS) + len(EXTRA)))})"
)


def convert(phys, us_units, v):
    """The archive job's conversion of one cell."""
    if v is None or not us_units or v == 0.0:
        return v
    if phys == "pressure":
        return v * 33.863886
    if phys == "temperature":
        return (v - 32.0) * 5.0 / 9.0
    if phys == "speed":
        return v * 1.609344
    if phys in ("rate", "amount"):
        return v * 25.4
    return v


def day_start(day):
    return (day - EPOCH).days * 86400


def day_key(day):
    return day.strftime("%Y%m%d")


def _reading(rng, phys):
    r = rng.random()
    if r < 0.01:
        return None
    if phys == "pressure":
        return round(rng.uniform(29.0, 31.0), 3)
    if phys == "temperature":
        return 0.0 if r < 0.02 else round(rng.uniform(-10.0, 100.0), 1)
    if phys == "percent":
        return round(rng.uniform(5.0, 100.0), 0)
    if phys == "speed":
        return 0.0 if r < 0.15 else round(rng.uniform(0.1, 40.0), 1)
    if phys == "direction":
        return round(rng.uniform(0.0, 359.0), 0)
    # rate / amount: mostly dry
    return 0.0 if r < 0.85 else round(rng.uniform(0.01, 1.5), 2)


def _station_kinds(n):
    kinds = ["us", "metric", "switch"]
    return [kinds[i % len(kinds)] for i in range(n)]


def _units(kind, day, switch_day):
    if kind == "us":
        return 1
    if kind == "metric":
        return 16
    return 1 if day < switch_day else 0


def generate(out_dir, seed, stations, history_days, tick_days):
    """Write the station files and `manifest.json` under `out_dir`.

    History days go into `<station>.sdb`, tick days into
    `<station>.pending.sdb`, from which the daily workload appends one
    day before each tick. The last history day is always complete, so a
    backfill to it passes the gate.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    names = [f"st{i:02d}" for i in range(stations)]
    kinds = _station_kinds(stations)
    all_days = [FIRST_DAY + dt.timedelta(days=i) for i in range(history_days + tick_days)]
    history_end = all_days[history_days - 1]
    switch_day = FIRST_DAY + dt.timedelta(days=history_days // 2)

    # short[(day, station index)] = number of samples missing that day
    short = {}
    for i, day in enumerate(all_days):
        t = i - history_days
        if (rng.random() < SHORT_HISTORY_RATE) if t < 0 else (t % 5 == SHORT_TICK_PHASE):
            if day != history_end:
                short[(day, rng.randrange(stations))] = rng.randint(1, 3)

    days = {}
    for si, name in enumerate(names):
        hist = sqlite3.connect(os.path.join(out_dir, f"{name}.sdb"))
        pend = sqlite3.connect(os.path.join(out_dir, f"{name}.pending.sdb"))
        for conn in (hist, pend):
            conn.execute(DDL)
        for i, day in enumerate(all_days):
            conn = hist if i < history_days else pend
            units = _units(kinds[si], day, switch_day)
            missing = short.get((day, si), 0)
            # drop samples from the middle of the day, never the midnight row
            skip = set(rng.sample(range(1, SAMPLES_PER_DAY), missing)) if missing else ()
            base = day_start(day)
            rows = []
            agg = days.setdefault(day_key(day), {
                "rows": 0, "sum": {c: 0.0 for c, _ in SENSORS},
                "abs": {c: 0.0 for c, _ in SENSORS}})
            for slot in range(SAMPLES_PER_DAY):
                if slot in skip:
                    continue
                vals = [_reading(rng, phys) for _, phys in SENSORS]
                rows.append([base + slot * 300, units, 5] + vals
                            + [round(rng.uniform(0, 5), 2) for _ in EXTRA])
                agg["rows"] += 1
                for (col, phys), v in zip(SENSORS, vals):
                    c = convert(phys, units, v)
                    if c is not None:
                        agg["sum"][col] += c
                        agg["abs"][col] += abs(c)
            conn.executemany(INSERT, rows)
        for conn in (hist, pend):
            conn.commit()
            conn.close()

    ticks = []
    watermark = history_end + dt.timedelta(days=1)
    for day in all_days[history_days:]:
        complete = all((day, si) not in short for si in range(stations))
        if complete:
            written = (day - watermark).days + 1
            watermark = day + dt.timedelta(days=1)
            ticks.append({"yesterday": day_key(day), "status": 1,
                          "days_written": written,
                          "watermark": day_key(watermark)})
        else:
            ticks.append({"yesterday": day_key(day), "status": 2,
                          "days_written": 0,
                          "watermark": day_key(watermark)})

    manifest = {
        "seed": seed,
        "stations": [{"name": n, "kind": k} for n, k in zip(names, kinds)],
        "first_day": day_key(FIRST_DAY),
        "history_end": day_key(history_end),
        "history_rows": sum(days[day_key(d)]["rows"] for d in all_days[:history_days]),
        "days": days,
        "ticks": ticks,
    }
    with open(os.path.join(out_dir, "manifest.json.tmp"), "w") as f:
        json.dump(manifest, f)
    os.replace(os.path.join(out_dir, "manifest.json.tmp"),
               os.path.join(out_dir, "manifest.json"))
    return manifest


def append_day(station_sdb, pending_sdb, day_yyyymmdd):
    """Move one UTC day of rows from a pending file into a station file,
    the way a live wview station grows its archive."""
    day = dt.datetime.strptime(day_yyyymmdd, "%Y%m%d").date()
    lo = day_start(day)
    conn = sqlite3.connect(station_sdb)
    try:
        conn.execute("ATTACH DATABASE ? AS p", (pending_sdb,))
        conn.execute("INSERT INTO archive SELECT * FROM p.archive "
                     "WHERE dateTime BETWEEN ? AND ?", (lo, lo + 86399))
        conn.commit()
    finally:
        conn.close()


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 5 or sys.argv[1] != "append":
        sys.exit("usage: gen_wview.py append <station.sdb> <pending.sdb> <YYYYMMDD>")
    append_day(*sys.argv[2:])
