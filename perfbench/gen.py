"""Seeded input generators for the benchmark workloads.

Three kinds of input, all pure functions of ``(seed, scale)``:

* ``tpch_tables`` — the ten test tables (TPC-H-shaped star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value domains of the shipped ``sf*`` test data.  ``scale``
  is the scale factor: lineitem has about ``6e6 * scale`` rows.  Foreign
  keys are consistent; the seed changes values, never row counts.
* ``f1_tree`` — a raw F1 session tree ``<year>/<event>/<session>/<table>.csv``
  holding the six extractor tables, written as the extractor writes
  them (duration strings, ISO timestamps, string booleans).
* ``dml_batches`` — per-round merge sources, append batches and the SQL
  predicates of the DELETE / UPDATE statements for the ``lake_write``
  workload, keyed against a generated ``orders`` table.

Generation uses NumPy and PyArrow only (no Spark).  ``run.py`` runs it
as a child process, so the timed process never imports either:

    python3 perfbench/gen.py CACHE_DIR WORKLOAD SEED SCALE_JSON

prints the manifest of the (generated or cached) input set as one JSON
line.  ``ensure_inputs`` caches each input set on disk
under a directory named by (workload, seed, scale), keeps the 24 most
recent sets, and records the row and byte counts in ``manifest.json``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import F1_TABLES, tree_bytes

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

F1_DRIVERS = [
    "VER", "PER", "HAM", "RUS", "LEC", "SAI", "NOR", "PIA", "ALO", "STR",
    "GAS", "OCO", "ALB", "SAR", "TSU", "RIC", "BOT", "ZHO", "MAG", "HUL",
]
COMPOUNDS = ["SOFT", "MEDIUM", "HARD", "INTERMEDIATE", "WET"]
EVENTS = ["Bahrain_Grand_Prix", "Monaco_Grand_Prix", "Italian_Grand_Prix",
          "Japanese_Grand_Prix", "British_Grand_Prix", "Dutch_Grand_Prix"]


def _ts(base: datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    epoch_us = int(base.timestamp() * 1e6)
    return pa.array(epoch_us + us, type=pa.timestamp("us"))


def _dates(rng, n: int, start: datetime, days: int) -> pa.Array:
    return _ts(start, rng.integers(0, days, n) * 86400.0)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def tpch_tables(
    out_dir: str, seed: int, scale: float, only: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the test tables (all ten, or those named in ``only``) under
    ``out_dir``; returns rows per table written."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * scale))
    n_users = max(150, n_cust // 10)
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": rng.choice(names, n_part),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    tables["orders"] = orders_table(rng, 0, n_ord, n_cust)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, datetime(1995, 1, 2), 2499),
    })
    ev_t = np.sort(rng.uniform(0, 30 * 86400.0, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), ev_t),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": _money(rng, n_ev, 0.0, 200.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)
    tables = {k: v for k, v in tables.items() if only is None or k in only}
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def orders_table(rng, first_key: int, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n, datetime(1995, 1, 1), 2404),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents; one in five is a near-duplicate (a few words
    replaced) of an earlier one, so the pair and cluster queries find
    real work."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(12, 90))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label, pa.int32()),
    })


# ------------------------------------------------------------------ F1 tree


def _dur(seconds: float, hours: bool) -> str:
    ms = int(round(seconds * 1000))
    h, rem = divmod(ms, 3_600_000)
    m, rem = divmod(rem, 60_000)
    s, ms = divmod(rem, 1000)
    if hours:
        return f"{h:02d}:{m:02d}:{s:02d}:{ms:03d}"
    return f"{m + 60 * h:02d}:{s:02d}:{ms:03d}"


def _csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join("" if v is None else str(v) for v in r) + "\n")


def f1_tree(out_dir: str, seed: int, events: int, drivers: int, laps: int) -> dict[str, int]:
    """Write a raw F1 session tree; returns rows per table."""
    rng = np.random.default_rng([seed, 2])
    rows = {t: 0 for t in F1_TABLES}
    drv = F1_DRIVERS[:drivers]
    for e in range(events):
        ev_name = EVENTS[e % len(EVENTS)] + (f"_{e // len(EVENTS)}" if e >= len(EVENTS) else "")
        ev_date = datetime(2024, 3, 1) + timedelta(days=14 * e)
        for s_i, session in enumerate(("Q", "R")):
            d = os.path.join(out_dir, "2024", ev_name, session)
            os.makedirs(d, exist_ok=True)
            start = ev_date + timedelta(days=s_i, hours=15)
            _csv(os.path.join(d, "event_info.csv"),
                 ["EventDate", "Country", "Location", "SessionNameActual",
                  "SessionStartDateLocalISO", "SessionStartTimeZone",
                  "SessionStartDateUTCISO"],
                 [[ev_date.isoformat(), f"Country{e}", f"Location{e}",
                   "Qualifying" if session == "Q" else "Race",
                   start.isoformat(), "+01:00",
                   (start - timedelta(hours=1)).isoformat()]])
            rows["event_info"] += 1
            base_lap = rng.uniform(78.0, 95.0)
            lap_rows, telem_rows, stint_rows = [], [], []
            totals = []
            for di, code in enumerate(drv):
                t = 0.0
                stint, compound_i = 1, int(rng.integers(0, 3))
                stint_start = 1
                for lap in range(1, laps + 1):
                    lt = base_lap + rng.uniform(0.0, 4.0) + 0.05 * di
                    s1 = lt * rng.uniform(0.30, 0.36)
                    s2 = lt * rng.uniform(0.30, 0.36)
                    s3 = lt - s1 - s2
                    if lap > 1 and rng.random() < 0.08:
                        stint_rows.append([code, stint, COMPOUNDS[compound_i],
                                           stint_start, lap - 1, lap - stint_start])
                        stint, compound_i, stint_start = stint + 1, int(rng.integers(0, 3)), lap
                    lap_rows.append([
                        code, 1 + di, f"Team{di // 2}", lap, _dur(lt, False),
                        _dur(s1, False), _dur(s2, False), _dur(s3, False),
                        _dur(3600 * 15 + t + lt, True), None, None,
                        _dur(t + s1, True), _dur(t + s1 + s2, True),
                        _dur(t + lt, True), _dur(t, True), stint,
                        COMPOUNDS[compound_i], lap - stint_start + 1,
                        "True" if rng.random() < 0.9 else "False",
                    ])
                    speed = rng.uniform(180.0, 230.0)
                    telem_rows.append([
                        code, f"Team{di // 2}", lap, int(rng.integers(20, 60)),
                        round(t, 3), round(speed, 3), round(speed + 100.0, 3),
                        round(speed - 120.0, 3), round(rng.uniform(9000, 11000), 1),
                        round(rng.uniform(11500, 12500), 1), round(rng.uniform(50, 80), 2),
                        round(rng.uniform(0.1, 0.3), 4), round(lt * speed / 3.6, 2),
                        "True" if rng.random() < 0.5 else "False",
                    ])
                    t += lt
                stint_rows.append([code, stint, COMPOUNDS[compound_i],
                                   stint_start, laps, laps - stint_start + 1])
                totals.append(t)
            order = np.argsort(totals)
            res_rows = []
            for pos, di in enumerate(order, start=1):
                gap = totals[di] - totals[order[0]]
                q = [_dur(base_lap - 1.0 + rng.uniform(0, 2), False) for _ in range(3)]
                res_rows.append([
                    1 + int(di), drv[di], drv[di], f"Team{di // 2}", pos,
                    _dur(totals[di] if pos == 1 else gap, True), q[0],
                    q[1] if pos <= 15 else None, q[2] if pos <= 10 else None,
                    round(gap, 3), laps, "Finished",
                ])
            n_weather = max(2, int(sum(totals) / len(totals) / 60))
            weather_rows = [[
                _dur(3600 * 15 + 60.0 * i, True), round(rng.uniform(18, 30), 1),
                round(rng.uniform(25, 45), 1), round(rng.uniform(30, 70), 1),
                round(rng.uniform(1005, 1020), 1), round(rng.uniform(0, 6), 1),
                int(rng.integers(0, 360)), "False",
            ] for i in range(n_weather)]
            _csv(os.path.join(d, "session_results.csv"),
                 ["DriverNumber", "Driver", "Abbreviation", "TeamName", "Position",
                  "Time", "Q1", "Q2", "Q3", "Interval", "Laps", "Status"], res_rows)
            _csv(os.path.join(d, "laps_data.csv"),
                 ["Driver", "DriverNumber", "Team", "LapNumber", "LapTime",
                  "Sector1Time", "Sector2Time", "Sector3Time", "Time", "PitInTime",
                  "PitOutTime", "Sector1SessionTime", "Sector2SessionTime",
                  "Sector3SessionTime", "LapStartTime", "Stint", "Compound",
                  "TyreLife", "IsAccurate"], lap_rows)
            _csv(os.path.join(d, "lap_telemetry_summary.csv"),
                 ["Driver", "Team", "LapNumber", "TotalGearChanges",
                  "TelemetryLapStartTime_seconds", "AvgSpeed", "MaxSpeed", "MinSpeed",
                  "AvgRPM", "MaxRPM", "AvgThrottle", "AvgBrake", "MaxDistance",
                  "DRSActive"], telem_rows)
            _csv(os.path.join(d, "weather_data.csv"),
                 ["Time", "AirTemp", "TrackTemp", "Humidity", "Pressure", "WindSpeed",
                  "WindDirection", "Rainfall"], weather_rows)
            _csv(os.path.join(d, "tyre_stints_summary.csv"),
                 ["Driver", "StintNumber", "Compound", "StartLap", "EndLap",
                  "NumLapsInStint"], stint_rows)
            for t, r in (("session_results", res_rows), ("laps_data", lap_rows),
                         ("lap_telemetry_summary", telem_rows),
                         ("weather_data", weather_rows),
                         ("tyre_stints_summary", stint_rows)):
                rows[t] += len(r)
    return rows


# -------------------------------------------------------------- DML batches


def dml_batches(out_dir: str, seed: int, n_orders: int, n_cust: int, rounds: int) -> list[dict]:
    """Write the merge sources and append batches of ``rounds`` DML rounds
    against an ``orders`` table with keys ``0 .. n_orders-1``.

    Returns one dict per round: file paths of the merge source and the
    append batch, and the SQL predicates of the CoW delete, the MoR
    delete and the update (valid in both Spark SQL and DuckDB)."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    batch = max(50, n_orders // 20)
    next_key = n_orders
    out = []
    for r in range(rounds):
        # half updates of existing keys, half inserts of new keys
        upd = rng.choice(n_orders, batch // 2, replace=False)
        src = orders_table(rng, 0, batch, n_cust)
        keys = np.concatenate([upd, np.arange(next_key, next_key + batch - batch // 2)])
        next_key += batch - batch // 2
        src = src.set_column(0, "o_orderkey", pa.array(keys, pa.int64()))
        merge_path = os.path.join(out_dir, f"merge_{r}.parquet")
        _write(src, merge_path)
        app = orders_table(rng, next_key, batch, n_cust)
        next_key += batch
        append_path = os.path.join(out_dir, f"append_{r}.parquet")
        _write(app, append_path)
        out.append({
            "merge": merge_path,
            "append": append_path,
            "rows": src.num_rows + app.num_rows,
            "delete": f"o_orderkey % 23 = {r % 23}",
            "delete_mor": f"o_custkey % 31 = {(7 * r + 3) % 31}",
            "update": f"o_orderkey % 17 = {(5 * r + 1) % 17}",
            # exact in binary floating point, so both engines agree
            "update_set": "o_totalprice + 1.25",
        })
    return out


# ------------------------------------------------------------------- cache


def ensure_inputs(cache_root: str, workload: str, seed: int, scale: dict) -> dict:
    """Generate (or reuse) the inputs of one workload; returns the manifest.

    ``scale`` holds the workload's size knobs (see ``workloads.SCALES``).
    The manifest lists the input directories, rows per table and input
    bytes.  It is written last, so a half-written cache is regenerated.
    """
    tag = "-".join(f"{k}{v}" for k, v in sorted(scale.items()))
    d = os.path.join(cache_root, f"{workload}-seed{seed}-{tag}")
    man_path = os.path.join(d, "manifest.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    man: dict = {"workload": workload, "seed": seed, "scale": scale, "dir": d}
    tables_dir = os.path.join(d, "tables")
    man["tables_dir"] = tables_dir
    only = ("orders",) if workload == "lake_write" else None
    man["rows"] = tpch_tables(tables_dir, seed, scale["sf"], only)
    if workload == "lake_write":
        man["raw_dir"] = os.path.join(d, "raw")
        man["f1_rows"] = f1_tree(man["raw_dir"], seed, scale["events"],
                                 scale["drivers"], scale["laps"])
        man["batches"] = dml_batches(
            os.path.join(d, "batches"), seed, man["rows"]["orders"],
            max(150, int(150_000 * scale["sf"])), scale["rounds"])
        man["f1_bytes"] = tree_bytes(man["raw_dir"])
        man["batch_bytes"] = tree_bytes(os.path.join(d, "batches"))
        man["orders_bytes"] = os.path.getsize(os.path.join(tables_dir, "orders.parquet"))
    man["input_rows"] = (sum(man["rows"].values()) + sum(man.get("f1_rows", {}).values())
                         + sum(b["rows"] for b in man.get("batches", ())))
    man["input_bytes"] = tree_bytes(d)
    with open(man_path + ".tmp", "w") as f:
        json.dump(man, f)
    os.replace(man_path + ".tmp", man_path)
    _prune(cache_root, keep=d)
    return man


def _prune(cache_root: str, keep: str, max_sets: int = 24) -> None:
    """Drop the least recently generated input sets beyond ``max_sets``."""
    sets = sorted((os.path.join(cache_root, e) for e in os.listdir(cache_root)),
                  key=os.path.getmtime, reverse=True)
    for old in sets[max_sets:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    cache, workload, seed, scale = sys.argv[1:5]
    print(json.dumps(ensure_inputs(cache, workload, int(seed), json.loads(scale))))
