"""Output checks, made apart from the program.

* ``registry``: each query's result against its DuckDB twin
  (``SparkEntry.oracleSql``) over the same generated tables, compared
  column-name-sorted and row-sorted, as the engine's correctness gate
  does (``scripts/verify_local.py``).
* ``cdc``: the final upsert tables and the closed-window aggregates
  against a fold of the generated feed in plain Python.

Each returns the names of the items that failed, with a reason.
"""
import datetime as dt
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from gen import TABLES


# ------------------------------------------------------------ registry

def _dates_as_datetime(s):
    """DuckDB returns DATE as datetime64 while pandas reads parquet dates
    as datetime.date objects: the same values, normalized here."""
    if s.dtype == object:
        nn = s.dropna()
        if len(nn) and all(isinstance(v, dt.date) and not isinstance(v, dt.datetime)
                           for v in nn):
            return pd.to_datetime(s)
    return s


def _same_column(e, g):
    e, g = _dates_as_datetime(e), _dates_as_datetime(g)
    e_dt = str(e.dtype).startswith("datetime")
    g_dt = str(g.dtype).startswith("datetime")
    if e_dt or g_dt:
        if not (e_dt and g_dt):
            return False
        e, g = pd.to_datetime(e), pd.to_datetime(g)
        if (getattr(e.dtype, "tz", None) is None) != (getattr(g.dtype, "tz", None) is None):
            return False
        if getattr(e.dtype, "tz", None) is not None:
            e, g = e.dt.tz_localize(None), g.dt.tz_localize(None)
        return e.astype("datetime64[ns]").equals(g.astype("datetime64[ns]"))
    if e.dtype.kind == "f" or g.dtype.kind == "f":
        if not (e.dtype.kind in "fiu" and g.dtype.kind in "fiu"):
            return False
        return bool(np.allclose(e.astype(float), g.astype(float), rtol=0, atol=1e-9,
                                equal_nan=True))
    return e.astype(object).where(pd.notna(e), None).equals(
        g.astype(object).where(pd.notna(g), None))


def registry(data_dir, out_dir):
    """Compare every dumped result with its DuckDB twin."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    fails = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{out_dir}/results/{name}/*.parquet"))
        if not files:
            fails[name] = "no result written"
            continue
        try:
            exp = con.sql(sql).df()
            got = pd.concat([pd.read_parquet(f) for f in files])
            exp = exp.reindex(sorted(exp.columns), axis=1)
            got = got.reindex(sorted(got.columns), axis=1)
            if list(exp.columns) != list(got.columns):
                fails[name] = f"columns {list(got.columns)} != {list(exp.columns)}"
                continue
            if len(exp) != len(got):
                fails[name] = f"{len(got)} rows != {len(exp)}"
                continue
            exp = exp.sort_values(list(exp.columns), ignore_index=True)
            got = got.sort_values(list(got.columns), ignore_index=True)
            bad = [c for c in exp.columns if not _same_column(exp[c], got[c])]
            if bad:
                fails[name] = f"columns differ: {bad}"
        except Exception as e:  # one broken result fails that query only
            fails[name] = f"compare error: {e}"
    return fails


# ----------------------------------------------------------------- cdc

HOUR_US = 3_600 * 1_000_000
DAY_US = 24 * HOUR_US
# watermark delays of ActivityAggs.hourlyStreaming / dailyStreaming
HOURLY_DELAY_US = 2 * HOUR_US
DAILY_DELAY_US = 25 * HOUR_US
# approx_count_distinct's default relative standard deviation; the check
# allows four of them
HLL_RSD = 0.05


def _iso_us(s):
    t = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int((t - dt.datetime(1970, 1, 1)) / dt.timedelta(microseconds=1))


def _dept_category(d):
    return ("Technical" if d in ("Engineering", "IT")
            else "Business" if d in ("Sales", "Marketing") else "Support")


def _level(email):
    return "Senior" if "senior" in email else "Lead" if "lead" in email else "Regular"


def _device_category(d):
    return {"mobile": "Mobile", "tablet": "Tablet"}.get(d, "Desktop")


def _duration_category(s):
    return "short" if s < 30 else "medium" if s < 300 else "long"


def _table(path):
    tbl = pq.read_table(path)
    cols = {}
    for name in tbl.column_names:
        col = tbl.column(name)
        if str(col.type).startswith("timestamp"):
            col = col.cast("int64")
        elif str(col.type) == "date32[day]":
            col = col.cast("string")
        cols[name] = col.to_pylist()
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


def cdc(feed_path, out_dir, feed_start_ms, now_date):
    """Fold the feed and compare; returns (failed feed positions, reasons)."""
    emp_rows, act_rows = {}, {}
    emp_pos, act_pos = {}, {}
    acts = []
    with open(feed_path) as f:
        for pos, line in enumerate(f):
            stream, env = line.rstrip("\n").split("\t", 1)
            payload = json.loads(env)["payload"]
            key_pos = emp_pos if stream == "e" else act_pos
            after = json.loads(payload["after"])
            key_pos.setdefault(after["id"], []).append(pos)
            if payload["op"] not in ("c", "u"):
                continue
            common = {"event_timestamp": payload["ts_ms"],
                      "processing_timestamp": (feed_start_ms + pos) * 1000,
                      "data_source": "postgresql", "processing_date": now_date}
            if stream == "e":
                emp_rows[after["id"]] = dict(after, **common,
                    created_at=_iso_us(after["created_at"]),
                    department_category=_dept_category(after["department"]),
                    employee_level=_level(after["email"]))
            else:
                ts = _iso_us(after["activity_timestamp"])
                hour = (ts // HOUR_US) % 24
                row = dict(after, **common, activity_timestamp=ts,
                           created_at=_iso_us(after["created_at"]),
                           activity_hour=hour, activity_date=str(
                               dt.date(1970, 1, 1) + dt.timedelta(days=ts // DAY_US)),
                           session_duration_category=_duration_category(after["duration_seconds"]),
                           is_business_hours=9 <= hour <= 17,
                           device_category=_device_category(after["device_type"]))
                act_rows[after["id"]] = row
                acts.append((pos, row))

    bad_pos, reasons = set(), []

    def compare(name, expected, positions):
        got = {r["id"]: r for r in _table(f"{out_dir}/results/{name}")}
        wrong = [k for k in expected.keys() | got.keys()
                 if k not in got or k not in expected
                 or any(got[k].get(c) != v for c, v in expected[k].items())]
        for k in wrong:
            bad_pos.update(positions.get(k, []))
        if wrong:
            k = wrong[0]
            diff = {c: (got.get(k, {}).get(c), v) for c, v in expected.get(k, {}).items()
                    if got.get(k, {}).get(c) != v}
            reasons.append(f"{name}: {len(wrong)} of {len(expected)} ids wrong, e.g. {k}: "
                           f"(got, expected) {diff or 'missing or extra'}")

    compare("employees", emp_rows, emp_pos)
    compare("activities", act_rows, act_pos)

    # closed-window aggregates over every kept activity event
    max_ts = max(r["activity_timestamp"] for _, r in acts)
    hourly, daily = {}, {}
    for pos, r in acts:
        ts = r["activity_timestamp"]
        h = hourly.setdefault((ts - ts % HOUR_US, r["employee_id"], r["activity_type"]),
                              {"n": 0, "sum": 0, "pages": set(), "pos": [],
                               "device": r["device_category"]})
        h["n"] += 1
        h["sum"] += r["duration_seconds"]
        h["pages"].add(r["page_url"])
        h["pos"].append(pos)
        d = daily.setdefault((ts - ts % DAY_US, r["activity_type"], r["device_category"]),
                             {"n": 0, "sum": 0, "emps": set(), "pos": []})
        d["n"] += 1
        d["sum"] += r["duration_seconds"]
        d["emps"].add(r["employee_id"])
        d["pos"].append(pos)

    def approx_ok(got, exact):
        return abs(got - exact) <= max(1.0, 4 * HLL_RSD * exact)

    def check_aggs(name, folded, width, delay, key_of, same):
        got = {}
        with open(f"{out_dir}/results/{name}.jsonl") as f:
            for line in f:
                r = json.loads(line)
                got[key_of(r)] = r
        closed = lambda k: k[0] + width <= max_ts - delay
        keys = {k for k in folded if closed(k)} | {k for k in got if closed(k)}
        wrong = [k for k in keys if k not in folded or k not in got or not same(got[k], folded[k])]
        for k in wrong:
            bad_pos.update(folded.get(k, {}).get("pos", []))
        if wrong:
            reasons.append(f"{name}: {len(wrong)} of {len(keys)} closed groups wrong, "
                           f"e.g. {wrong[0]}: got {got.get(wrong[0])}")
        return len(keys)

    n_hourly = check_aggs(
        "hourly", hourly, HOUR_US, HOURLY_DELAY_US,
        lambda r: (r["window_start"], r["employee_id"], r["activity_type"]),
        lambda g, e: (g["activity_count"] == e["n"] and g["total_duration"] == e["sum"]
                      and g["avg_duration"] == e["sum"] / e["n"]
                      and g["primary_device"] == e["device"]
                      and approx_ok(g["unique_pages_approx"], len(e["pages"]))))
    n_daily = check_aggs(
        "daily", daily, DAY_US, DAILY_DELAY_US,
        lambda r: (r["window_start"], r["activity_type"], r["device_category"]),
        lambda g, e: (g["activity_count"] == e["n"] and g["avg_duration"] == e["sum"] / e["n"]
                      and approx_ok(g["unique_employees"], len(e["emps"]))))
    if n_hourly == 0 or n_daily == 0:
        reasons.append(f"no closed windows to check (hourly {n_hourly}, daily {n_daily})")
    return bad_pos, reasons
