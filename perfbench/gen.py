"""Seeded input generation for the benchmark.

Everything the program reads is made here from the run's seed, so the
same seed always gives the same inputs:

* ``base_tables`` writes the ten base tables the registry queries read
  (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), with the column types and value domains of the
  engine's reference test data, at a chosen scale factor.
* ``cdc_feed`` writes the Debezium envelope feed of the ``cdc_stream``
  workload, one line per event, in feed order.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
RETURN_FLAGS = ["A", "N", "R"]
LINE_STATUS = ["F", "O"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = ("query row stream the spark line small fast group customer batch sort "
         "value hash filter big data dup part column order scan a slow agg key "
         "window table merge vector join").split()

EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _us(s):
    return int((np.datetime64(s, "us") - EPOCH_US).astype(np.int64))


def _ts(values_us):
    return pa.array(values_us.astype(np.int64), type=pa.int64()).cast(pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(out_dir, seed, sf):
    """Write the ten base tables at scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    n_users = max(150, n_cust // 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            np.array(PART_ADJ)[rng.integers(0, 8, n_part)],
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    day_us = 86_400 * 1_000_000
    first_day = _us("1995-01-01")
    n_days = (_us("2001-08-01") - first_day) // day_us
    odays = rng.integers(0, n_days + 1, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(first_day + odays * day_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]})

    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(l_order)
    l_line = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_line.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(RETURN_FLAGS)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(LINE_STATUS)[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(first_day + (odays[l_order] + rng.integers(1, 96, n_li)) * day_us)})

    month_us = 30 * day_us
    ev_ts = np.sort(rng.integers(0, month_us, n_events)) + _us("2024-01-01")
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)])
             for n in rng.integers(10, 97, n_docs)]
    # a few exact duplicates, as real corpora have
    for i in rng.choice(n_docs, size=max(1, n_docs // 600), replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    dim, n_labels = 64, 10
    centroids = rng.normal(0.0, 1.0, (n_labels, dim))
    labels = rng.integers(0, n_labels, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n_emb, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


# ---------------------------------------------------------------- CDC feed

ACTIVITY_TYPES = ["click", "download", "login", "logout", "page_view", "search"]
DEVICES = ["mobile", "tablet", "desktop"]
BROWSERS = ["Chrome", "Firefox", "Safari"]
DEPARTMENTS = ["Engineering", "IT", "Sales", "Marketing", "HR", "Finance"]
FEED_START_US = _us("2025-03-01T00:00:00")
EVENT_TIME_START_US = _us("2025-03-01T06:00:00")


def _iso_ms(us):
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us) // 1000 * 1000)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def cdc_feed(path, seed, n_events, employees, emp_share, delete_share,
             update_share, event_span_s, disorder_s):
    """Write ``n_events`` Debezium envelopes to ``path`` in feed order,
    one line each: the stream (``e`` employees, ``a`` activities), a
    tab, and the envelope JSON.

    Employees come from a key space of ``employees`` ids: the first
    envelope of an id is a ``c``, later ones ``u``. Activities are new
    ids (``c``) except a share ``update_share`` that revise a recent
    activity (``u``). A share ``delete_share`` of each stream's
    envelopes are ``d`` ops. Activity event time advances evenly over
    ``event_span_s`` seconds of the feed, each event shifted back by up
    to ``disorder_s`` seconds, so events arrive out of order only
    within that spread. Employees make up ``emp_share`` of the feed. The
    Kafka ``timestamp`` of an event is not in the file: the stream
    assigns it when it feeds the event.
    """
    rng = np.random.default_rng(seed ^ 0x5EED)
    is_emp = rng.random(n_events) < emp_share
    ops_d = rng.random(n_events) < delete_share
    is_upd = rng.random(n_events) < update_share
    emp_key = rng.integers(0, employees, n_events)
    disorder = rng.integers(0, disorder_s * 1000 + 1, n_events) * 1000
    dur = rng.integers(0, 600, n_events)
    act_type = rng.integers(0, len(ACTIVITY_TYPES), n_events)
    page = rng.integers(0, 40, n_events)
    dept = rng.integers(0, len(DEPARTMENTS), n_events)
    level = rng.integers(0, 7, n_events)
    back = rng.integers(1, 200, n_events)
    seen_emp = set()
    acts = []
    step_us = event_span_s * 1_000_000 / max(1, n_events)
    with open(path, "w") as f:
        for i in range(n_events):
            ts_ms = (FEED_START_US // 1000) + i
            if is_emp[i]:
                eid = int(emp_key[i])
                op = "d" if ops_d[i] else ("u" if eid in seen_emp else "c")
                if op != "d":
                    seen_emp.add(eid)
                mark = ".senior" if level[i] == 0 else ".lead" if level[i] == 1 else ""
                after = {"id": eid, "name": f"Employee {eid}",
                         "email": f"employee{eid}{mark}@corp.com",
                         "department": DEPARTMENTS[dept[i]],
                         "created_at": _iso_ms(FEED_START_US - eid * 60_000_000)}
                stream = "e"
            else:
                ev_us = EVENT_TIME_START_US + int(i * step_us) - int(disorder[i])
                if is_upd[i] and acts and not ops_d[i]:
                    aid, emp = acts[max(0, len(acts) - int(back[i]))]
                    op = "u"
                else:
                    emp = int(emp_key[i])
                    aid = f"act-{i}"
                    op = "d" if ops_d[i] else "c"
                    if op == "c":
                        acts.append((aid, emp))
                after = {"id": aid, "employee_id": emp,
                         "activity_type": ACTIVITY_TYPES[act_type[i]],
                         "page_url": f"/page/{page[i]}",
                         "duration_seconds": int(dur[i]),
                         "ip_address": f"10.0.{emp % 256}.{i % 256}",
                         "user_agent": "Mozilla/5.0",
                         "activity_timestamp": _iso_ms(ev_us),
                         "session_id": f"{emp}-s{i // 5000}",
                         # a function of the employee, so first() over a
                         # group keyed by employee is deterministic
                         "device_type": DEVICES[emp % 3],
                         "browser": BROWSERS[i % 3],
                         "created_at": _iso_ms(ev_us)}
                stream = "a"
            env = {"payload": {"after": json.dumps(after, separators=(",", ":")),
                               "op": op, "ts_ms": ts_ms}}
            f.write(stream + "\t" + json.dumps(env, separators=(",", ":")) + "\n")
