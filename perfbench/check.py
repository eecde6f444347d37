"""Output checks, computed apart from the program.

`stream_errors` compares the sinks after the last chunk (the snapshot the
JVM half writes) with exact results computed from the frames the engine was
fed (`read_frames`), and checks conservation between independent paths.
`batch_errors` compares each query's result with DuckDB running the query's
registered oracle SQL over the same generated tables, with the type-aware
rendering and hash of the repository's DuckDB comparator
(`tools/compare_duckdb.py`). Each returns a list of error strings; an empty
list means the outputs are correct.
"""
import datetime
import glob
import json
import math
import os
import sys
from collections import defaultdict

# approx_count_distinct's default relative standard deviation; an estimate
# may be off by at most six of them. Counts of 400–600 (a run's hourly
# unique_buyers is about 600) sit where HLL++ hands over from linear
# counting to its bias-corrected estimate, and there one estimate in several
# thousand is off by 4σ (547 for 457 sessions): a tighter bound would fail
# correct runs now and then.
HLL_RSD = 0.05
HLL_SIGMAS = 6


def read_frames(path):
    """The events of a `frames.tsv` (key, Kafka timestamp ms, JSON value),
    with event time in epoch ms and revenue in integer cents."""
    events = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            key, ts, value = line.rstrip("\n").split("\t", 2)
            v = json.loads(value)
            ts_ms = round(datetime.datetime.fromisoformat(v["timestamp"]).timestamp() * 1000)
            if ts_ms != int(ts) or key != str(v["user_id"]):
                raise ValueError(f"frame envelope disagrees with its value: {line!r}")
            e = {k: v[k] for k in ("user_id", "session_id", "page", "event_type", "device")}
            e["ts_ms"] = ts_ms
            if v.get("total_amount") is not None:
                e["total_amount_cents"] = round(v["total_amount"] * 100)
            events.append(e)
    return events


def expected_stream(events):
    hour = 3_600_000
    pv = defaultdict(int)
    sess = {}
    purch = defaultdict(lambda: [0, 0, set()])
    dev = defaultdict(lambda: [0, set(), set()])
    for e in events:
        ts = e["ts_ms"]
        if e["event_type"] == "page_view":
            pv[(ts - ts % 60_000, e["page"])] += 1
        s = sess.setdefault((e["session_id"], e["user_id"]), [])
        s.append((ts, e["page"], e["event_type"]))
        if e["event_type"] == "purchase":
            p = purch[ts - ts % hour]
            p[0] += 1
            p[1] += e["total_amount_cents"]
            p[2].add(e["user_id"])
        d = dev[(ts - ts % hour, e["device"]["type"], e["device"]["browser"], e["device"]["os"])]
        d[0] += 1
        d[1].add(e["user_id"])
        d[2].add(e["session_id"])
    sessions = {}
    for k, evs in sess.items():
        sessions[k] = (
            min(t for t, _, _ in evs), max(t for t, _, _ in evs), len(evs),
            ",".join(p for _, p in sorted((t, p) for t, p, _ in evs)),
            ",".join(x for _, x in sorted((t, x) for t, _, x in evs)))
    return {
        "events": len(events),
        "page_views": dict(pv),
        "sessions": sessions,
        "purchases": {k: (n, cents, len(u)) for k, (n, cents, u) in purch.items()},
        "devices": {k: (n, len(u), len(s)) for k, (n, u, s) in dev.items()},
    }


def _hll_ok(estimate, exact):
    return abs(estimate - exact) <= max(1, math.ceil(HLL_SIGMAS * HLL_RSD * exact))


def _keys(errors, what, got, want):
    if set(got) != set(want):
        missing, extra = set(want) - set(got), set(got) - set(want)
        errors.append(f"{what}: {len(missing)} rows missing, {len(extra)} unexpected"
                      f" (e.g. {sorted(missing or extra, key=str)[:1]})")
        return False
    return True


def stream_errors(snapshot, exp):
    errors = []
    hour = 3_600_000
    pv = {}
    for ws, we, page, n in snapshot["page_view_stats"]:
        if we - ws != 60_000:
            errors.append(f"page_view_stats: window {ws}..{we} is not one minute")
        pv[(ws, page)] = n
    if _keys(errors, "page_view_stats", pv, exp["page_views"]):
        errors += [f"page_view_stats {k}: {pv[k]} != {v}"
                   for k, v in exp["page_views"].items() if pv[k] != v]

    sess = {(sid, uid): (start, end, n, pages, types)
            for sid, uid, start, end, n, pages, types in snapshot["user_sessions"]}
    if _keys(errors, "user_sessions", sess, exp["sessions"]):
        errors += [f"user_sessions {k}: {sess[k]} != {v}"
                   for k, v in exp["sessions"].items() if sess[k] != v]

    purch = {}
    for ws, we, n, revenue, buyers in snapshot["purchase_stats"]:
        if we - ws != hour:
            errors.append(f"purchase_stats: window {ws}..{we} is not one hour")
        purch[ws] = (n, revenue, buyers)
    if _keys(errors, "purchase_stats", purch, exp["purchases"]):
        for k, (n, cents, buyers) in exp["purchases"].items():
            got_n, revenue, got_buyers = purch[k]
            if got_n != n or abs(revenue * 100 - cents) > 1e-6:
                errors.append(f"purchase_stats {k}: ({got_n}, {revenue}) != ({n}, {cents / 100})")
            if not _hll_ok(got_buyers, buyers):
                errors.append(f"purchase_stats {k}: unique_buyers {got_buyers} vs exact {buyers}")

    dev = {}
    for ws, we, dt, br, os_, n, users, sessions in snapshot["device_stats"]:
        if we - ws != hour:
            errors.append(f"device_stats: window {ws}..{we} is not one hour")
        dev[(ws, dt, br, os_)] = (n, users, sessions)
    if _keys(errors, "device_stats", dev, exp["devices"]):
        for k, (n, users, sessions) in exp["devices"].items():
            got_n, got_u, got_s = dev[k]
            if got_n != n:
                errors.append(f"device_stats {k}: visit_count {got_n} != {n}")
            if not (_hll_ok(got_u, users) and _hll_ok(got_s, sessions)):
                errors.append(f"device_stats {k}: distinct ({got_u}, {got_s}) vs exact "
                              f"({users}, {sessions})")

    # Conservation between independent paths through the engine.
    n_views = sum(exp["page_views"].values())
    kv_views = snapshot["kv_page_views"]
    sums = {
        "page views (Derby)": sum(r[3] for r in snapshot["page_view_stats"]),
        "page views (KV counters)": sum(kv_views.values()),
        "page views (KV series)": sum(snapshot["kv_page_series_total"].values()),
    }
    errors += [f"{k}: {v} != {n_views} page-view events" for k, v in sums.items() if v != n_views]
    views_per_page = defaultdict(int)
    for (_, page), n in exp["page_views"].items():
        views_per_page[page] += n
    errors += [f"KV page_views:{p}: {kv_views.get(p, 0)} != {n}"
               for p, n in views_per_page.items() if kv_views.get(p, 0) != n]
    visits = sum(r[5] for r in snapshot["device_stats"])
    session_events = sum(r[4] for r in snapshot["user_sessions"])
    for what, v in (("visit_count", visits), ("session event_count", session_events)):
        if v != exp["events"]:
            errors.append(f"sum of {what}: {v} != {exp['events']} events")
    n_purch = sum(n for n, _, _ in exp["purchases"].values())
    cents = sum(c for _, c, _ in exp["purchases"].values())
    derby_n = sum(r[2] for r in snapshot["purchase_stats"])
    derby_rev = sum(r[3] for r in snapshot["purchase_stats"])
    if not (derby_n == snapshot["kv_purchases"] == n_purch):
        errors.append(f"purchases: Derby {derby_n}, KV {snapshot['kv_purchases']}, events {n_purch}")
    for what, rev in (("Derby", derby_rev), ("KV", snapshot["kv_revenue"])):
        if abs(rev * 100 - cents) >= 0.5:
            errors.append(f"revenue ({what}): {rev} != {cents / 100}")
    return errors


def _comparator():
    """tools/compare_duckdb.py, imported only when a batch check needs it."""
    tools = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import compare_duckdb
    return compare_duckdb


def _rows(table):
    cols = list(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if data else []


def compare(engine, oracle):
    """Errors between two arrow tables: schema names, row count, value hash."""
    s_cols, s_rows = _rows(engine)
    o_cols, o_rows = _rows(oracle)
    if sorted(s_cols) != sorted(o_cols):
        return [f"columns {sorted(s_cols)} != oracle {sorted(o_cols)}"]
    if len(s_rows) != len(o_rows):
        return [f"{len(s_rows)} rows != oracle {len(o_rows)}"]
    table_hash = _comparator().table_hash
    if table_hash(s_cols, s_rows) != table_hash(o_cols, o_rows):
        return ["row values differ from the oracle"]
    return []


def batch_errors(inputs_dir, results_dir, oracles):
    """{query: [errors]} for every query whose result differs from DuckDB."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads=2")
    for f in sorted(glob.glob(f"{inputs_dir}/*.parquet")):
        name = f.rsplit("/", 1)[1][:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    failures = {}
    for name, sql in oracles.items():
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if sql is None:
            failures[name] = ["no oracle SQL registered"]
        elif not files:
            failures[name] = ["no engine output"]
        else:
            errs = compare(pq.read_table(files[0]), con.execute(sql).fetch_arrow_table())
            if errs:
                failures[name] = errs
    con.close()
    return failures
