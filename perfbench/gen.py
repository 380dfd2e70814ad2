#!/usr/bin/env python3
"""Load generator for the graft benchmark: a process separate from the engine.

Every input the engine sees comes from here, and all of it is a pure
function of ``--seed``; only the creation stamps (``gen_ms``) and the file
write times depend on the wall clock.

Subcommands:
  tables  --seed S --out DIR            parquet tables for batch_ops
  prep    --seed S --out DIR            dims, warm-up drops, dashboard requests
  ingest  --seed S --dir RUN ...        open-loop ODS file drops (live)

The live subcommand waits for ``RUN/p<i>/ready`` (written by the engine side
once set-up is done), then runs on a fixed schedule that never waits for the
engine, and finishes by writing ``RUN/gen.json``.  It uses one thread.
"""
import argparse
import datetime as _dt
import json
import os
import random
import time

# ---------------------------------------------------------------- shared

DAY0 = _dt.datetime(2024, 3, 9, tzinfo=_dt.timezone.utc)
MIDS = 2000            # devices: a mid recurs many times within a day
USERS = 400            # user_info dim rows
PROVINCES = 34         # base_province dim rows
BRANDS = ["xiaomi", "apple", "huawei"]
CATS = ["phone", "tablet", "watch", "buds", "laptop"]
COLORS = ["black", "white", "blue"]
SKUS = [f"{b} {c} {k}" for b in BRANDS for c in CATS for k in COLORS]
PAGES = ["home", "good_list", "good_detail", "cart", "trade", "search"]
TICK_S = 0.1           # one ODS drop per source per tick
SIM_PER_TICK_MS = 10_000   # event time advances 100x faster than wall time
LOG_SHARE = 0.75       # share of ingest events that are behaviour-log lines
BURST_GAP_S = 1.0      # pause between the last steady drop and the burst


def ms_of(d):
    return int(d.timestamp() * 1000)


def fmt_ts(ms):
    return _dt.datetime.fromtimestamp(ms / 1000, _dt.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")


def day_of(ms):
    return fmt_ts(ms)[:10]


def hour_of(ms):
    return int(fmt_ts(ms)[11:13])


def user_gender(uid):
    return "F" if (uid * 7919) % 3 == 0 else "M"


def dim_lines():
    """Maxwell bootstrap-insert records for the user and province dims."""
    out = []
    for uid in range(1, USERS + 1):
        data = {"id": str(uid), "gender": user_gender(uid),
                "birthday": f"{1970 + uid % 35}-0{1 + uid % 9}-1{uid % 9}"}
        out.append({"database": "gmall", "table": "user_info",
                    "type": "bootstrap-insert", "ts": 1709900000,
                    "data": data})
    for pid in range(1, PROVINCES + 1):
        data = {"id": str(pid), "name": f"province_{pid}",
                "area_code": f"{100000 + pid}", "iso_code": f"CN-{pid:02d}",
                "iso_3166_2": f"CN-P{pid:02d}"}
        out.append({"database": "gmall", "table": "base_province",
                    "type": "bootstrap-insert", "ts": 1709900000,
                    "data": data})
    return out


# ---------------------------------------------------------------- ingest

class IngestPlan:
    """The ingest event stream as a deterministic sequence of ticks.

    Properties the engine's behaviour depends on:
      * a mid recurs within a day (2000 devices, thousands of events), so
        the DAU dedup state is consulted and grows;
      * order details arrive one tick after their order_info, so every
        wide row completes through the stream-stream join state;
      * 5% of log events carry an event time up to two minutes in the
        past (out of order, well inside the 24 h watermark);
      * event time starts at 23:55 and advances 100x wall time, so it
        crosses midnight during the steady phase.

    Ground truth is kept alongside: the DAU key set with each key's hour
    (every session start of one (mid, day) is kept in one hour, so the
    hour the engine keeps never depends on arrival order within a batch)
    and every wide row with its item, day, amount and buyer gender.
    """

    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.sim_ms = ms_of(DAY0 + _dt.timedelta(hours=23, minutes=55))
        self.order_id = 0
        self.detail_id = 0
        self.pending_details = []
        self.dau = {}        # (mid, dt) -> hr
        self.wide = {}       # detail_id -> (sku, dt, cents, gender)
        self.infos = {}      # order_id -> (dt, gender)
        self.starts = 0      # session-start page events sent

    # -- log lines
    def _log_line(self, ts):
        r = self.rng
        mid = f"mid_{r.randrange(MIDS)}"
        uid = 1 + r.randrange(USERS)
        if r.random() < 0.05:
            ts -= r.randrange(120_000)
        common = {"ar": str(1 + r.randrange(PROVINCES)), "ba": "xiaomi",
                  "ch": r.choice(["oppo", "web", "appstore"]),
                  "is_new": r.choice(["0", "1"]), "md": "mi 10",
                  "mid": mid, "os": "android 11", "uid": str(uid),
                  "vc": "v2.1.1"}
        kind = r.random()
        env = {"common": common, "ts": ts}
        if kind < 0.25:
            env["start"] = {"entry": "icon", "loading_time": r.randrange(9000),
                            "open_ad_id": r.randrange(20),
                            "open_ad_ms": r.randrange(5000),
                            "open_ad_skip_ms": 0}
            return env
        if kind < 0.30:
            env["err"] = {"error_code": 1000 + r.randrange(8),
                          "msg": "exception in thread main"}
            return env
        start = r.random() < 0.35
        key = (mid, day_of(ts))
        if start:
            hr = hour_of(ts)
            if key not in self.dau:
                self.dau[key] = hr
            elif self.dau[key] != hr:
                start = False
        page = {"page_id": "home" if start else r.choice(PAGES),
                "last_page_id": None if start else r.choice(PAGES),
                "item": str(r.randrange(500)), "item_type": "sku_id",
                "during_time": r.randrange(20000), "source_type": "promotion"}
        env["page"] = page
        self.starts += start
        if r.random() < 0.3:
            env["displays"] = [
                {"display_type": "query", "item": str(r.randrange(500)),
                 "item_type": "sku_id", "order": i + 1,
                 "pos_id": r.randrange(5)}
                for i in range(1 + r.randrange(3))]
        if r.random() < 0.2:
            env["actions"] = [
                {"action_id": "cart_add", "item": str(r.randrange(500)),
                 "item_type": "sku_id", "ts": ts + 1000 * i}
                for i in range(1 + r.randrange(2))]
        return env

    # -- cdc lines
    def _order(self, ts):
        r = self.rng
        self.order_id += 1
        oid = self.order_id
        uid = 1 + r.randrange(USERS)
        details = []
        for _ in range(1 + r.randrange(3)):
            self.detail_id += 1
            details.append((self.detail_id, r.randrange(len(SKUS)),
                            100 + r.randrange(500_000)))
        total = sum(c for _, _, c in details)
        info = {"id": oid, "user_id": uid,
                "province_id": str(1 + r.randrange(PROVINCES)),
                "total_amount": f"{total / 100:.2f}",
                "create_time": fmt_ts(ts)}
        self.infos[oid] = (day_of(ts), user_gender(uid))
        return ({"database": "gmall", "table": "order_info", "type": "insert",
                 "ts": ts // 1000, "data": info}, oid, details)

    def _detail_line(self, oid, did, sku, cents, ts):
        dt, gender = self.infos[oid]
        self.wide[did] = (SKUS[sku], dt, cents, gender)
        data = {"id": did, "order_id": oid, "sku_id": sku,
                "sku_name": SKUS[sku], "split_total_amount": f"{cents / 100:.2f}",
                "create_time": fmt_ts(ts)}
        return {"database": "gmall", "table": "order_detail", "type": "insert",
                "ts": ts // 1000, "data": data}

    def _dim_update(self, ts):
        uid = 1 + self.rng.randrange(USERS)
        data = {"id": str(uid), "gender": user_gender(uid),
                "birthday": f"{1970 + self.rng.randrange(35)}-05-05"}
        return {"database": "gmall", "table": "user_info", "type": "update",
                "ts": ts // 1000, "data": data}

    def tick(self, n_events, lag_details=True):
        """One drop: (log lines, cdc lines, detail ids, dau keys) as dicts.
        Details of this tick's orders go out next tick unless told not to."""
        ts = self.sim_ms
        self.sim_ms += SIM_PER_TICK_MS
        n_log = int(round(n_events * LOG_SHARE))
        before = set(self.dau)
        logs = [self._log_line(ts + 7 * i) for i in range(n_log)]
        cdc, new_details = [], []
        for oid, dets in self.pending_details:
            for did, sku, cents in dets:
                cdc.append(self._detail_line(oid, did, sku, cents, ts))
                new_details.append(did)
        self.pending_details = []
        budget = n_events - n_log - len(cdc)
        while budget > 0:
            if self.rng.random() < 0.05:
                cdc.append(self._dim_update(ts))
                budget -= 1
                continue
            line, oid, dets = self._order(ts)
            cdc.append(line)
            budget -= 1 + len(dets)
            if lag_details:
                self.pending_details.append((oid, dets))
            else:
                for did, sku, cents in dets:
                    cdc.append(self._detail_line(oid, did, sku, cents, ts))
                    new_details.append(did)
        new_keys = [k for k in self.dau if k not in before]
        return logs, cdc, new_details, new_keys

    def flush(self):
        """Emit details still waiting for their lag tick (no new orders)."""
        ts = self.sim_ms
        cdc, dids = [], []
        for oid, dets in self.pending_details:
            for did, sku, cents in dets:
                cdc.append(self._detail_line(oid, did, sku, cents, ts))
                dids.append(did)
        self.pending_details = []
        return cdc, dids

    def expected(self):
        """Final serving answers the engine must reach."""
        dau = {}
        for (_, dt), hr in self.dau.items():
            dau.setdefault(dt, {}).setdefault(str(hr), 0)
            dau[dt][str(hr)] += 1
        items = {}
        for sku, dt, cents, gender in self.wide.values():
            brand = sku.split(" ")[0]
            e = items.setdefault(f"{brand}|{dt}", {"ct": 0, "cents": 0,
                                                  "F": 0, "M": 0})
            e["ct"] += 1
            e["cents"] += cents
            e[gender] += cents
        return {"dau": dau, "items": items}


WARM_EVENTS = 300


def warm_plan(seed):
    """The warm-up drop every set-up pushes through the chain first."""
    plan = IngestPlan(seed)
    plan.sim_ms -= 40 * 60 * 1000   # 23:15, same day, before the run
    logs, cdc, _, _ = plan.tick(WARM_EVENTS, lag_details=False)
    return plan, logs, cdc


def live_plan(seed):
    """The plan of a live run: it continues the warm-up's stream (same ids,
    devices and ground truth) from 23:55, so event time crosses midnight."""
    plan, _, _ = warm_plan(seed)
    plan.sim_ms = ms_of(DAY0 + _dt.timedelta(hours=23, minutes=55))
    return plan


def write_lines(path, lines):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    with open(tmp, "w") as f:
        for line in lines:
            f.write(json.dumps(line, separators=(",", ":")))
            f.write("\n")
    os.rename(tmp, path)


def stamp(lines, now_ms):
    for line in lines:
        line["gen_ms"] = now_ms
    return lines


def wait_ready(run_dir, timeout_s=170):
    path = os.path.join(run_dir, "ready")
    end = time.time() + timeout_s
    while not os.path.exists(path):
        if time.time() > end:
            raise SystemExit("gen: engine never became ready")
        time.sleep(0.02)
    with open(path) as f:
        return json.load(f)


# ---------------------------------------------------------------- dashboard

def serve_requests():
    """The dashboard requests the traced probe sends: two per endpoint."""
    days = [day_of(ms_of(DAY0)), day_of(ms_of(DAY0 + _dt.timedelta(days=1)))]
    brand = BRANDS[0]
    return [("dau_realtime", f"/dauRealtime?td={days[1]}"),
            ("dau_realtime", f"/dauRealtime?td={days[0]}"),
            ("stats_by_item", f"/statsByItem?itemName={brand}&date={days[1]}&t=gender"),
            ("stats_by_item", f"/statsByItem?itemName={brand}&date={days[0]}&t=age"),
            ("detail_by_item",
             f"/detailByItem?itemName={brand}&date={days[0]}&pageNo=1&pageSize=20"),
            ("detail_by_item",
             f"/detailByItem?itemName={brand}&date={days[1]}&pageNo=1&pageSize=20")]


def run_prep(a):
    os.makedirs(a.out, exist_ok=True)
    _, logs, cdc = warm_plan(a.seed)
    write_lines(os.path.join(a.out, "dims.json"), dim_lines())
    write_lines(os.path.join(a.out, "warm_log.json"), logs)
    write_lines(os.path.join(a.out, "warm_cdc.json"), cdc)
    with open(os.path.join(a.out, "requests.json"), "w") as f:
        json.dump(serve_requests(), f)


def run_ingest(a):
    """Phases of open-loop drops, one after another on one event stream:
    each phase waits for ``RUN/p<i>/ready``, drops --rate events/s for
    --steady seconds, and marks ``RUN/p<i>/done``; the last phase ends
    with one backlog burst of --burst events.  With --scaling, one more phase replays the warm-up
    stream's continuation as a burst alone, for a freshly set-up engine.
    The schedule never waits for the engine, and the whole stream is
    generated before the first phase, so the schedule only stamps and
    writes. Ends by writing ``RUN/gen.json``."""
    plan = live_plan(a.seed)
    per_tick = a.rate * TICK_S
    n_ticks = int(round(a.steady / TICK_S))
    phases = []
    for ph in range(a.phases):
        ticks, carry = [], 0.0
        for _ in range(n_ticks):
            carry += per_tick
            n = int(carry)
            carry -= n
            ticks.append(plan.tick(n))
        burst = a.burst if ph == a.phases - 1 else 0
        phases.append((ticks, plan.flush(), plan.tick(burst, lag_details=False)))
    expected = plan.expected()
    starts, details = plan.starts, len(plan.wide)
    if a.scaling:
        fresh = live_plan(a.seed)
        phases.append(([], ([], []), fresh.tick(a.burst, lag_details=False)))

    created = {}
    out = {"created": created, "expected": expected, "session_starts": starts,
           "details_in": details, "phases": []}
    for ph, (ticks, (tail_cdc, tail_dids), burst) in enumerate(phases):
        run_dir = os.path.join(a.dir, f"p{ph}")
        ready = wait_ready(run_dir)
        log_dir, cdc_dir = ready["log_dir"], ready["cdc_dir"]

        mine = created[f"p{ph}"] = {"dau": {}, "ow": {}}

        def note(keys, dids, kind, ms):
            for k in keys:
                mine["dau"][f"{k[0]}|{k[1]}"] = [kind, ms]
            for d in dids:
                mine["ow"][str(d)] = [kind, ms]
        lateness = []
        t0 = time.time() + 0.05
        for i, (logs, cdc, dids, keys) in enumerate(ticks):
            due = t0 + i * TICK_S
            if due > time.time():
                time.sleep(due - time.time())
            now_ms = int(time.time() * 1000)
            lateness.append(max(0.0, now_ms - due * 1000))
            write_lines(os.path.join(log_dir, f"p{ph}_{i:05d}.json"), stamp(logs, now_ms))
            write_lines(os.path.join(cdc_dir, f"p{ph}_{i:05d}.json"), stamp(cdc, now_ms))
            note(keys, dids, "steady", now_ms)
        if tail_cdc:    # the last lagged details close the steady phase
            now_ms = int(time.time() * 1000)
            write_lines(os.path.join(cdc_dir, f"p{ph}_{n_ticks:05d}.json"),
                        stamp(tail_cdc, now_ms))
            note([], tail_dids, "steady", now_ms)
        logs, cdc, dids, keys = burst
        burst_ms = None
        if logs or cdc:
            if ticks:
                time.sleep(max(0.0, t0 + len(ticks) * TICK_S + BURST_GAP_S - time.time()))
            burst_ms = int(time.time() * 1000)
            write_lines(os.path.join(log_dir, f"p{ph}_zburst.json"), stamp(logs, burst_ms))
            write_lines(os.path.join(cdc_dir, f"p{ph}_zburst.json"), stamp(cdc, burst_ms))
            note(keys, dids, "burst", burst_ms)
        out["phases"].append({
            "burst_ms": burst_ms, "burst_events": len(logs) + len(cdc),
            "steady_events": sum(len(t[0]) + len(t[1]) for t in ticks) + len(tail_cdc),
            "late_ms": lateness})
        with open(os.path.join(run_dir, "done"), "w") as f:
            f.write("done")
    with open(os.path.join(a.dir, "gen.json"), "w") as f:
        json.dump(out, f)


# ---------------------------------------------------------------- tables

def run_tables(a):
    """Seeded tables with the driver data's schemas and distributions
    (TPC-H-like star schema plus events, documents and embeddings)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(a.seed)
    s = a.scale
    os.makedirs(a.out, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(a.out, f"{name}.parquet"))

    def dates(lo, hi, n):
        lo = np.datetime64(lo, "D").astype("int64")
        hi = np.datetime64(hi, "D").astype("int64")
        d = g.integers(lo, hi + 1, n).astype("datetime64[D]")
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust, n_supp, n_part = int(150_000 * s), int(10_000 * s), int(200_000 * s)
    n_ord, n_li = int(1_500_000 * s), int(6_000_000 * s)
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
                     "BUILDING"])
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[g.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(["large", "hot", "small", "cold", "shiny", "dull", "red",
                    "blue"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "box",
                     "lamp"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                      "PROMO"])
    pname = np.char.add(np.char.add(adj[g.integers(0, 8, n_part)], " "),
                        noun[g.integers(0, 8, n_part)])
    put("part", {
        "p_partkey": np.arange(n_part, dtype="int64"), "p_name": pname,
        "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
        "p_type": types[g.integers(0, 6, n_part)],
        "p_size": g.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": g.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["O", "P", "F"])[g.integers(0, 3, n_ord)],
        "o_totalprice": np.round(g.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": dates("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(["5-LOW", "4-NOT SPECIFIED", "3-MEDIUM",
                                     "2-HIGH", "1-URGENT"])[g.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": g.integers(0, n_ord, n_li).astype("int64"),
        "l_partkey": g.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": g.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": g.integers(1, 8, n_li).astype("int32"),
        "l_quantity": g.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(g.uniform(900, 105000, n_li), 2),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[g.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[g.integers(0, 2, n_li)],
        "l_shipdate": dates("1995-01-02", "2001-11-04", n_li)})
    n_ev = int(1_000_000 * s)
    t_lo = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(g.integers(t_lo, t_lo + 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": g.integers(0, int(15_000 * s), n_ev).astype("int64"),
        "event_type": np.array(["signup", "click", "error", "view",
                                "purchase"])[g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    vocab = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]
    n_doc = int(50_000 * s)
    texts = []
    for i in range(n_doc):
        if i >= 10 and g.random() < 0.05:
            texts.append(texts[int(g.integers(0, i))] + " dup")
        else:
            words = g.integers(0, len(vocab), int(g.integers(10, 101)))
            texts.append(" ".join(vocab[w] for w in words))
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])
    put("documents", {
        "doc_id": np.arange(n_doc, dtype="int64"), "text": texts,
        "lang": langs[g.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    n_emb = int(20_000 * s)
    e = g.normal(size=(n_emb, 64)).astype("float32")
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": g.integers(0, 10, n_emb).astype("int32")})


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--scale", type=float, required=True)
    t.set_defaults(fn=run_tables)
    pr = sub.add_parser("prep")
    pr.add_argument("--seed", type=int, required=True)
    pr.add_argument("--out", required=True)
    pr.set_defaults(fn=run_prep)
    i = sub.add_parser("ingest")
    i.add_argument("--seed", type=int, required=True)
    i.add_argument("--dir", required=True)
    i.add_argument("--rate", type=float, required=True)
    i.add_argument("--steady", type=float, required=True)
    i.add_argument("--burst", type=int, required=True)
    i.add_argument("--phases", type=int, required=True)
    i.add_argument("--scaling", type=int, required=True)
    i.set_defaults(fn=run_ingest)
    a = p.parse_args(argv)
    a.fn(a)


if __name__ == "__main__":
    main()
