"""Load generator for the benchmark: a separate process that writes every
input the engine sees, deterministically from ``--seed``.

Modes (one per workload):

* ``tables`` -- the harness star schema (region ... embeddings) as parquet
  at a stated scale factor, for ``analytics_batch``.
* ``live``   -- for ``alerts_live``. First it stages a backlog of fitbit CSV
  files whose user ids churn (a sliding window of active users; the schedule
  goes to ``churn.json``) and a small warm-up backlog. Then it serves the
  open-loop windows: CSV files mixing fitbit, new-user-notification and
  sales records, one per 100 ms, each rendered before it is due and renamed
  into the watched directory when due. ``machine_timestamp`` is the due time
  in epoch milliseconds. The expected alert set is computed here in plain
  Python with the reference rule (max-HR, theta = 0.95).

Run: ``python3 perfbench/gen.py <mode> --seed N --out DIR [...]``.
The ``live`` mode waits for ``DIR/go.<window>`` files that carry the window's
start time, so the engine can start its stream before the first file is due.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time

BP_CATS = ("NORMAL", "PRE_HYP", "HYP_1", "HYP_2", "HYP_CR")
HYPERTENSIVE = ("HYP_1", "HYP_2", "HYP_CR")
THRESHOLD = 0.95
FILE_PERIOD_S = 0.1
#: open-loop rate of the live windows (events per second) and the user
#: population they draw from
RATE = 2000
USERS = 20000
#: how long the live mode waits for a window's go signal
WAIT_S = 170.0
#: the replay backlog: files of EVENTS_PER_FILE fitbit events whose user ids
#: come from a window of ACTIVE users that moves CHURN_STEP ids per file;
#: DUP_SHARE of the events are sent twice. The warm-up backlog is one file
#: of WARM_EVENTS: it runs the same code paths, and its size does not matter.
BACKLOG_FILES = 2
EVENTS_PER_FILE = 5000
WARM_EVENTS = 1000
ACTIVE = 1000
CHURN_STEP = 500
DUP_SHARE = 0.02


# ---------------------------------------------------------------------------
# reference rule and record rendering
# ---------------------------------------------------------------------------


def warning_of(pulse: float, age: int, bp_cat: str) -> str:
    """The reference classifier (max-HR piecewise formula, theta = 0.95)."""
    max_hr = 220 - age if age < 40 else 208 - 0.75 * age
    if pulse >= THRESHOLD * max_hr:
        return "critical" if bp_cat in HYPERTENSIVE else "simple"
    return "no-use"


def fitbit_fields(rng: random.Random, user: str, event_dt: str, hot_share: float):
    """One fitbit reading; ``hot_share`` of them sit at or above 0.95 max-HR."""
    age = rng.randint(15, 90)
    max_hr = 220 - age if age < 40 else 208 - 0.75 * age
    if rng.random() < hot_share:
        pulse = round(max_hr * rng.uniform(0.95, 1.05), 1)
    else:
        pulse = round(max_hr * rng.uniform(0.45, 0.94), 1)
    return {
        "event_datetime": event_dt,
        "user_id": user,
        "lat": f"{rng.uniform(-60, 60):.4f}",
        "long": f"{rng.uniform(-180, 180):.4f}",
        "pulse": pulse,
        "temp": round(rng.uniform(95, 106), 1),
        "age": age,
        "bp_cat": rng.choice(BP_CATS),
    }


def fitbit_line(rec: dict, machine_ts: str) -> str:
    # incidental whitespace: the parser trims every field
    return (
        f"fitbit, {rec['event_datetime']},{rec['user_id']} ,{rec['lat']},"
        f"{rec['long']},{rec['pulse']},{rec['temp']},{rec['age']},"
        f"{rec['bp_cat']},{machine_ts}"
    )


def new_user_line(rng: random.Random, user: str) -> str:
    return (
        f"new-user-notification,{rng.randint(15, 90)},{rng.choice('MF')},"
        f"{rng.choice(('sedentary', 'moderate', 'active', 'athlete'))},"
        f"{rng.uniform(40, 150):.1f},{rng.uniform(140, 210):.1f},"
        f"{rng.uniform(15, 45):.1f},{rng.uniform(5, 50):.1f},"
        f"{rng.choice(BP_CATS)},{rng.uniform(90, 200):.1f},"
        f"{rng.uniform(60, 130):.1f},{user},dev-{user}"
    )


def sales_line(rng: random.Random) -> str:
    return f"sales,2024-01-{rng.randint(1, 28):02d},{rng.randint(0, 500)}"


def alert_row(user: str, warning: str, machine_ts: str) -> dict:
    """The row ``warning_pipeline`` emits for one alert."""
    return {
        "user_id": user,
        "warning": warning,
        "machine_timestamp": machine_ts,
        "payload": f"({user},{warning},{machine_ts})",
    }


def lww_rank(row: dict) -> tuple:
    """Last-write-wins order of the keyed sink: version, then the JSON."""
    return (row["machine_timestamp"], json.dumps(row, default=str, sort_keys=True))


def _atomic_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# live: open loop, one file per 100 ms
# ---------------------------------------------------------------------------


def render_live_window(seed: int, window: str, seconds: float):
    """Templates for one window: per file, the lines and the alerts in it.
    ``@TS@`` stands for the file's due time, known only once the window
    starts."""
    rng = random.Random(f"{seed}:live:{window}")
    per_file = max(1, round(RATE * FILE_PERIOD_S))
    files = []
    for i in range(max(1, round(seconds / FILE_PERIOD_S))):
        lines, alerts = [], []
        for _ in range(per_file):
            r = rng.random()
            user = f"u{rng.randrange(USERS):05d}"
            if r < 0.8:
                rec = fitbit_fields(rng, user, "2024-01-01 00:00:00", 0.06)
                lines.append(fitbit_line(rec, "@TS@"))
                w = warning_of(rec["pulse"], rec["age"], rec["bp_cat"])
                if w != "no-use":
                    alerts.append((user, w))
            elif r < 0.9:
                lines.append(new_user_line(rng, user))
            else:
                lines.append(sales_line(rng))
        files.append(("\n".join(lines) + "\n", alerts))
    return files


def run_live(args) -> None:
    churn = stage_backlog(os.path.join(args.out, "backlog"), random.Random(f"{args.seed}:replay"),
                          args.files, EVENTS_PER_FILE)
    stage_backlog(os.path.join(args.out, "warm"), random.Random(f"{args.seed}:warm"), 1, WARM_EVENTS)
    _atomic_json(os.path.join(args.out, "churn.json"), churn)
    windows = [w.split(":") for w in args.windows.split(",")]
    rendered = {
        name: render_live_window(args.seed, name, float(sec))
        for name, sec in windows
    }
    os.makedirs(os.path.join(args.out, "stage"), exist_ok=True)
    _atomic_json(os.path.join(args.out, "gen_ready.json"), {"pid": os.getpid()})
    for name, _sec in windows:
        go = os.path.join(args.out, f"go.{name}")
        deadline = time.time() + WAIT_S
        while not os.path.exists(go):
            if time.time() > deadline:
                sys.exit(f"gen: no go signal for window {name}")
            time.sleep(0.005)
        with open(go) as f:
            start_ms = int(f.read().strip())
        watch = os.path.join(args.out, "in", name)
        os.makedirs(watch, exist_ok=True)
        files = rendered[name]
        # render with the due times first, then only rename when due
        staged = []
        for i, (text, _alerts) in enumerate(files):
            due_ms = start_ms + round(i * FILE_PERIOD_S * 1000)
            p = os.path.join(args.out, "stage", f"{name}-{i:05d}.csv")
            with open(p, "w") as f:
                f.write(text.replace("@TS@", str(due_ms)))
            staged.append((due_ms, p, os.path.join(watch, f"f-{i:05d}.csv")))
        late_max = 0.0
        for due_ms, src, dst in staged:
            wait = due_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(src, dst)
            late_max = max(late_max, time.time() * 1000.0 - due_ms)
        expected = []
        events = 0
        for i, (text, alerts) in enumerate(files):
            due_ms = staged[i][0]
            events += text.count("\n")
            for user, w in alerts:
                expected.append({"file": f"f-{i:05d}.csv", "due_ms": due_ms, "user_id": user, "warning": w})
        _atomic_json(
            os.path.join(args.out, f"expected.{name}.json"),
            {"events": events, "files": len(files), "late_max_ms": late_max, "alerts": expected},
        )


def expected_table(alerts: list[dict]) -> dict[str, dict]:
    """The keyed sink's final state for a list of alerts: per user, the
    last-write-wins winner."""
    table: dict[str, dict] = {}
    for a in alerts:
        row = alert_row(a["user_id"], a["warning"], str(a["due_ms"]))
        cur = table.get(a["user_id"])
        if cur is None or lww_rank(row) >= lww_rank(cur):
            table[a["user_id"]] = row
    return table


# ---------------------------------------------------------------------------
# replay backlog: staged fitbit files with key churn
# ---------------------------------------------------------------------------


def stage_backlog(out: str, rng: random.Random, n_files: int, per_file: int) -> dict:
    os.makedirs(out, exist_ok=True)
    base_s = 1_704_067_200  # 2024-01-01 00:00:00 UTC
    churn = []
    n = 0
    for fi in range(n_files):
        lo = fi * CHURN_STEP
        churn.append({"file": f"b-{fi:05d}.csv", "active_lo": lo, "active_hi": lo + ACTIVE})
        lines = []
        for _ in range(per_file):
            user = f"u{rng.randrange(lo, lo + ACTIVE):06d}"
            # one event per event-time second and per millisecond of
            # machine time: every (user, time) key and order is unique
            dt = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(base_s + n))
            rec = fitbit_fields(rng, user, dt, 0.35)
            line = fitbit_line(rec, str(1_704_067_200_000 + n))
            lines.append(line)
            if rng.random() < DUP_SHARE:
                lines.append(line)  # at-least-once re-send
            n += 1
        p = os.path.join(out, f"b-{fi:05d}.csv")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        # file sources take files in modification-time order
        os.utime(p, (base_s + fi, base_s + fi))
    return {"events": n, "schedule": churn}


# ---------------------------------------------------------------------------
# tables: the harness star schema
# ---------------------------------------------------------------------------

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def run_tables(args) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = args.sf
    g = np.random.default_rng(args.seed)
    out = args.out
    os.makedirs(out, exist_ok=True)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int):
        return np.round(g.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int):
        d0 = np.datetime64(start, "us")
        return d0 + g.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")

    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    save("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    save("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[g.integers(0, 5, n_cust)],
    })
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = np.array(["large", "hot", "blue", "old", "red", "small", "cold", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"])
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[g.integers(0, 8, n_part)], " "), noun[g.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[g.integers(0, 6, n_part)],
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": prio[g.integers(0, 5, n_ord)],
    })
    save("lineitem", {
        "l_orderkey": g.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": g.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": g.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": g.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": g.integers(0, 11, n_line) / 100.0,
        "l_tax": g.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)],
        "l_shipdate": days("1995-01-02", 2498, n_line),
    })
    ev_us = np.sort(g.integers(0, 30 * 86_400_000_000, n_ev))
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": g.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    words = np.array(WORDS)
    texts = [" ".join(words[g.integers(0, len(WORDS), int(k))]) for k in g.integers(10, 101, n_docs)]
    for i in np.flatnonzero(g.random(n_docs) < 0.05):
        if i > 0:  # planted near-duplicate of an earlier document
            texts[i] = texts[int(g.integers(0, i))] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"])
    save("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[g.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = g.integers(0, 10, n_vec)
    centers = g.normal(0, 1, (10, 64))
    vec = g.normal(0, 1, (n_vec, 64)) + 0.15 * centers[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    _atomic_json(os.path.join(out, "_tables.json"), {"sf": sf, "seed": args.seed})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--sf", type=float, required=True)
    lv = sub.add_parser("live")
    lv.add_argument("--windows", required=True, help="name:seconds,...")
    lv.add_argument("--files", type=int, default=BACKLOG_FILES, help="replay backlog files")
    for p in (t, lv):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--out", required=True)
    args = ap.parse_args()
    {"tables": run_tables, "live": run_live}[args.mode](args)


if __name__ == "__main__":
    main()
