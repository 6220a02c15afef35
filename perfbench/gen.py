"""Seeded input generator for the perfbench workloads.

Every table and change feed the benchmark hands to the program is made
here from `--seed` alone: the same seed writes byte-identical inputs.
The JVM side only reads these files; the expectations the checks use
(`meta.json`) are derived from the same draws, never from the program.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic properties, one dict per workload. They are written into each
# data dir's meta.json and echoed with every result. Values the repo
# documents cite their source; the rest are marked as assumptions.
PARAMS = {
    "cdc_merge": {
        # ODS table: ~4 lines per order -> ~30k lineitem rows, 1/20 of sf0.1
        "orders": 7500, "customers": 1500, "suppliers": 100, "parts": 2000,
        # changes with a cursor in one 5-min window (cadence:
        # dags/bccp_dag.py:30, BASELINE.md:18). BASELINE.md:25 puts the
        # reference's floor at 10^4-10^5 rows per 5-min cycle per table;
        # 10^4 at the table's 1/20 scale is 500.
        "window_rows": 500,
        # backdate cycles re-pull whole days and re-merge them (SURVEY.md:239,
        # BASELINE.md:19, hourly at the tightest = every 12th 5-min cycle).
        # Here every 3rd op is a backdate over the two windows since the
        # last one: the cadence is compressed so each timed pass holds one.
        "backdate_every": 3,
        # assumptions, no source in the repo:
        "update_share": 0.8,       # of a window's changes; the rest insert new lines
        "recency_months": 3.0,     # e-folding of the update skew over ship months
        "late_share": 0.1,         # of a window's changes land after its cycle ran
        "maintenance": "compact + vacuum after each backdate",   # assumption
        "cycles": 120,             # more than any run consumes
    },
    # every value is an assumption: the repo documents no admission traffic
    # (the sf0.1 documents table has 8 exact repeats in 5000 rows; planting
    # 25% makes every tick exercise the reject path)
    "admission_stream": {
        "corpus_docs": 300, "corpus_vecs": 300,
        "ticks": 160,              # more than any run consumes
        "docs_per_tick": 40, "vecs_per_tick": 40,
        "planted_share": 0.25,     # half exact, half near copies
        "retention_window": 4,     # ticks of admissions kept live
        "retention_every": 2,      # retention fires after every 2nd tick
        "dim": 64, "cells": 4,
        "minhash_threshold": 0.8, "cosine_threshold": 0.95,
    },
}

EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")
CDC_T0 = np.datetime64("2002-01-01T00:00:00", "us")   # first cursor window
BASE_UPDATED = np.datetime64("2001-12-31T00:00:00", "us")
WINDOW_US = 5 * 60 * 1_000_000                         # 5-minute cadence


def ts(values_us):
    return pa.array(np.asarray(values_us, dtype="int64"), type=pa.timestamp("us"))


def day_us(days_since_1995):
    base = (np.datetime64("1995-01-01", "D") - np.datetime64("1970-01-01", "D")).astype("int64")
    return (base + np.asarray(days_since_1995, dtype="int64")) * 86_400_000_000


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def comments(rng, n):
    words = np.array(["quick", "final", "pending", "ironic", "bold", "regular",
                      "express", "careful", "silent", "even"])
    picks = words[rng.integers(0, len(words), size=(n, 3))]
    out = [" ".join(p) for p in picks]
    # a share of source strings carry the control characters the ingest
    # scrub removes (\r and \x00)
    dirty = rng.random(n) < 0.1
    return [s + ("\r\x00" if d else "") for s, d in zip(out, dirty)]


def lineitem(rng, p):
    """TPC-H-shaped order lines with unique (l_orderkey, l_linenumber)."""
    n_part, n_ord = p["parts"], p["orders"]
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    odate = rng.integers(0, 2404, n_ord)                  # 1995-01-01 .. 2001-08-01
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    partkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship = odate[okey] + rng.integers(1, 122, n_li)
    return {"okey": okey,
            "lnum": np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32"),
            "partkey": partkey, "ship": ship, "qty": qty,
            "ext": np.round(qty * price[partkey], 2),
            "disc": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "flags": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "status": np.where(ship > 2200, "O", "F"),
            "supp": rng.integers(0, p["suppliers"], n_li), "price": price,
            "n_ord": n_ord}


def ship_month(ship_days):
    d = np.datetime64("1995-01-01", "D") + np.asarray(ship_days).astype("timedelta64[D]")
    return np.datetime_as_string(d.astype("datetime64[M]"), unit="M")


def ods_base(li, rng, out):
    """The ODS table's initial state: lineitem plus comment, partition
    column and cursor."""
    n = len(li["okey"])
    write(pa.table({
        "l_orderkey": pa.array(li["okey"], pa.int64()),
        "l_linenumber": pa.array(li["lnum"], pa.int32()),
        "l_partkey": pa.array(li["partkey"], pa.int64()),
        "l_suppkey": pa.array(li["supp"], pa.int64()),
        "l_quantity": li["qty"], "l_extendedprice": li["ext"],
        "l_discount": li["disc"], "l_tax": li["tax"],
        "l_returnflag": li["flags"], "l_linestatus": li["status"],
        "l_shipdate": ts(day_us(li["ship"])),
        "l_comment": [c.replace("\r", "").replace("\x00", "") for c in comments(rng, n)],
        "ship_month": ship_month(li["ship"]),
        "updated_at": ts(np.full(n, (BASE_UPDATED - EPOCH_US).astype("int64"))),
    }), f"{out}/ods_base.parquet")


FEED_COLS = ["OrderKey", "LineNumber", "PartKey", "SuppKey", "Quantity", "ExtendedPrice",
             "Discount", "Tax", "ReturnFlag", "LineStatus", "ShipDate", "Comment", "UpdatedAt"]


def window_rows(li, rng, p, w, next_order):
    """The `window_rows` source changes whose cursor falls in window `w`.
    Updates favour recent ship months (exponential recency skew); inserts
    add new orders of 1-3 lines shipping in the newest months. Quantity
    arrives as a string and comments carry control characters, so ingest
    normalization does real work."""
    ship = li["ship"]
    months = (ship // 30.44).astype(int)
    age = months.max() - months
    w_recent = np.exp(-age / p["recency_months"])
    r = p["window_rows"]
    n_upd = int(round(r * p["update_share"]))
    rows = rng.choice(len(ship), n_upd, p=w_recent / w_recent.sum())
    n_ins = r - n_upd
    ins_ship, ins_okey, ins_lnum = [], [], []
    while len(ins_ship) < n_ins:
        k = min(int(rng.integers(1, 4)), n_ins - len(ins_ship))
        s = int(ship.max() - rng.integers(0, 45))
        for ln in range(1, k + 1):
            ins_okey.append(next_order); ins_lnum.append(ln); ins_ship.append(s)
        next_order += 1
    part = np.concatenate([li["partkey"][rows], rng.integers(0, len(li["price"]), n_ins)])
    qty = rng.integers(1, 51, r).astype("float64")
    # cursor: distinct, strictly inside the window, ordered at random
    t0 = (CDC_T0 - EPOCH_US).astype("int64") + w * WINDOW_US
    upd = rng.permutation(t0 + np.sort(rng.choice(WINDOW_US, r, replace=False)))
    sday = np.concatenate([ship[rows], ins_ship]).astype("int64")
    cols = {
        "OrderKey": np.concatenate([li["okey"][rows], ins_okey]).astype("int64"),
        "LineNumber": np.concatenate([li["lnum"][rows], ins_lnum]).astype("int32"),
        "PartKey": part.astype("int64"),
        "SuppKey": np.concatenate([li["supp"][rows],
                                   rng.integers(0, p["suppliers"], n_ins)]).astype("int64"),
        "Quantity": np.array([f"{q:.1f}" for q in qty]),
        "ExtendedPrice": np.round(qty * li["price"][part], 2),
        "Discount": np.round(rng.integers(0, 11, r) * 0.01, 2),
        "Tax": np.round(rng.integers(0, 9, r) * 0.01, 2),
        "ReturnFlag": np.concatenate([li["flags"][rows], np.array(["N"] * n_ins)]),
        "LineStatus": np.where(rng.random(r) < 0.5, "F", "O"),
        "ShipDate": day_us(sday),
        "Comment": np.array(comments(rng, r), dtype=object),
        "UpdatedAt": upd,
    }
    return cols, sday, next_order


def write_feed(parts, path):
    cat = {k: np.concatenate([c[k] for c in parts]) for k in FEED_COLS}
    write(pa.table({
        "OrderKey": pa.array(cat["OrderKey"], pa.int64()),
        "LineNumber": pa.array(cat["LineNumber"], pa.int32()),
        "PartKey": pa.array(cat["PartKey"], pa.int64()),
        "SuppKey": pa.array(cat["SuppKey"], pa.int64()),
        "Quantity": cat["Quantity"],
        "ExtendedPrice": cat["ExtendedPrice"], "Discount": cat["Discount"], "Tax": cat["Tax"],
        "ReturnFlag": cat["ReturnFlag"], "LineStatus": cat["LineStatus"],
        "ShipDate": ts(cat["ShipDate"]),
        "Comment": pa.array(cat["Comment"].tolist(), pa.string()),
        "UpdatedAt": ts(cat["UpdatedAt"]),
    }), path)


def changelog(li, rng, p, out):
    """Raw CDC feed in source naming plus the cycle schedule that reads it.

    Op 0 (the warm-up) and then `backdate_every - 1` of every
    `backdate_every` ops are 5-minute cycles: each reads its window's
    changes from `changelog.parquet`. The remaining op of each group is a
    backdate cycle: it re-pulls every window since the previous backdate
    (the "day") from `changelog.parquet` and `late.parquet` together, so
    it re-merges rows already merged (the merge guard keeps them) and
    merges the `late_share` of changes that landed after their window's
    cycle ran. The warm-up window has no late rows, as its day is never
    re-pulled."""
    every = p["backdate_every"]
    on_time, late, windows = [], [], []
    next_order = li["n_ord"]
    for w in range(p["cycles"]):
        cols, sday, next_order = window_rows(li, rng, p, w, next_order)
        r = len(sday)
        lands_late = np.zeros(r, bool)
        if w > 0:
            lands_late[rng.choice(r, int(round(r * p["late_share"])), replace=False)] = True
        on_time.append({k: v[~lands_late] for k, v in cols.items()})
        late.append({k: v[lands_late] for k, v in cols.items()})
        t0 = (CDC_T0 - EPOCH_US).astype("int64") + w * WINDOW_US
        windows.append({"start_us": int(t0), "end_us": int(t0 + WINDOW_US),
                        "sets": [(cols["OrderKey"][m], cols["LineNumber"][m], sday[m])
                                 for m in (~lands_late, lands_late)]})
    write_feed(on_time, f"{out}/changelog.parquet")
    write_feed(late, f"{out}/late.parquet")

    def cycle(kind, ws, with_late):
        sets = [s for w in ws for s in (w["sets"] if with_late else w["sets"][:1])]
        okey = np.concatenate([s[0] for s in sets])
        lnum = np.concatenate([s[1] for s in sets])
        sday = np.concatenate([s[2] for s in sets])
        return {"kind": kind, "start_us": ws[0]["start_us"], "end_us": ws[-1]["end_us"],
                "rows": int(len(okey)),
                "keys": len(set(zip(okey.tolist(), lnum.tolist()))),
                "months": sorted(set(ship_month(sday).tolist()))}

    cycles, day, w = [cycle("window", windows[:1], False)], [], 1
    late_upto = windows[0]["end_us"]   # late rows before this are merged
    while len(cycles) < p["cycles"]:
        if len(day) < every - 1:
            day.append(windows[w])
            cycles.append(cycle("window", [windows[w]], False))
            w += 1
        else:
            cycles.append(cycle("backdate", day, True))
            late_upto, day = day[-1]["end_us"], []
        cycles[-1]["late_upto_us"] = late_upto
    cycles[0]["late_upto_us"] = windows[0]["end_us"]
    return cycles


WORDS = None


def vocab():
    global WORDS
    if WORDS is None:
        letters = "abcdefghijklmnopqrstuvwxyz"
        WORDS = np.array([letters[i % 26] + letters[(i // 26) % 26] + letters[(i // 676) % 26]
                          + "o" for i in range(6000)])
    return WORDS


def doc_text(rng):
    return " ".join(vocab()[rng.integers(0, len(vocab()), int(rng.integers(40, 80)))])


def near_text(rng, text):
    """One trailing word replaced: word-3-shingle Jaccard >= 37/39."""
    w = text.split(" ")
    w[-1] = "zz" + vocab()[int(rng.integers(0, len(vocab())))]
    return " ".join(w)


def unit(v):
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype("float32")


def admission(rng, p, out):
    """One landing file per tick and kind. Tick 0 is the corpus (all
    novel), admitted through the drains in setup; every later tick holds
    novel rows and planted exact/near copies of rows that are LIVE in the
    index at that tick under the drain's retention (tick t stamps its
    admissions t; after tick t with (t + 1) % N == 0 everything stamped
    below t - W + 1 is evicted). So every planted copy must be rejected
    and every novel row admitted."""
    dim, k = p["dim"], p["cells"]
    centers = unit(rng.standard_normal((k, dim)))

    def vectors(n):
        cell = rng.integers(0, k, n)
        noise = rng.standard_normal((n, dim)) / np.sqrt(dim)
        return unit(centers[cell] + 1.2 * noise)

    def near_vec(v):
        return unit(v + 0.01 * rng.standard_normal(dim) / np.sqrt(dim))

    os.makedirs(f"{out}/ticks", exist_ok=True)
    emb_type = pa.list_(pa.float32())
    live = {"docs": {}, "vecs": {}}          # id -> admission stamp
    rows = {"docs": {}, "vecs": {}}          # id -> text / vector
    W, N = p["retention_window"], p["retention_every"]
    ticks = []
    next_id = 0
    for t in range(p["ticks"]):
        tick = {}
        for kind in ("docs", "vecs"):
            corpus = t == 0
            per = p[f"corpus_{kind}"] if corpus else p[f"{kind}_per_tick"]
            n_plant = 0 if corpus else int(round(per * p["planted_share"]))
            novel = list(range(next_id, next_id + per - n_plant))
            next_id += len(novel)
            payload = ([doc_text(rng) for _ in novel] if kind == "docs"
                       else list(vectors(len(novel))))
            ids = list(novel)
            pool = sorted(live[kind])
            for j in range(n_plant):
                src = rows[kind][pool[int(rng.integers(0, len(pool)))]]
                exact = j % 2 == 0
                payload.append(src if exact else
                               near_text(rng, src) if kind == "docs" else near_vec(src))
                ids.append(next_id)
                next_id += 1
            order = rng.permutation(len(ids))
            ids = [ids[i] for i in order]
            payload = [payload[i] for i in order]
            if kind == "docs":
                tbl = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": payload})
            else:
                tbl = pa.table({"vec_id": pa.array(ids, pa.int64()),
                                "embedding": pa.array([v.tolist() for v in payload], emb_type)})
            path = f"{out}/ticks/{kind}_{t:05d}.parquet"
            write(tbl, path)
            fresh = set(novel)
            for i, pl in zip(ids, payload):
                if i in fresh:
                    rows[kind][i] = pl
                    live[kind][i] = t
            tick[kind] = {"novel": novel, "planted": n_plant, "bytes": os.path.getsize(path)}
        if (t + 1) % N == 0:   # the drain's in-drain retention firing
            for stamps in live.values():
                for i in [i for i, a in stamps.items() if a < t - W + 1]:
                    del stamps[i]
        ticks.append(tick)
    with open(f"{out}/centroids.json", "w") as f:
        json.dump(centers.tolist(), f)
    return ticks


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    p = PARAMS[workload]
    rng = np.random.default_rng(seed)
    meta = {"workload": workload, "seed": seed, "params": p}
    if workload == "cdc_merge":
        li = lineitem(rng, p)
        ods_base(li, rng, out)
        meta["cycles"] = changelog(li, rng, p, out)
        meta["base_rows"] = int(len(li["okey"]))
    elif workload == "admission_stream":
        meta["ticks"] = admission(rng, p, out)
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    main()
