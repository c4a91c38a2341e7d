"""Seeded input generator for the lakehouse benchmark.

Writes one workload's inputs (parquet files plus a JSON op log) into an
output directory before the measured JVM starts. The same --seed always
gives byte-identical inputs; the measured process only ever sees these
files.

    python3 perfbench/gen.py --workload lake_dml --seed 7 --out inputs/lake_dml

The value domains mirror the repo's TPC-H-ish testdata (Brand#<n>, the
six part types, orders dated 1995-2001).
"""
import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Reserved for confirming a claim after tuning: never pass it while
# tuning the benchmark or an optimisation.
HELD_OUT_SEED = 917_403

WORKLOADS = ("etl_ingest", "lake_dml", "feed_maintain")

SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
ADJ = ["cold", "small", "large", "blue", "old", "new", "red", "hot", "tiny"]
NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gear", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
VOCAB = ("the fast key order sort table scan merge part window small hash "
         "join batch stream spark dup group query row data slow filter "
         "customer line value column agg vector big a").split()
# marker value for rows a MERGE-with-delete removes (never lands in a table)
DELETE_PRIORITY = "9-DELETE"
DELETE_TEXT = "__delete__"

EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000
YEAR_DAYS = 365

TS = pa.timestamp("us")
SCHEMAS = {
    "part": pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                       ("p_brand", pa.string()), ("p_type", pa.string()),
                       ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", TS)]),
}
LAKE_ORDERS = pa.schema(list(SCHEMAS["orders"]) + [("o_year", pa.int32())])
BATCH_ORDERS = pa.schema([("op", pa.int32())] + list(LAKE_ORDERS))

# Sizes: enough drops, ops and rounds that a run never exhausts them.
# etl_ingest's initial load is four fifths of TPC-H sf0.1 (120k orders,
# ~480k lineitems, 16k parts), so each drop's unpartitioned full-rewrite
# upsert rewrites a table of that size.
SIZES = {
    "etl_ingest": dict(orders=120000, parts=16000, custs=12000, supps=800, drops=60),
    "lake_dml": dict(orders=20000, custs=1500, ops=200),
    "feed_maintain": dict(orders=4000, custs=300, docs=600, vecs=600, dim=16,
                          rounds=26),
}


def write(table_rows, schema, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = {f.name: table_rows[f.name] for f in schema}
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


def money(rng, lo, hi, n):
    # two-decimal prices, as in the testdata
    return np.round(rng.uniform(lo, hi, n), 2)


def parts(rng, keys):
    n = len(keys)
    return {"p_partkey": np.asarray(keys, dtype=np.int64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, len(ADJ), n), rng.integers(0, len(NOUN), n))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900 + (np.asarray(keys) % 200) * 0.1, 2)}


def orders(rng, keys, n_custs, day_lo=0, day_hi=6 * YEAR_DAYS + 212):
    n = len(keys)
    return {"o_orderkey": np.asarray(keys, dtype=np.int64),
            "o_custkey": rng.integers(0, n_custs, n).astype(np.int64),
            "o_orderstatus": [STATUSES[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": money(rng, 1000, 500000, n),
            "o_orderdate": EPOCH_1995_US + rng.integers(day_lo, day_hi, n) * DAY_US,
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)]}


def lineitems(rng, order_keys, order_days, n_parts, n_supps, max_lines=7):
    okeys, lnums, days = [], [], []
    for k, d in zip(order_keys, order_days):
        m = int(rng.integers(1, max_lines + 1))
        okeys += [k] * m
        lnums += list(range(1, m + 1))
        days += [d] * m
    n = len(okeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.asarray(days, dtype=np.int64) + rng.integers(1, 122, n) * DAY_US
    return {"l_orderkey": np.asarray(okeys, dtype=np.int64),
            "l_partkey": rng.integers(0, n_parts, n).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supps, n).astype(np.int64),
            "l_linenumber": np.asarray(lnums, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * money(rng, 900, 2100, n), 2),
            "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
            "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": ship}


def take(rows, idx):
    return {c: [v[i] for i in idx] if isinstance(v, list) else np.asarray(v)[idx]
            for c, v in rows.items()}


def concat(*parts_):
    out = {}
    for c in parts_[0]:
        vals = [p[c] for p in parts_]
        if any(isinstance(v, list) for v in vals):
            out[c] = [x for v in vals for x in (v.tolist() if hasattr(v, "tolist") else v)]
        else:
            out[c] = np.concatenate([np.asarray(v) for v in vals])
    return out


def with_nulls(rows, col, idx):
    vals = list(rows[col].tolist() if hasattr(rows[col], "tolist") else rows[col])
    for i in idx:
        vals[i] = None
    rows = dict(rows)
    rows[col] = vals
    return rows


def gen_etl(rng, out, s):
    """drops/d=0 is the initial load; d=1, d=2, ... are the small drops."""
    base = os.path.join(out, "drops", "d=0")
    part = parts(rng, range(s["parts"]))
    o = orders(rng, range(s["orders"]), s["custs"])
    li = lineitems(rng, o["o_orderkey"], o["o_orderdate"], s["parts"], s["supps"])
    write(part, SCHEMAS["part"], os.path.join(base, "part.parquet"))
    write(o, SCHEMAS["orders"], os.path.join(base, "orders.parquet"))
    write(li, SCHEMAS["lineitem"], os.path.join(base, "lineitem.parquet"))
    next_order, next_part = s["orders"], s["parts"]
    for d in range(1, s["drops"] + 1):
        # new keys
        new_o = orders(rng, range(next_order, next_order + 20), s["custs"])
        next_order += 20
        # later-timestamp updates of existing orders (re-sent with lines,
        # so the in-drop RI check keeps them)
        upd_keys = rng.choice(next_order - 20, 12, replace=False)
        upd_o = orders(rng, upd_keys, s["custs"], day_lo=7 * YEAR_DAYS, day_hi=7 * YEAR_DAYS + 90 + d)
        drop_o = concat(new_o, upd_o)
        li_d = lineitems(rng, drop_o["o_orderkey"], drop_o["o_orderdate"],
                         s["parts"] + 8, s["supps"], max_lines=4)
        # products: new parts and renamed existing parts; the drop's first
        # lines reference them so the in-drop RI check keeps them
        new_p = parts(rng, range(next_part, next_part + 4))
        next_part += 4
        upd_p = parts(rng, rng.choice(next_part - 4, 4, replace=False))
        keep_p = concat(new_p, upd_p)
        li_d["l_partkey"][:len(keep_p["p_partkey"])] = keep_p["p_partkey"]
        # in-drop later-timestamp update of one order: two versions, the
        # later date must win inside the drop
        newer = take(upd_o, [0])
        newer["o_orderdate"] = np.asarray(newer["o_orderdate"]) + DAY_US
        newer["o_totalprice"] = np.asarray(newer["o_totalprice"]) + 1.0
        # RI orphans: orders with no lines in this drop, lines whose order
        # is not in this drop
        orphan_o = orders(rng, rng.choice(next_order, 3, replace=False) + 10_000_000,
                          s["custs"])
        orphan_li = lineitems(rng, rng.choice(next_order, 4, replace=False) + 20_000_000,
                              np.full(4, EPOCH_1995_US), s["parts"], s["supps"], max_lines=1)
        # exact duplicates
        dup_o = take(drop_o, rng.choice(len(drop_o["o_orderkey"]), 4, replace=False))
        dup_li = take(li_d, rng.choice(len(li_d["l_orderkey"]), 6, replace=False))
        # null-key rejects
        rej_o = with_nulls(orders(rng, range(30_000_000 + d * 10, 30_000_000 + d * 10 + 2),
                                  s["custs"]), "o_custkey", [0, 1])
        rej_li = with_nulls(take(li_d, [0, 1]), "l_partkey", [0, 1])
        all_o = concat(drop_o, newer, orphan_o, dup_o, rej_o)
        all_li = concat(li_d, orphan_li, dup_li, rej_li)
        # a product orphan (no line references it) and a null-name reject
        orphan_p = parts(rng, [40_000_000 + d])
        rej_p = with_nulls(parts(rng, [50_000_000 + d]), "p_name", [0])
        all_p = concat(keep_p, orphan_p, take(keep_p, [0]), rej_p)
        m = len(all_li["l_orderkey"])
        perm_o = rng.permutation(len(all_o["o_orderkey"]))
        perm_li = rng.permutation(m)
        ddir = os.path.join(out, "drops", f"d={d}")
        write(take(all_o, perm_o), SCHEMAS["orders"], os.path.join(ddir, "orders.parquet"))
        write(take(all_li, perm_li), SCHEMAS["lineitem"], os.path.join(ddir, "lineitem.parquet"))
        write(all_p, SCHEMAS["part"], os.path.join(ddir, "part.parquet"))
    return {"drops": s["drops"]}


YEARS = np.arange(1995, 2002)
YEAR_WEIGHTS = np.array([1, 1, 2, 3, 5, 8, 13], dtype=np.float64)
YEAR_WEIGHTS /= YEAR_WEIGHTS.sum()


def lake_orders(rng, keys, n_custs, years):
    o = orders(rng, keys, n_custs)
    days = rng.integers(0, YEAR_DAYS, len(keys))
    start = np.array([(np.datetime64(f"{y}-01-01") - np.datetime64("1995-01-01"))
                      .astype(np.int64) for y in years])
    o["o_orderdate"] = EPOCH_1995_US + (start + days) * DAY_US
    o["o_year"] = np.asarray(years, dtype=np.int32)
    return o


def gen_lake_dml(rng, out, s):
    n, n_custs = s["orders"], s["custs"]
    key_year = rng.choice(YEARS, n, p=np.full(7, 1 / 7))
    base = lake_orders(rng, range(n), n_custs, key_year)
    write(base, LAKE_ORDERS, os.path.join(out, "base.parquet"))
    year_of = dict(zip(range(n), key_year.tolist()))
    next_key = n
    # a fixed period of kinds (6 writes including a change-feed compaction,
    # 4 reads) with seeded contents; runs stop at a period boundary, so
    # every run measures the same mix
    period = ["upsert", "read", "update", "upsert_delete", "read_version", "upsert",
              "delete", "changes_since", "read", "compact"]
    ops, batches = [], []
    for i in range(s["ops"]):
        kind = period[i % len(period)]
        if kind == "compact":
            ops.append({"id": i, "kind": kind})
            continue
        year = int(rng.choice(YEARS, p=YEAR_WEIGHTS))
        op = {"id": i, "kind": kind, "year": year}
        if kind in ("upsert", "upsert_delete"):
            recent = list(dict.fromkeys(k for k in rng.integers(0, next_key, 400).tolist()
                                        if year_of[k] == year))[:28]
            new = list(range(next_key, next_key + 12))
            next_key += 12
            for k in new:
                year_of[k] = year
            keys = recent + new
            b = lake_orders(rng, keys, n_custs, [year_of[k] for k in keys])
            if kind == "upsert_delete":
                pr = list(b["o_orderpriority"])
                for j in range(min(8, len(recent))):
                    pr[j] = DELETE_PRIORITY
                b["o_orderpriority"] = pr
            b = {"op": np.full(len(keys), i, dtype=np.int32), **b}
            batches.append(b)
        elif kind in ("delete", "update"):
            op["mod"] = int(rng.integers(60, 120))
            op["rem"] = int(rng.integers(0, op["mod"]))
        elif kind == "read":
            op["min_price"] = float(np.round(rng.uniform(50_000, 400_000), 2))
        ops.append(op)
    write(concat(*batches), BATCH_ORDERS, os.path.join(out, "batches.parquet"))
    with open(os.path.join(out, "ops.json"), "w") as f:
        json.dump(ops, f)
    return {"ops": len(ops)}


def text(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def near_dup(rng, t):
    w = t.split()
    j = int(rng.integers(0, len(w)))
    w[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w)


def gen_feed(rng, out, s):
    n, n_custs, dim = s["orders"], s["custs"], s["dim"]
    o = orders(rng, range(n), n_custs)
    o = {c: o[c] for c in ("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")}
    fact_schema = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                             ("o_totalprice", pa.float64()), ("o_orderpriority", pa.string())])
    write(o, fact_schema, os.path.join(out, "orders.parquet"))
    cust_schema = pa.schema([("o_custkey", pa.int64()), ("c_mktsegment", pa.string())])
    seg = [SEGMENTS[i] for i in rng.integers(0, 5, n_custs)]
    write({"o_custkey": np.arange(n_custs, dtype=np.int64), "c_mktsegment": seg},
          cust_schema, os.path.join(out, "customer.parquet"))
    doc_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    texts = []
    for i in range(s["docs"]):
        texts.append(near_dup(rng, texts[int(rng.integers(0, i))])
                     if i > 10 and rng.random() < 0.2 else text(rng, int(rng.integers(20, 60))))
    write({"doc_id": np.arange(s["docs"], dtype=np.int64), "text": texts}, doc_schema,
          os.path.join(out, "documents.parquet"))
    vec_schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])
    centers = rng.normal(0, 1, (8, dim))

    def vecs(k):
        c = centers[rng.integers(0, 8, k)]
        return [list(map(float, v)) for v in (c + rng.normal(0, 0.3, (k, dim))).astype(np.float32)]
    write({"vec_id": np.arange(s["vecs"], dtype=np.int64), "embedding": vecs(s["vecs"])},
          vec_schema, os.path.join(out, "embeddings.parquet"))

    # extrema per customer in the initial load: deletes aim at them so
    # the min/max maintainer meets threatened groups every round
    prices = np.asarray(o["o_totalprice"])
    custs = np.asarray(o["o_custkey"])
    order = np.lexsort((prices, custs))
    extreme = []
    for c in range(n_custs):
        idx = order[custs[order] == c]
        if len(idx):
            extreme += [int(idx[0]), int(idx[-1])]
    extreme = rng.permutation(np.asarray(extreme))
    next_order, next_doc, next_vec, e = n, s["docs"], s["vecs"], 0
    fact_b, cust_b, doc_b, vec_b = [], [], [], []
    rounds = []
    for r in range(s["rounds"]):
        ins = orders(rng, range(next_order, next_order + 20), n_custs)
        next_order += 20
        dels = extreme[e:e + 6]
        e += 6
        upd_keys = [k for k in rng.choice(n, 18, replace=False).tolist()
                    if k not in set(dels.tolist())][:12]
        upd = orders(rng, upd_keys, n_custs)
        dl = orders(rng, dels, n_custs)
        dl["o_orderpriority"] = [DELETE_PRIORITY] * len(dels)
        b = concat(*[{c: x[c] for c in fact_schema.names} for x in (ins, upd, dl)])
        fact_b.append({"round": np.full(len(b["o_orderkey"]), r, dtype=np.int32), **b})
        n_cust = 0
        if r % 3 == 2:
            ck = rng.choice(n_custs, 5, replace=False)
            cust_b.append({"round": np.full(5, r, dtype=np.int32),
                           "o_custkey": ck.astype(np.int64),
                           "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, 5)]})
            n_cust = 5
        d_ids = list(range(next_doc, next_doc + 8)) + rng.choice(next_doc, 6, replace=False).tolist()
        next_doc += 8
        d_txt = [near_dup(rng, texts[int(rng.integers(0, len(texts)))]) if j % 2 else
                 text(rng, int(rng.integers(20, 60))) for j in range(len(d_ids))]
        for j in range(11, 14):
            d_txt[j] = DELETE_TEXT
        doc_b.append({"round": np.full(len(d_ids), r, dtype=np.int32),
                      "doc_id": np.asarray(d_ids, dtype=np.int64), "text": d_txt})
        v_ids = list(range(next_vec, next_vec + 8)) + rng.choice(next_vec, 6, replace=False).tolist()
        next_vec += 8
        v = vecs(len(v_ids))
        for j in range(11, 14):
            v[j] = None
        vec_b.append({"round": np.full(len(v_ids), r, dtype=np.int32),
                      "vec_id": np.asarray(v_ids, dtype=np.int64), "embedding": v})
        rounds.append({"round": r, "change_rows": len(b["o_orderkey"]) + n_cust +
                       len(d_ids) + len(v_ids)})
    rs = [("round", pa.int32())]
    write(concat(*fact_b), pa.schema(rs + list(fact_schema)), os.path.join(out, "fact_changes.parquet"))
    write(concat(*cust_b), pa.schema(rs + list(cust_schema)), os.path.join(out, "customer_changes.parquet"))
    write(concat(*doc_b), pa.schema(rs + list(doc_schema)), os.path.join(out, "doc_changes.parquet"))
    write(concat(*vec_b), pa.schema(rs + list(vec_schema)), os.path.join(out, "vec_changes.parquet"))
    with open(os.path.join(out, "rounds.json"), "w") as f:
        json.dump(rounds, f)
    return {"rounds": s["rounds"]}


def generate(workload, seed, out):
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    os.makedirs(out, exist_ok=True)
    s = SIZES[workload]
    if workload == "etl_ingest":
        info = gen_etl(rng, out, s)
    elif workload == "lake_dml":
        info = gen_lake_dml(rng, out, s)
    else:
        info = gen_feed(rng, out, s)
    manifest = {"workload": workload, "seed": seed, "held_out_seed": HELD_OUT_SEED,
                "sizes": s, **info}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main(sys.argv[1:])
