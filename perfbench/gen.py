#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Three modes, each a separate process so the load never shares the engine's
JVM:

  tables   write the TPC-H-ish star schema plus events/documents/embeddings
           (the layout Tables reads) for query_mix.
  backlog  write envelope files into an origin topic directory before any
           timing starts (route_drain, and the warm-up routes).
  paced    drop one envelope file per tick into an origin topic directory,
           on a wall-clock schedule that does not slow when the engine
           slows, for route_paced.

Every file is written under a dot-name and renamed into place, so a reader
never sees a partial parquet file. The same seed gives the same rows.
"""
import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ENTITY_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("topicEntity", pa.string()),
    ("retryCount", pa.int32()),
    ("nextAttemptAt", pa.timestamp("us", tz="UTC")),
    ("channel", pa.string()),
    ("headers", pa.list_(pa.struct([("key", pa.string()),
                                    ("value", pa.binary())]))),
])

# Disposition mix of the route workloads, in percent.
MIX = [("success", 90), ("retry", 5), ("dead_letter", 2), ("corrupt", 1),
       ("channel:audit", 2)]
CORRUPT_VALUE = b'{"id": '


def dispositions(rng, n):
    """n dispositions in the MIX proportions, shuffled by the seed."""
    names = [m for m, _ in MIX]
    counts = [n * p // 100 for _, p in MIX]
    counts[0] += n - sum(counts)
    out = np.repeat(np.arange(len(names)), counts)
    rng.shuffle(out)
    return [names[i] for i in out]


def envelope_table(keys, disps, topic, offsets, ts_us):
    # the bytes json.dumps gives for {"id": ..., "d": ...}, formatted
    # directly: it is the slowest step of a large backlog
    values = [CORRUPT_VALUE if d == "corrupt"
              else f'{{"id": {k[1:]}, "d": "{d}"}}'.encode()
              for k, d in zip(keys, disps)]
    n = len(keys)
    return pa.table({
        "key": pa.array([k.encode() for k in keys], pa.binary()),
        "value": pa.array(values, pa.binary()),
        "topic": pa.array([topic] * n, pa.string()),
        "partition": pa.array([0] * n, pa.int32()),
        "offset": pa.array(offsets, pa.int64()),
        "timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "topicEntity": pa.array([None] * n, pa.string()),
        "retryCount": pa.array([None] * n, pa.int32()),
        "nextAttemptAt": pa.array([None] * n, pa.timestamp("us", tz="UTC")),
        "channel": pa.array([None] * n, pa.string()),
        "headers": pa.array([None] * n, ENTITY_SCHEMA.field("headers").type),
    }, schema=ENTITY_SCHEMA)


def publish(table, topic_dir, name):
    """Write complete, then rename into the topic: readers skip dot-files."""
    tmp = os.path.join(topic_dir, "." + name)
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(topic_dir, name))


def truth(keys, disps):
    by = {}
    for k, d in zip(keys, disps):
        by.setdefault(d, []).append(k)
    return by


def write_json(path, obj):
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.rename(path + ".tmp", path)


def backlog(args):
    rng = np.random.default_rng(args.seed)
    os.makedirs(args.out, exist_ok=True)
    n, files = args.events, args.files
    keys = [f"k{i}" for i in range(n)]
    disps = ["success"] * n if args.success_only else dispositions(rng, n)
    # current timestamps: the route's too-old filter drops week-old rows
    now_us = int(time.time() * 1e6)
    bounds = np.linspace(0, n, files + 1).astype(int)
    for f in range(files):
        lo, hi = bounds[f], bounds[f + 1]
        publish(envelope_table(keys[lo:hi], disps[lo:hi], args.topic,
                               list(range(lo, hi)), [now_us + i for i in range(lo, hi)]),
                args.out, f"part-{f:05d}.parquet")
    write_json(args.truth, {"events": n, "files": files, "by": truth(keys, disps)})


def paced(args):
    """One file per tick of 1/rate s; a small share of keys repeats later.
    The first --warm-seconds of files bring the route to its steady state
    and are flagged in the ground truth as warm-up."""
    rng = np.random.default_rng(args.seed)
    os.makedirs(args.out, exist_ok=True)
    nfiles = int(round((args.warm_seconds + args.seconds) * args.rate))
    per = args.rows_per_file
    fresh = nfiles * per
    n_dup = int(fresh * args.dup_share)
    disps = dispositions(rng, fresh)
    keys = [f"k{i}" for i in range(fresh)]
    # each duplicate repeats an earlier key (same value) in a later slot
    dup_of = np.sort(rng.choice(fresh, size=n_dup, replace=False))
    slots = [(keys[i], disps[i]) for i in range(fresh)]
    order = []
    di = 0
    for i, s in enumerate(slots):
        order.append(s)
        # the repeat of key j is placed about 1.5 files after it
        while di < n_dup and dup_of[di] + int(1.5 * per) <= i:
            j = dup_of[di]
            order.append(slots[j])
            di += 1
    while di < n_dup:
        order.append(slots[dup_of[di]])
        di += 1
    total = len(order)
    bounds = np.linspace(0, total, nfiles + 1).astype(int)
    # the first parquet write pays one-off library set-up; pay it before
    # the schedule starts
    pq.write_table(envelope_table(["k0"], ["success"], args.topic, [0], [0]),
                   pa.BufferOutputStream())
    start = time.time() + 0.2
    due_ms, renamed_ms, rows = [], [], []
    for f in range(nfiles):
        due = start + f / args.rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        lo, hi = bounds[f], bounds[f + 1]
        chunk = order[lo:hi]
        due_us = int(due * 1e6)
        publish(envelope_table([k for k, _ in chunk], [d for _, d in chunk],
                               args.topic, list(range(lo, hi)), [due_us] * len(chunk)),
                args.out, f"part-{f:06d}.parquet")
        renamed_ms.append(time.time() * 1e3)
        due_ms.append(due * 1e3)
        rows.append(int(hi - lo))
    late = [r - d for r, d in zip(renamed_ms, due_ms)]
    write_json(args.truth, {"events": total, "files": nfiles,
                            "warm_files": int(round(args.warm_seconds * args.rate)),
                            "by": truth(keys, disps), "due_ms": due_ms,
                            "renamed_ms": renamed_ms, "rows": rows,
                            "late_ms_max": max(late) if late else 0.0})


# ---------------------------------------------------------------- tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]


def write(df_cols, path):
    pq.write_table(pa.table(df_cols), path + ".tmp")
    os.rename(path + ".tmp", path)


def days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days + 1, n).astype("timedelta64[D]")


def tables(args):
    rng = np.random.default_rng(args.seed)
    sf = args.scale
    out = args.out
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    write({"r_regionkey": pa.array(range(5), i32),
           "r_name": REGIONS}, f"{out}/region.parquet")
    write({"n_nationkey": pa.array(range(25), i32),
           "n_name": [f"NATION_{i}" for i in range(25)],
           "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
          f"{out}/nation.parquet")
    write({"c_custkey": pa.array(np.arange(n_cust), i64),
           "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
           "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
           "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
           "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]},
          f"{out}/customer.parquet")
    write({"s_suppkey": pa.array(np.arange(n_supp), i64),
           "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
           "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
           "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
          f"{out}/supplier.parquet")
    write({"p_partkey": pa.array(np.arange(n_part), i64),
           "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                      zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
           "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
           "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
           "p_size": pa.array(rng.integers(1, 51, n_part), i32),
           "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)},
          f"{out}/part.parquet")
    write({"o_orderkey": pa.array(np.arange(n_ord), i64),
           "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
           "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
           "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
           "o_orderdate": days(rng, n_ord, "1995-01-01", 2403),
           "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]},
          f"{out}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(float)
    write({"l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
           "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
           "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
           "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
           "l_quantity": qty,
           "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
           "l_discount": rng.integers(0, 11, n_line) / 100.0,
           "l_tax": rng.integers(0, 9, n_line) / 100.0,
           "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
           "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
           "l_shipdate": days(rng, n_line, "1995-01-02", 2498)},
          f"{out}/lineitem.parquet")
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev)).astype("timedelta64[us]")
    write({"event_id": pa.array(np.arange(n_ev), i64),
           "ts": np.datetime64("2024-01-01", "us") + ts,
           "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
           "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
           "value": np.round(rng.exponential(50.0, n_ev), 2),
           "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]},
          f"{out}/events.parquet")
    # documents: random word strings; about 5% are near-copies of another
    # document (one or two words dropped, " dup" appended)
    texts = []
    for d in range(n_docs):
        if d > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, d))].split()
            words = [w for w in words if w != "dup"]
            for _ in range(int(rng.integers(1, 3))):
                if len(words) > 3:
                    words.pop(int(rng.integers(0, len(words))))
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n)))
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    write({"doc_id": pa.array(np.arange(n_docs), i64),
           "text": texts,
           "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=lang_p)],
           "source": [f"src{d % 20}" for d in range(n_docs)],
           "n_chars": pa.array([len(t) for t in texts], i64)},
          f"{out}/documents.parquet")
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write({"vec_id": pa.array(np.arange(n_vec), i64),
           "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
           "label": pa.array(rng.integers(0, 10, n_vec), i32)},
          f"{out}/embeddings.parquet")


def main():
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("mode", choices=["tables", "backlog", "paced"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True, help="table dir or topic dir")
    p.add_argument("--truth", help="ground-truth JSON (backlog, paced)")
    p.add_argument("--topic", default="origin")
    p.add_argument("--scale", type=float, default=0.01)
    p.add_argument("--events", type=int, default=1000)
    p.add_argument("--files", type=int, default=1)
    p.add_argument("--rate", type=float, default=50.0, help="files per second")
    p.add_argument("--rows-per-file", type=int, default=10)
    p.add_argument("--dup-share", type=float, default=0.02)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--warm-seconds", type=float, default=0.0)
    p.add_argument("--success-only", action="store_true",
                   help="backlog: every event succeeds (no sink writes)")
    args = p.parse_args()
    {"tables": tables, "backlog": backlog, "paced": paced}[args.mode](args)


if __name__ == "__main__":
    main()
