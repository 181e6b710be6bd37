"""Seeded input generation for every workload.

The engine under test sees only what this module writes: parquet tables for
the query library, and little-endian arrays the harness turns into queue
messages and join rows. The same seed always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the relational tables at sf = 0.1, the layout the query
# library is written against (TPC-H-like star schema plus events,
# documents and embeddings).
ROWS_AT_SF01 = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000,
}
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
NOUN = ["ring", "bolt", "widget", "plate", "gear", "nut", "pipe", "valve"]
P_TYPES = ["ECONOMY", "SMALL", "LARGE", "STANDARD", "MEDIUM", "PROMO"]
DAY_US = 86400 * 1000000
EPOCH_1995 = 788918400 * 1000000  # 1995-01-01 in epoch microseconds
EPOCH_2024 = 1704067200 * 1000000  # 2024-01-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, out_dir, sf):
    """Write the ten parquet tables the query library reads."""
    rng = np.random.default_rng([seed, 1])
    n = {k: max(10, int(round(v * sf / 0.1))) for k, v in ROWS_AT_SF01.items()}
    os.makedirs(out_dir, exist_ok=True)
    w = lambda name, cols: pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    w("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                 "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    w("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    w("customer", {"c_custkey": np.arange(nc),
                   "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                   "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                   "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                   "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    w("supplier", {"s_suppkey": np.arange(ns),
                   "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                   "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                   "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    w("part", {"p_partkey": np.arange(npart),
               "p_name": [ADJ[a] + " " + NOUN[b] for a, b in
                          zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
               "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
               "p_type": [P_TYPES[i] for i in rng.integers(0, 6, npart)],
               "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
               "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = n["orders"]
    w("orders", {"o_orderkey": np.arange(no),
                 "o_custkey": rng.integers(0, nc, no),
                 "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
                 "o_totalprice": _money(rng, 1000, 500000, no),
                 "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, no) * DAY_US),
                 "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    w("lineitem", {"l_orderkey": rng.integers(0, no, nl),
                   "l_partkey": rng.integers(0, npart, nl),
                   "l_suppkey": rng.integers(0, ns, nl),
                   "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
                   "l_quantity": qty,
                   "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
                   "l_discount": rng.integers(0, 11, nl) / 100.0,
                   "l_tax": rng.integers(0, 9, nl) / 100.0,
                   "l_returnflag": [("N", "A", "R")[i] for i in rng.integers(0, 3, nl)],
                   "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
                   "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2498, nl)) * DAY_US)})
    ne = n["events"]
    users = max(15, nc // 10)
    w("events", {"event_id": np.arange(ne),
                 "ts": _ts(np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, ne))),
                 "user_id": rng.integers(0, users, ne),
                 "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
                 "value": np.round(rng.exponential(50.0, ne), 2),
                 "props": ['{"k": %d}' % i for i in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    docs = []
    for i in range(nd):
        # about 5% near-duplicates of an earlier document, so the dedup and
        # similarity families find pairs rather than scanning empty joins
        if i > 10 and rng.random() < 0.05:
            words = docs[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        docs.append(" ".join(words))
    w("documents", {"doc_id": np.arange(nd), "text": docs,
                    "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
                    "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
                    "n_chars": np.array([len(t) for t in docs], dtype=np.int64)})
    nv = n["embeddings"]
    v = rng.normal(size=(nv, 64)).astype(np.float32)
    near = np.nonzero(rng.random(nv) < 0.03)[0]
    near = near[near > 0]
    v[near] = v[rng.integers(0, near)] + 0.05 * rng.normal(size=(len(near), 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    w("embeddings", {"vec_id": np.arange(nv),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


def zipf_keys(rng, n, keys, s):
    """Batch keys 0..keys-1 drawn with Zipf exponent s (rank 0 hottest)."""
    p = 1.0 / np.arange(1, keys + 1) ** s
    return rng.choice(keys, size=n, p=p / p.sum()).astype(np.int32)


def poisson_offsets(rng, rate, seconds):
    """Due times (s from phase start) of an open-loop Poisson arrival stream."""
    n = int(rate * seconds * 1.2) + 16
    t = np.cumsum(rng.exponential(1.0 / rate, n))
    return t[t < seconds]


def ingest(seed, out_dir, plan):
    """Messages of pipeline_ingest: per id a batcher, a batch key and the
    intended outcome (0 ok, 1 failed on purpose, 2 crash), plus the due
    offsets of every ladder rung."""
    rng = np.random.default_rng([seed, 2])
    g = plan["generator"]
    dues = [poisson_offsets(rng, r, s) for r, s in zip(plan["rates"], plan["rung_s"])]
    total = (plan["warmup_msgs"] + sum(len(d) for d in dues) + plan["backlog_msgs"] * (plan["rounds"] + 1)
             + plan["drain_msgs"])
    u = rng.random(total)
    action = np.where(u < g["crash_share"], 2, np.where(u < g["crash_share"] + g["fail_share"], 1, 0))
    batcher = (rng.random(total) < g["large_share"]).astype(np.int8)
    keys = zipf_keys(rng, total, g["keys"], g["zipf_s"])
    _write(out_dir, action=action.astype(np.int8), batcher=batcher, key=keys)
    for i, d in enumerate(dues):
        _write(out_dir, **{f"due{i}": d.astype(np.float64)})
    return {"total": total, "rung_msgs": [len(d) for d in dues]}


def stateful(seed, out_dir, plan):
    """KeyedBatcher feed (cold keys close by timeout, hot keys by size) and
    the two interval-join streams with out-of-order and late rows."""
    rng = np.random.default_rng([seed, 3])
    kb = plan["batcher"]
    due = poisson_offsets(rng, kb["rate"], plan["batcher_s"])
    n = len(due)
    hot = rng.random(n) < kb["hot_share"]
    key = np.where(hot, rng.integers(0, kb["hot_keys"], n),
                   kb["hot_keys"] + rng.integers(0, kb["cold_keys"], n)).astype(np.int32)
    flush = (rng.random(n) < kb["flush_share"]).astype(np.int8)
    _write(out_dir, kb_due=due.astype(np.float64), kb_key=key, kb_flush=flush)

    j = plan["join"]
    per_side = j["rows_per_side"]
    info = {"kb_msgs": n}
    for side in ("left", "right"):
        idx = np.arange(per_side)
        # event time advances ev_step_ms per row with jitter below the
        # watermark delay, so out-of-order rows are never dropped
        ts = idx * j["ev_step_ms"] + rng.integers(-j["jitter_ms"], j["jitter_ms"] + 1, per_side)
        if side == "right":
            ts = ts + rng.integers(0, j["right_shift_ms"] + 1, per_side)
        wave = np.minimum(idx // (per_side // j["waves"]), j["waves"] - 1)
        # late rows: from the third wave on, once the watermark has moved,
        # and late by more than the delay plus three waves' event-time span,
        # so they fall behind the watermark however the batches are cut
        eligible = wave >= 2
        late = eligible & (rng.random(per_side) < j["late_share"] * j["waves"] / (j["waves"] - 2))
        span = (per_side // j["waves"]) * j["ev_step_ms"]
        ts = np.where(late, ts - j["delay_ms"] - 3 * span - rng.integers(0, span, per_side), ts)
        key = rng.integers(0, j["keys"], per_side).astype(np.int32)
        _write(out_dir, **{f"{side}_ts": ts.astype(np.int64), f"{side}_key": key,
                           f"{side}_late": late.astype(np.int8)})
        info[f"{side}_late"] = int(late.sum())
    return info


def _write(out_dir, **arrays):
    os.makedirs(out_dir, exist_ok=True)
    for name, a in arrays.items():
        np.ascontiguousarray(a).astype(a.dtype.newbyteorder("<")).tofile(os.path.join(out_dir, name + ".bin"))


def read(out_dir, name, dtype):
    return np.fromfile(os.path.join(out_dir, name + ".bin"), dtype=np.dtype(dtype).newbyteorder("<"))
