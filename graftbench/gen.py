"""Seeded input generators for the graft benchmark.

Everything the benchmark feeds the program comes from here, and only
from ``seed``: the same seed writes byte-identical parquet files, a
different seed writes different ones.

* ``write_tables``: the ten batch tables (``region`` .. ``embeddings``)
  with the schemas, value domains and row-count ratios of the TPC-H-ish
  test data the query packs are written against, at scale factor ``sf``.
* ``tick_plan`` / ``write_tick_slices``: ``Rate(broker, symbol, ts, bid)``
  ticks (plus an arrival ``seq``) for a few hundred keys across two
  scheduled sessions with a break, one parquet slice per event-time
  minute, and the market schedule table.
* ``write_doc_slices``: the ``documents`` corpus cut into seeded slices.
* ``reference_bars`` / ``reference_fill``: the plain group-by the bar
  cascade's live and fill sinks are checked against.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["small", "large", "red", "blue", "hot", "old", "green", "shiny"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.145, 0.13, 0.145]
VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()

TS_US = pa.timestamp("us")


def _write(table, path):
    # one row group, no statistics drift: identical input bytes per seed
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _days_us(rng, lo, hi, n):
    """n midnight timestamps (µs since epoch) uniform in [lo, hi)."""
    d0 = (lo - EPOCH).days
    d1 = (hi - EPOCH).days
    return rng.integers(d0, d1, n).astype(np.int64) * 86_400_000_000


def tables(seed, sf):
    """The ten batch tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(int(50_000 * sf), 100), max(int(50_000 * sf), 100)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(_days_us(rng, dt.datetime(1995, 1, 1),
                                         dt.datetime(2001, 8, 2), n_ord), TS_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days_us(rng, dt.datetime(1995, 1, 2),
                                        dt.datetime(2001, 11, 5), n_line), TS_US)})
    t0 = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_evt)), TS_US),
        "user_id": pa.array(rng.integers(0, max(n_evt * 3 // 200, 10), n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0.01, 490.02, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    out["documents"] = documents(seed, n_doc)
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def documents(seed, n):
    """The ``documents`` corpus: vocabulary text, one in ten docs a
    near-duplicate (one word changed) of an earlier doc."""
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(seed, sf, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# Bar cascade inputs

BROKERS = 4
SYMBOLS = 50
TICK_ORIGIN_S = int((dt.datetime(2024, 3, 4, 9, 0) - EPOCH).total_seconds())


def tick_plan(seed, minutes, grace_s=5, ticks_per_key_minute=6):
    """Ticks for ``minutes`` event-time minutes from TICK_ORIGIN_S.

    Each broker has two sessions with a break; ticks are also generated
    outside them (before the open and in the break), so the schedule
    filter has rows to drop. Inside a session each key leaves about one
    minute in twenty without ticks, which the fill stage must synthesize.
    A tick of minute m lands in slice m, except that about one in five
    ticks from the last ``grace_s - 1`` seconds of a minute arrives one
    slice late: disorder that stays inside the watermark grace, so no
    tick is legitimately dropped. ``seq`` is the event-time order.

    Returns (ticks: pyarrow.Table with a ``slice`` column, schedule).
    """
    rng = np.random.default_rng([seed, 3])
    sched = []
    for b in range(BROKERS):
        open1 = 1 + b
        close1 = open1 + int(minutes * 0.4)
        open2 = close1 + 3 + b
        sched.append((f"B{b}", open1, close1))
        sched.append((f"B{b}", open2, minutes + 10))
    cols = {"broker": [], "symbol": [], "ts": [], "bid": []}
    for b in range(BROKERS):
        for s in range(SYMBOLS):
            n = rng.poisson(ticks_per_key_minute, minutes)
            n[rng.random(minutes) < 0.05] = 0
            total = int(n.sum())
            minute = np.repeat(np.arange(minutes, dtype=np.int64), n)
            ts = np.sort(minute * 60_000_000 + rng.integers(0, 60_000_000, total))
            ts = ts + np.arange(total)  # strictly increasing per key
            cols["broker"].append(np.full(total, f"B{b}"))
            cols["symbol"].append(np.full(total, f"S{s:02d}"))
            cols["ts"].append(TICK_ORIGIN_S * 1_000_000 + ts)
            price = 100.0 + rng.uniform(-50, 50)
            cols["bid"].append(np.round(price + np.cumsum(rng.normal(0.0, 0.05, total)), 4))
    broker, symbol, ts, bid = (np.concatenate(cols[k]) for k in ("broker", "symbol", "ts", "bid"))
    rel_s = ts // 1_000_000 - TICK_ORIGIN_S
    minute = rel_s // 60
    late = (rel_s % 60 >= 60 - (grace_s - 1)) & (rng.random(len(ts)) < 0.2)
    slice_ = minute + late.astype(np.int64)
    seq = np.empty(len(ts), np.int64)
    seq[np.lexsort((symbol, broker, ts))] = np.arange(len(ts))
    ticks = pa.table({
        "broker": broker, "symbol": symbol,
        "ts": pa.array(ts, TS_US), "bid": bid,
        "seq": pa.array(seq, pa.int64()),
        "slice": pa.array(slice_, pa.int64())})
    schedule = pa.table({
        "broker": [s[0] for s in sched],
        "open_ts": pa.array([(TICK_ORIGIN_S + s[1] * 60) * 1_000_000 for s in sched], TS_US),
        "close_ts": pa.array([(TICK_ORIGIN_S + s[2] * 60) * 1_000_000 for s in sched], TS_US)})
    return ticks, schedule


def write_tick_slices(seed, minutes, out_dir, grace_s=5):
    """One parquet file per slice under ``out_dir/slices`` (rows of a
    slice in seeded order), plus ``out_dir/schedule.parquet``."""
    ticks, schedule = tick_plan(seed, minutes, grace_s)
    sdir = os.path.join(out_dir, "slices")
    os.makedirs(sdir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    sl = ticks.column("slice").to_numpy()
    body = ticks.drop(["slice"])
    for s in range(int(sl.max()) + 1):
        idx = np.flatnonzero(sl == s)
        _write(body.take(rng.permutation(idx)), os.path.join(sdir, f"slice-{s:05d}.parquet"))
    _write(schedule, os.path.join(out_dir, "schedule.parquet"))
    return ticks, schedule


def in_session(ticks, schedule):
    """Boolean mask: ticks inside their broker's sessions, open <= ts < close."""
    ts = ticks.column("ts").cast(pa.int64()).to_numpy()
    br = ticks.column("broker").to_numpy(zero_copy_only=False)
    keep = np.zeros(len(ts), bool)
    for b, o, c in zip(schedule.column("broker").to_pylist(),
                       schedule.column("open_ts").cast(pa.int64()).to_numpy(),
                       schedule.column("close_ts").cast(pa.int64()).to_numpy()):
        keep |= (br == b) & (ts >= o) & (ts < c)
    return keep


def reference_bars(ticks, schedule, period_s):
    """The live bars a cascade stage of ``period_s`` must emit: a plain
    group-by of the in-session ticks per (broker, symbol, bucket) with
    open/close by event time. {(broker, symbol, bucket_us): (o, h, l, c, cnt)}"""
    keep = in_session(ticks, schedule)
    br = ticks.column("broker").to_numpy(zero_copy_only=False)[keep]
    sy = ticks.column("symbol").to_numpy(zero_copy_only=False)[keep]
    ts = ticks.column("ts").cast(pa.int64()).to_numpy()[keep]
    bid = ticks.column("bid").to_numpy()[keep]
    p_us = period_s * 1_000_000
    bucket = ts // p_us * p_us
    order = np.lexsort((ts, bucket, sy, br))
    out = {}
    for i in order:
        k = (br[i], sy[i], int(bucket[i]))
        v = bid[i]
        if k in out:
            o, h, lo, _, n = out[k]
            out[k] = (o, max(h, v), min(lo, v), v, n + 1)
        else:
            out[k] = (v, v, v, v, 1)
    return out


def reference_fill(bars_1m):
    """Minutes the fill stage must synthesize, per key: every minute
    between two of the key's live 1m bars that has no bar of its own.
    {(broker, symbol): sorted list of bucket_us}"""
    per_key = {}
    for (b, s, bucket) in bars_1m:
        per_key.setdefault((b, s), []).append(bucket)
    out = {}
    for key, buckets in per_key.items():
        have = sorted(buckets)
        present = set(have)
        out[key] = [m for m in range(have[0], have[-1], 60_000_000) if m not in present]
    return out


# --------------------------------------------------------------------------
# Store-loop inputs

def doc_slices(seed, n_docs, n_slices):
    """The corpus in seeded order, cut into ``n_slices`` slices of equal
    size (to within one doc): [pyarrow.Table]."""
    docs = documents(seed, n_docs).select(["doc_id", "text"])
    order = np.random.default_rng([seed, 5]).permutation(n_docs)
    return [docs.take(part) for part in np.array_split(order, n_slices)]


def write_doc_slices(seed, n_docs, n_slices, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    slices = doc_slices(seed, n_docs, n_slices)
    for i, t in enumerate(slices):
        _write(t, os.path.join(out_dir, f"docs-{i:05d}.parquet"))
    return slices


def write_queries(seed, n, path):
    """Serve-time queries: ``qid`` and 1-4 vocabulary words."""
    rng = np.random.default_rng([seed, 6])
    texts = [" ".join(VOCAB[j] for j in rng.choice(len(VOCAB), int(rng.integers(1, 5)), replace=False))
             for _ in range(n)]
    _write(pa.table({"qid": pa.array(np.arange(n), pa.int64()), "qtext": texts}), path)
