"""Output checks of the graft benchmark (untimed). Each returns
(checks attempted, [named findings]); a finding counts as a failed
operation.

* Batch workloads: each query's result (written by the harness as
  parquet) must equal its DuckDB oracle over the same generated tables,
  compared as ``tools/check_oracle.py`` compares (columns by name, rows
  sorted, doubles to 9 places). A query without an oracle (a bench-only
  twin) must give the same digest at one shuffle partition as at the
  run's partition count.
* bar_cascade: every sealed live bar of every timeframe must equal a plain
  group-by of the in-session ticks, and the 1m fill sink must hold exactly
  the minutes without a bar between each key's first and last sealed bar.
"""
import glob
import hashlib
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(round(v, 9))
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, norm(v[k])) for k in sorted(v))
    return v


def canon(cols, rows):
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    return [cols[i] for i in order], sorted(out, key=repr)


def digest(cols, rows):
    """Order-independent content digest of a result."""
    c, r = canon(cols, rows)
    h = hashlib.sha256(repr(c).encode())
    for row in r:
        h.update(repr(row).encode())
    return h.hexdigest()[:16]


def _spark_result(con, path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return None, []
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    return rel.columns, rel.fetchall()


def batch_results(work):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    tables = os.path.join(work, "tables")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables, t)}.parquet'")
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    results = os.path.join(work, "results")
    names = sorted(os.listdir(results)) if os.path.isdir(results) else []
    failures = []
    for name in names:
        scols, srows = _spark_result(con, os.path.join(results, name))
        if name in oracle:
            duck = con.sql(oracle[name])
            dcols, drows = duck.columns, duck.fetchall()
            if scols is None:
                if drows:
                    failures.append(f"{name}: empty result, oracle has {len(drows)} rows")
                continue
            sc, sr = canon(scols, srows)
            dc, dr = canon(dcols, drows)
            if sc != dc:
                failures.append(f"{name}: columns {sc} differ from the oracle's {dc}")
            elif sr != dr:
                bad = sum(1 for a, b in zip(sr, dr) if a != b) + abs(len(sr) - len(dr))
                failures.append(f"{name}: {bad} of {max(len(sr), len(dr))} rows differ from the oracle")
        else:
            pcols, prows = _spark_result(con, os.path.join(work, "results_p1", name))
            if (scols is None) != (pcols is None) or (
                    scols is not None and digest(scols, srows) != digest(pcols, prows)):
                failures.append(f"{name}: digest unstable across shuffle partitionings (finding)")
    return len(names), failures


# --------------------------------------------------------------------------
# bar cascade

def _read_sink(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files], promote_options="default")


def _us(col):
    return col.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()


def cascade(work, res, seed, params):
    info = res["info"]
    if "live_path.1m" not in info:
        return 0, []  # the run failed before its sinks existed; already a finding
    ticks, schedule = gen.tick_plan(seed, params["backlog"] + params["live"], params["grace_s"])
    failures = []
    checked = 0
    sealed_1m = {}
    for label, minutes in (("1m", 1), ("5m", 5), ("15m", 15), ("60m", 60)):
        checked += 1
        period_us = minutes * 60_000_000
        wm_us = int(info[f"watermark_ms.live_{label}"]) * 1000
        ref = {k: v for k, v in gen.reference_bars(ticks, schedule, minutes * 60).items()
               if k[2] + period_us <= wm_us}
        t = _read_sink(info[f"live_path.{label}"])
        got = {}
        if t is not None:
            cols = [t.column(c).to_pylist() for c in ("broker", "symbol")]
            bucket = _us(t.column("bucket_start"))
            vals = [t.column(c).to_numpy() for c in ("open", "high", "low", "close", "cnt")]
            for i in range(t.num_rows):
                got[(cols[0][i], cols[1][i], int(bucket[i]))] = tuple(
                    float(v[i]) for v in vals[:4]) + (int(vals[4][i]),)
        missing = ref.keys() - got.keys()
        extra = got.keys() - ref.keys()
        wrong = [k for k in ref.keys() & got.keys()
                 if any(abs(a - b) > 1e-9 for a, b in zip(ref[k], got[k]))]
        if missing or extra or wrong:
            failures.append(f"bar_cascade live_{label}: {len(missing)} bars missing, "
                            f"{len(extra)} unexpected, {len(wrong)} wrong of {len(ref)}")
        if label == "1m":
            sealed_1m = ref
    checked += 1
    want = gen.reference_fill(sealed_1m)
    t = _read_sink(info["fill_path.1m"])
    got = {}
    if t is not None:
        keys = t.column("key").to_pylist()
        bucket = _us(t.column("bucket"))
        filled = t.column("filled").to_pylist()
        for i in range(t.num_rows):
            if filled[i]:
                b, s = keys[i].split("\x00")
                got.setdefault((b, s), []).append(int(bucket[i]))
    last = {}
    for (b, s, bucket) in sealed_1m:
        last[(b, s)] = max(last.get((b, s), bucket), bucket)
    bad = 0
    for key in set(want) | set(got):
        expect = sorted(want.get(key, []))
        have = sorted(x for x in got.get(key, []) if x < last.get(key, -1))
        if expect != have:
            bad += 1
    if bad:
        failures.append(f"bar_cascade fill_1m: filled minutes differ from the empty minutes for {bad} keys")
    return checked, failures
