#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the harness
(``graftbench/build.sbt``, which compiles graft itself); later runs reuse
the build until a source file changes. Each run clears
``.bench_build/work`` and generates its inputs there from ``--seed``; the
last run's files stay for inspection.

Stdout: one line per metric (name, value, unit, n), a health record, and
as its LAST line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json; ``--trace 1`` runs the workload twice, untraced and then
with every listener registered, and reports the per-layer metrics plus
the tracing overhead per end-to-end metric. See graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "graftbench")
sys.path.insert(0, BENCH_DIR)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

CORES = 4
# a fixed, pre-touched heap: the resident set then moves with native
# memory and the code cache, not with when the collector chose to grow
# the heap; heap use is measured on its own (peak_heap_mb)
HEAP = "1536m"
# an untraced run times set-up in this many JVMs before the measured
# one; setup_s is the median over all of them
SETUP_JVMS = 2
RUN_LIMIT_S = 170  # for all the JVMs of one run together, build excluded
WORKLOADS = ("ksql_pull", "curation_batch", "bar_cascade", "store_loop")
# the samples of one operation, per workload: what op_p50_ms is the median of
OPERATION = {
    "ksql_pull": "query_ms",
    "curation_batch": "query_ms",
    "bar_cascade": "bar_delay_ms",
    "store_loop": "serve_ms",
}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = ("setup_s", "cold_s", "op_p50_ms", "peak_rss_mb", "peak_heap_mb")
# the per-layer metrics of BENCHMARK.json, in its order: those that
# ksql_pull or store_loop produce. The bm25 stage is stateless and has no
# watermark or sink rows, so its state, late-row and output-row figures
# are always 0 and left out. A traced run prints every layer value it
# measured on its own line, the cascade stages of bar_cascade included.
LAYER_METRICS = [
    ("queries.build_ms", "ms"), ("queries.build_jobs", "count"),
    ("plans.analysis_ms", "ms"), ("plans.optimization_ms", "ms"), ("plans.planning_ms", "ms"),
    ("operators.jobs", "count"), ("operators.stages", "count"), ("operators.tasks", "count"),
    ("operators.tasks_per_stage", "count"), ("operators.task_run_ms", "ms"),
    ("operators.task_cpu_ms", "ms"), ("operators.task_gc_ms", "ms"),
    ("operators.driver_gap_ms", "ms"), ("operators.shuffle_read_bytes", "bytes"),
    ("operators.shuffle_write_bytes", "bytes"), ("operators.spill_bytes", "bytes"),
    ("functions.codegen_units", "count"), ("functions.codegen_compile_ms", "ms"),
    ("functions.codegen_source_bytes", "bytes"),
    ("jvm.jit_ms", "ms"), ("jvm.gc_ms", "ms"), ("jvm.code_cache_peak_mb", "MB"),
    ("sources.load_ms", "ms"), ("sources.input_bytes", "bytes"),
    ("sources.store_files", "count"), ("sources.store_bytes", "bytes"),
    ("streaming.bm25.trigger_p50_ms", "ms"), ("streaming.bm25.trigger_p90_ms", "ms"),
    ("streaming.bm25.add_batch_ms", "ms"), ("streaming.bm25.planning_ms", "ms"),
    ("streaming.bm25.offsets_ms", "ms"), ("streaming.bm25.commit_ms", "ms"),
    ("streaming.bm25.input_rows", "count"), ("streaming.bm25.backlog_files", "count"),
    ("streaming.bm25.ingested_rows", "count"), ("streaming.bm25.compactions", "count"),
    ("streaming.bm25.load_ms", "ms"),
] + [(f"trace_overhead.{m}", "%") for m in END_TO_END]

# workload sizes. store_loop: the documents table's 5,000 rows at sf 0.1;
# a backlog of 26 slices, so one compaction (every 25 batches) fires in
# the catch-up; 32 queries per serve call
TABLE_SF = 0.01
CASCADE = {"backlog": 10, "live_period_ms": 6000, "grace_s": 5}
STORE = {"docs": 5000, "slices": 60, "backlog": 26, "serves": 4, "queries": 32}


# --------------------------------------------------------------------------
# build

def _source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src"),
             os.path.join(ROOT, "project"), os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build the harness if its sources changed; return its classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("graftbench: no graft sources next to graftbench/ (run from a graft checkout)")
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp = _source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    print("[graftbench] building the harness (sbt compile)", file=sys.stderr, flush=True)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=out, stdin=subprocess.DEVNULL,
            text=True, timeout=840)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.exit(f"graftbench: build failed, see {os.path.join(BUILD_DIR, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# --------------------------------------------------------------------------
# inputs

def prepare(workload, seed, seconds, work):
    """Write the seeded inputs into ``work``; return the JVM's parameters."""
    if workload in ("ksql_pull", "curation_batch"):
        gen.write_tables(seed, TABLE_SF, os.path.join(work, "tables"))
        return {}
    if workload == "bar_cascade":
        live = max(int(seconds * 1000 / CASCADE["live_period_ms"]), 1)
        backlog = CASCADE["backlog"]
        ticks, _ = gen.write_tick_slices(seed, backlog + live, os.path.join(work, "ticks"),
                                         CASCADE["grace_s"])
        sl = ticks.column("slice").to_numpy()
        return {"backlog": backlog, "live": live, "period_ms": CASCADE["live_period_ms"],
                "origin_s": gen.TICK_ORIGIN_S, "grace_s": CASCADE["grace_s"],
                "backlog_ticks": int((sl < backlog).sum()), "total_ticks": ticks.num_rows}
    if workload == "store_loop":
        slices = gen.write_doc_slices(seed, STORE["docs"], STORE["slices"], os.path.join(work, "docs"))
        gen.write_queries(seed, STORE["queries"], os.path.join(work, "queries.parquet"))
        return {"backlog": STORE["backlog"], "serves": STORE["serves"],
                "backlog_docs": sum(t.num_rows for t in slices[:STORE["backlog"]])}
    raise SystemExit(f"graftbench: unknown workload {workload}")


# --------------------------------------------------------------------------
# one JVM

def run_jvm(cp, workload, seed, seconds, trace, work, params, deadline, tag="result"):
    """One harness JVM; returns its result. A JVM tagged ``setup-*`` stops
    after the set-up, leaving the inputs as it found them."""
    setup_only = tag.startswith("setup-")
    out = os.path.join(work, f"{tag}.json")
    cmd = ["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--setup-only", "1" if setup_only else "0",
        "--work", work, "--out", out, "--cores", str(CORES)]
    for k, v in params.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, f"{tag}.log")
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("graftbench: the run exceeded its time limit")
    if not os.path.isfile(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"graftbench: the harness exited with {proc.returncode} and no result")
    with open(out) as f:
        return json.load(f)


def one_run(cp, workload, seed, seconds, trace, work, deadline, setup_jvms):
    os.makedirs(work)
    params = prepare(workload, seed, seconds, work)
    setups = [
        run_jvm(cp, workload, seed, seconds, False, work, params, deadline, f"setup-{i}")
        for i in range(setup_jvms)]
    res = run_jvm(cp, workload, seed, seconds, trace, work, params, deadline)
    failures = list(res["failures"]) + [f for r in setups for f in r["failures"]]
    attempted = res["attempted"] + len(setups)
    res["samples"]["setup_s"] = [x for r in setups for x in r["samples"].get("setup_s", [])] + \
        res["samples"].get("setup_s", [])
    if workload in ("ksql_pull", "curation_batch"):
        n, bad = checks.batch_results(work)
        attempted += n
        failures += bad
    elif workload == "bar_cascade":
        n, bad = checks.cascade(work, res, seed, params)
        attempted += n
        failures += bad
    res["failures"] = failures
    res["attempted"] = attempted
    return res


# --------------------------------------------------------------------------
# metrics

def end_to_end(workload, res):
    """{name: (value, unit)} for the end-to-end metrics of BENCHMARK.json."""
    sam, sc = res["samples"], res["scalars"]
    return {
        "setup_s": (stats.median(sam["setup_s"]), "s"),
        "cold_s": (sc["cold_s"], "s"),
        "op_p50_ms": (stats.median(sam[OPERATION[workload]]), "ms"),
        "peak_rss_mb": (sc["peak_rss_mb"], "MB"),
        "peak_heap_mb": (sc["peak_heap_mb"], "MB"),
    }


def named(workload, res):
    """Every user-facing metric that applies to this workload, by its own
    name: [(name, value, unit, n)]."""
    sam, sc = res["samples"], res["scalars"]
    out = [("setup_s", stats.median(sam["setup_s"]), "s", len(sam["setup_s"]))]

    def dist(stem, xs):
        for q, v in stats.summary(xs):
            out.append((f"{stem}_p{int(q * 100)}_ms", v, "ms", len(xs)))
    if workload in ("ksql_pull", "curation_batch"):
        out.append(("cold_pass_s", sc["cold_s"], "s", int(sc.get("queries", 0))))
        dist("warmup_query", sam.get("warmup_query_ms", []))
        dist("query", sam.get("query_ms", []))
    elif workload == "bar_cascade":
        out.append(("ticks_per_s", sc["ticks_backlog"] / sc["cold_s"], "1/s", 1))
        dist("bar_delay", sam.get("bar_delay_ms", []))
    else:
        out.append(("docs_per_s", sc["docs_backlog"] / sc["cold_s"], "1/s", 1))
        dist("fresh", sam.get("fresh_ms", []))
        dist("warmup_serve", sam.get("warmup_serve_ms", []))
        dist("serve", sam.get("serve_ms", []))
    out.append(("peak_rss_mb", sc["peak_rss_mb"], "MB", 1))
    out.append(("peak_heap_mb", sc["peak_heap_mb"], "MB", 1))
    n = max(res["attempted"], 1)
    out.append(("failed_share", len(res["failures"]) / n, "ratio", n))
    return out


def health(workload, seed, res, before, after):
    sc, info = res["scalars"], res["info"]
    steal = stats.steal_share(before["stat"], after["stat"])
    return {
        "workload": workload, "seed": seed, "cpus": os.cpu_count(),
        "cpus_usable": len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else None,
        "harness_cores": CORES,
        "loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
        "cpu_steal_share": steal, "jit_s": sc.get("jit_s"), "gc_s": sc.get("gc_s"),
        "code_cache_peak_mb": sc.get("code_cache_peak_mb"), "driver_heap_mb": sc.get("heap_max_mb"),
        "jvm": info.get("jvm"), "spark": info.get("spark"),
    }


def proc_snapshot():
    snap = {"loadavg": None, "stat": None}
    try:
        with open("/proc/loadavg") as f:
            snap["loadavg"] = [float(x) for x in f.read().split()[:3]]
        with open("/proc/stat") as f:
            snap["stat"] = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        pass
    return snap


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    cp = classpath()
    deadline = time.monotonic() + RUN_LIMIT_S
    before = proc_snapshot()
    work = os.path.join(ROOT, ".bench_build", "work")
    shutil.rmtree(work, ignore_errors=True)
    # a traced run reports no end-to-end metric, only the overheads, which
    # compare single JVMs: it starts no set-up-only JVM
    res = one_run(cp, args.workload, args.seed, args.seconds, False,
                  os.path.join(work, "untraced"), deadline, 0 if args.trace else SETUP_JVMS)
    traced = None
    if args.trace:
        traced = one_run(cp, args.workload, args.seed, args.seconds, True,
                         os.path.join(work, "traced"), deadline, 0)
    after = proc_snapshot()

    runs = [res] + ([traced] if traced else [])
    failures = [f for r in runs for f in r["failures"]]
    attempted = sum(r["attempted"] for r in runs)
    for name, value, unit, n in named(args.workload, res):
        print(f"{args.workload} {name} {value:.6g} {unit} n={n}")
    for f in failures:
        print(f"{args.workload} FINDING {f}")
    print("health " + json.dumps(health(args.workload, args.seed, res, before, after)))

    e2e = end_to_end(args.workload, res)
    if traced is None:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    else:
        got = measured_layers(traced)
        for name, value in got.items():
            print(f"{args.workload} layer {name} {value:.6g}")
        metrics = {name: {"value": float(got.get(name, 0.0)), "unit": unit}
                   for name, unit in LAYER_METRICS if not name.startswith("trace_overhead.")}
        t_e2e = end_to_end(args.workload, traced)
        for k, (v, _) in e2e.items():
            tv = t_e2e[k][0]
            metrics[f"trace_overhead.{k}"] = {
                "value": (tv - v) / v * 100.0 if v else 0.0, "unit": "%"}
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0


def measured_layers(traced):
    """Every per-layer value the traced JVM measured, by name; a layer
    that does not apply to the workload is absent (and reads 0)."""
    sc = traced["scalars"]
    got = dict(traced["layers"])
    got["jvm.code_cache_peak_mb"] = sc.get("code_cache_peak_mb", 0.0)
    got["sources.load_ms"] = sc.get("sources_load_ms", 0.0)
    return got


if __name__ == "__main__":
    sys.exit(main())
