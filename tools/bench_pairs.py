#!/usr/bin/env python3
"""Paired benchmark runs: parent checkout against change checkout.

    python3 tools/bench_pairs.py --parent <dir> --change <dir> \\
        --workload store_loop --pairs 10 --seed 1001 --seconds 10 [--trace 0|1] \\
        [--out runs.jsonl]
    python3 tools/bench_pairs.py --summarize runs.jsonl

Runs `python3 graftbench/run.py` in both checkouts, one pair per seed
(`--seed`, `--seed`+1, ...), both sides on the same seed, alternating
which side runs first. Each run's last stdout line (the run's JSON
result) is appended to `--out` as it finishes, so a long session can be
re-summarized without re-running.

For every workload and metric the summary prints each side's median and
quartiles, how many pairs the change won, and the gain verdict: the
change won at least 9 in 10 of the pairs AND the gap between the medians
is larger than the parent's interquartile range. A change median worse
than the parent's by more than the metric's BENCHMARK.json bound is
flagged; where the parent's interquartile range is itself wider than the
bound, the metric is flagged unresolved unless every change run beats
every parent run. BENCHMARK.json is only read, from the change checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = {}
    for m in spec.get("end_to_end", []):
        metrics[m["name"]] = {"better": m.get("better", "lower"), "bound": m.get("bound")}
    for m in spec.get("per_layer", []):
        metrics.setdefault(m["name"], {"better": m.get("better", "lower"), "bound": None})
    return spec, metrics


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records, metrics):
    by = {}
    for r in records:
        by.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r["result"]
    for workload, seeds in sorted(by.items()):
        pairs = [(s["parent"], s["change"]) for _, s in sorted(seeds.items())
                 if "parent" in s and "change" in s]
        print(f"== {workload}: {len(pairs)} pairs")
        if not pairs:
            continue
        for side, i in (("parent", 0), ("change", 1)):
            failed = sum(p[i].get("failed", 0) for p in pairs)
            attempted = sum(p[i].get("attempted", 0) for p in pairs)
            wrong = sum(1 for p in pairs if not p[i].get("correct", False))
            print(f"   {side}: {failed} failed of {attempted} operations, "
                  f"{wrong} runs not correct")
        names = [n for n in pairs[0][0]["metrics"] if all(
            n in p[0]["metrics"] and n in p[1]["metrics"] for p in pairs)]
        for name in names:
            better = metrics.get(name, {}).get("better", "lower")
            bound = metrics.get(name, {}).get("bound")
            par = [p[0]["metrics"][name]["value"] for p in pairs]
            chg = [p[1]["metrics"][name]["value"] for p in pairs]
            sign = 1.0 if better == "lower" else -1.0
            wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) < 0)
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            iqr = pq3 - pq1
            gain = wins >= 0.9 * len(pairs) and sign * (pmed - cmed) > iqr
            rel = (cmed - pmed) / pmed * 100.0 if pmed else 0.0
            line = (f"   {name:36s} parent {pmed:10.4g} [{pq1:.4g}, {pq3:.4g}]  "
                    f"change {cmed:10.4g} [{cq1:.4g}, {cq3:.4g}]  {rel:+6.1f}%  "
                    f"change won {wins}/{len(pairs)}  gain: {'yes' if gain else 'no'}")
            if bound is not None and pmed:
                if sign * (cmed - pmed) / abs(pmed) > bound:
                    line += f"  WORSE THAN BOUND {bound:.0%}"
                elif iqr / abs(pmed) > bound and not all(
                        sign * (b - a) < 0 for a in par for b in chg):
                    line += f"  UNRESOLVED: parent IQR wider than the {bound:.0%} bound"
            print(line)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", action="append", default=[],
                    help="repeatable; default: every workload of BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1001, help="seed of the first pair")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append each run's result to this JSONL file")
    ap.add_argument("--summarize", help="summarize a JSONL file of earlier runs; run nothing")
    args = ap.parse_args(argv)

    spec_root = args.change or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec, metrics = load_spec(spec_root)
    if args.summarize:
        with open(args.summarize) as f:
            summarize([json.loads(ln) for ln in f if ln.strip()], metrics)
        return 0
    if not (args.parent and args.change):
        ap.error("--parent and --change are required unless --summarize is given")
    seconds = args.seconds if args.seconds is not None else spec.get("run_seconds", 10)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    records = []
    for workload in workloads:
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("parent", args.parent), ("change", args.change)]
            if i % 2:
                order.reverse()
            for side, checkout in order:
                res = run_once(checkout, workload, seed, seconds, args.trace)
                rec = {"workload": workload, "seed": seed, "side": side, "first": order[0][0],
                       "trace": args.trace, "result": res}
                records.append(rec)
                if args.out:
                    with open(args.out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
                print(f"[bench_pairs] {workload} seed {seed} {side} done", file=sys.stderr,
                      flush=True)
    summarize(records, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
