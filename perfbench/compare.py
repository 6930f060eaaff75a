#!/usr/bin/env python3
"""Repeat-and-compare tooling for the graft benchmark.

Every mode calls perfbench/run.py, so the figures are the ones the
benchmark itself reports; nothing here reads graft.Bench output or a
BENCH_REF_* reference.

  runs      N runs of one checkout: median, quartiles and spread
            (quartile distance over median) of every metric.
              compare.py runs --workload live_bars --n 10 [--checkout DIR] [--trace 1]

  pair      N alternating parent/change pairs, the first side alternating
            pair by pair. A gain is claimed for a metric only when the change
            wins at least nine tenths of the pairs (ties count for neither)
            and the medians differ by more than the parent's own quartile
            distance. Every other metric must stay within its bound; a
            metric whose parent spread exceeds its bound is reported as
            unresolved unless every change run beats every parent run.
              compare.py pair --parent DIR --change DIR --workload store_loop --n 10

  overhead  N untraced and N traced runs of one checkout: the tracing
            overhead of every end-to-end metric, as traced minus untraced
            median and as a share of the untraced median.
              compare.py overhead --workload pull_queries --n 5

Seeds are 1..N unless --seed0 moves them. Reports go to stdout and, as
JSON, to --out when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def bench_spec(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, trace):
    """One run; returns the harness's full report (both metric sets)."""
    spec = bench_spec(checkout)
    t0 = time.time()
    with tempfile.TemporaryDirectory() as tmp:
        save = os.path.join(tmp, "report.json")
        cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(trace), "--save", save]
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        if not os.path.exists(save):
            raise SystemExit(f"run failed: {' '.join(cmd)} (exit {p.returncode})")
        with open(save) as f:
            report = json.load(f)
    print(f"  {os.path.basename(os.path.abspath(checkout))} {workload} seed={seed} trace={trace} "
          f"correct={report['correct']} failed={report['failed']}/{report['attempted']} "
          f"wall={time.time() - t0:.1f}s op_ms=[{report['notes'].get('op_ms', '')}]",
          file=sys.stderr)
    return report


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0.0, 0.0, 0.0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summary(values):
    q1, med, q3 = quartiles(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(values)}


def collect(reports, key):
    names = reports[0][key].keys()
    return {n: [r[key][n]["value"] for r in reports] for n in names}


def mode_runs(a):
    reports = [run_once(a.checkout, a.workload, a.seed0 + i, a.trace) for i in range(a.n)]
    key = "per_layer" if a.trace else "end_to_end"
    spec = {m["name"]: m for m in bench_spec(a.checkout)[key]}
    out = {}
    print(f"{a.workload}: {a.n} runs, trace={a.trace}")
    for name, vals in collect(reports, key).items():
        s = summary(vals)
        out[name] = dict(s, values=vals)
        bound = spec.get(name, {}).get("bound")
        flag = "" if bound is None else ("  ok" if s["spread"] < bound / 3 else "  WIDE")
        print(f"  {name:40s} median {s['median']:.4f}  q1 {s['q1']:.4f}  q3 {s['q3']:.4f}  "
              f"spread {s['spread']:.3f}{'' if bound is None else f' (bound {bound})'}{flag}")
    print(f"  failed ops: {sum(r['failed'] for r in reports)} of {sum(r['attempted'] for r in reports)}")
    return out


def mode_pair(a):
    spec = bench_spec(a.parent)["end_to_end"]
    par, chg = [], []
    for i in range(a.n):
        seed = a.seed0 + i
        order = [(a.parent, par), (a.change, chg)]
        for checkout, sink in (order if i % 2 == 0 else order[::-1]):
            sink.append(run_once(checkout, a.workload, seed, 0))
    p_vals, c_vals = collect(par, "end_to_end"), collect(chg, "end_to_end")
    out = {}
    print(f"{a.workload}: {a.n} parent/change pairs")
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        pv, cv = p_vals[name], c_vals[name]
        better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
        wins = sum(better(c, p) for c, p in zip(cv, pv))
        ps, cs = summary(pv), summary(cv)
        diff = cs["median"] - ps["median"]
        worse_share = (diff if lower else -diff) / ps["median"] if ps["median"] else 0.0
        gain = wins >= 0.9 * a.n and abs(diff) > ps["q3"] - ps["q1"] and not worse_share > 0
        if gain:
            verdict = "gain"
        elif ps["spread"] > m["bound"] and not all(better(c, p) for c in cv for p in pv):
            verdict = "unresolved"
        elif worse_share > m["bound"]:
            verdict = "REGRESSION"
        else:
            verdict = "no regression"
        out[name] = {"parent": ps, "change": cs, "wins": wins, "worse_share": worse_share,
                     "verdict": verdict}
        print(f"  {name:16s} parent {ps['median']:.4f} [{ps['q1']:.4f}, {ps['q3']:.4f}]  "
              f"change {cs['median']:.4f} [{cs['q1']:.4f}, {cs['q3']:.4f}]  "
              f"wins {wins}/{a.n}  worse by {worse_share:+.3f} (bound {m['bound']})  {verdict}")
    for side, rs in (("parent", par), ("change", chg)):
        print(f"  {side} failed ops: {sum(r['failed'] for r in rs)} of {sum(r['attempted'] for r in rs)}")
    return out


def mode_overhead(a):
    plain = [run_once(a.checkout, a.workload, a.seed0 + i, 0) for i in range(a.n)]
    traced = [run_once(a.checkout, a.workload, a.seed0 + i, 1) for i in range(a.n)]
    p_vals, t_vals = collect(plain, "end_to_end"), collect(traced, "end_to_end")
    out = {}
    print(f"{a.workload}: tracing overhead over {a.n} + {a.n} runs")
    for name, pv in p_vals.items():
        pm, tm = statistics.median(pv), statistics.median(t_vals[name])
        share = (tm - pm) / pm if pm else 0.0
        out[name] = {"untraced": pm, "traced": tm, "overhead": tm - pm, "share": share}
        print(f"  {name:16s} untraced {pm:.4f}  traced {tm:.4f}  overhead {tm - pm:+.4f} ({share:+.3f})")
    return out


def main():
    ap = argparse.ArgumentParser(description="graft benchmark: repeat and compare")
    ap.add_argument("mode", choices=("runs", "pair", "overhead"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--n", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--checkout", default=os.path.dirname(HERE))
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.mode == "pair" and not (a.parent and a.change):
        ap.error("pair needs --parent and --change")
    result = {"runs": mode_runs, "pair": mode_pair, "overhead": mode_overhead}[a.mode](a)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"mode": a.mode, "workload": a.workload, "n": a.n, "result": result}, f, indent=1)


if __name__ == "__main__":
    main()
