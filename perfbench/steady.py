#!/usr/bin/env python3
"""Steadiness, comparison and per-layer tables for graft's benchmark.

Run every workload once per seed and summarise each metric (with
`--seeds 1` this runs every workload once, prints every end-to-end metric
with its unit, and exits non-zero if any output check fails):

    python3 perfbench/steady.py run --seeds 1-10 --out a.json [--trace]

For each (workload, metric): median, first and third quartile
(statistics.quantiles(values, n=4)), and the quartile spread as a share of
the median, next to the metric's bound from BENCHMARK.json. With --trace
the runs are traced: the summary holds the per-layer metrics and the
end-to-end numbers of the traced runs.

    python3 perfbench/steady.py compare a.json b.json

Shifts of b's medians against a's, as a share of a's, per end-to-end
metric; with a traced b and an untraced a this is the tracing overhead.

    python3 perfbench/steady.py table a.json

The summary as markdown: end-to-end medians and spreads of an untraced
set, or the per-layer medians (layers x suffixes, one table per workload)
of a traced set.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed} failed (exit {out.returncode})")
    result = json.loads(lines[-1])
    traced = next((json.loads(l)["traced_end_to_end"] for l in lines
                   if l.startswith('{"traced_end_to_end"')), None)
    steal = next((json.loads(l)["host"]["steal_share"] for l in lines
                  if l.startswith('{"host"')), 0.0)
    return result, traced, wall, steal


def summary(values):
    if len(values) < 2:
        values = values * 2
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def cmd_run(args):
    s = spec()
    workloads = [w["name"] for w in s["workloads"]]
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    units = {m["name"]: m["unit"] for m in s["end_to_end"]}
    report = {"trace": args.trace, "seconds": s["run_seconds"], "workloads": {}}
    for w in workloads:
        values, traced, walls, steals = {}, {}, [], []
        for seed in seeds(args.seeds):
            result, t, wall, steal = one_run(w, seed, s["run_seconds"], int(args.trace))
            walls.append(wall)
            steals.append(steal)
            if not result["correct"]:
                raise SystemExit(f"{w} seed {seed}: output check failed")
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            for k, v in (t or {}).items():
                traced.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: wall {wall:.1f} s, steal {steal:.3f}, " + ", ".join(
                f"{k}={v[-1]:.4g}" for k, v in values.items()
                if k in bounds), file=sys.stderr)
        report["workloads"][w] = {
            "metrics": {k: summary(v) | {"values": v} for k, v in values.items()},
            "traced_end_to_end": {k: summary(v) for k, v in traced.items()},
            "run_wall_s": summary(walls), "steal_share": summary(steals)}
        if not args.trace:
            print(f"\n{w}  (run wall median {statistics.median(walls):.1f} s, "
                  f"host steal median {statistics.median(steals):.3f})")
            for k, m in report["workloads"][w]["metrics"].items():
                flag = "" if m["spread"] < bounds[k] / 3 else "  <-- spread >= bound/3"
                print(f"  {k:12s} {units[k]:6s} median {m['median']:.4g}  q1 {m['q1']:.4g}  "
                      f"q3 {m['q3']:.4g}  spread {m['spread']:.3f}  "
                      f"bound {bounds[k]}{flag}")
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)


def cmd_compare(args):
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec()["end_to_end"]}
    with open(args.base) as fh:
        a = json.load(fh)
    with open(args.other) as fh:
        b = json.load(fh)
    for w, wa in a["workloads"].items():
        wb = b["workloads"].get(w)
        if not wb:
            continue
        side = wb["traced_end_to_end"] or wb["metrics"]
        print(w)
        for k, (bound, better) in bounds.items():
            ma, mb = wa["metrics"][k]["median"], side[k]["median"]
            worse = (mb - ma) / ma if better == "lower" else (ma - mb) / ma
            print(f"  {k:12s} {ma:.4g} -> {mb:.4g}  worse by {worse:+.3f}  "
                  f"bound {bound}{'  <-- over bound' if worse > bound else ''}")


def cmd_table(args):
    with open(args.summary) as fh:
        rep = json.load(fh)
    s = spec()
    if not rep["trace"]:
        names = [m["name"] for m in s["end_to_end"]]
        print("| workload | " + " | ".join(
            f"{m['name']} ({m['unit']})" for m in s["end_to_end"]) + " |")
        print("|---" * (len(names) + 1) + "|")
        for w, wr in rep["workloads"].items():
            ms = wr["metrics"]
            print(f"| {w} | " + " | ".join(
                f"{ms[n]['median']:.4g} ±{ms[n]['spread']:.3f}" for n in names) + " |")
        return
    suffixes = ["jobs", "job_s", "driver_s", "task_s", "gc_s", "shuffle_mb",
                "spill_mb", "result_mb", "failed"]
    for w, wr in rep["workloads"].items():
        ms = wr["metrics"]
        print(f"\n**{w}** (per operation, median of {next(iter(ms.values()))['n']} traced runs)\n")
        print("| layer | " + " | ".join(suffixes) + " |")
        print("|---" * (len(suffixes) + 1) + "|")
        layers = sorted({k.rsplit(".", 1)[0] for k in ms
                         if k.rsplit(".", 1)[1] in suffixes},
                        key=lambda l: [m["name"] for m in s["per_layer"]].index(f"{l}.jobs"))
        for l in layers:
            print(f"| {l} | " + " | ".join(
                f"{ms[f'{l}.{x}']['median']:.3g}" for x in suffixes) + " |")
        extras = [m["name"] for m in s["per_layer"]
                  if m["name"].rsplit(".", 1)[1] not in suffixes]
        print("\n" + ", ".join(f"{e} {ms[e]['median']:.4g}" for e in extras))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", action="store_true")
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("other")
    t = sub.add_parser("table")
    t.add_argument("summary")
    args = ap.parse_args()
    {"run": cmd_run, "compare": cmd_compare, "table": cmd_table}[args.cmd](args)


if __name__ == "__main__":
    main()
