#!/usr/bin/env python3
"""Paired perfbench legs: a base checkout against a head checkout.

For every workload and seed it runs one leg per checkout
(`python3 <checkout>/perfbench/run.py ...`), alternating which side goes
first from pair to pair, and reads only the JSON line each run prints last.
Then, per workload and metric, it prints each side's median and quartiles,
the head/base ratio of the medians, and in how many pairs the head was
better (direction from the head's BENCHMARK.json; metrics it does not name
count no wins).

Usage:
  python3 dev/perfpairs.py --base <parent checkout> --head <this checkout> \\
      --workloads orc_versions,stream_waves --seeds 1 2 3 4 5 6 7 8 9 10 \\
      [--trace 0] [--out pairs.jsonl]

Every leg runs for the run_seconds of the head's BENCHMARK.json, as
perfbench/spread.py does. It refuses to run when the base's BENCHMARK.json
names another run length, or when the two checkout paths differ in length:
the engine's traffic metric counts file-path bytes, so a longer path reads
as more traffic.
Raw legs are appended to --out (one JSON object a line; a pair is one seed
of one invocation), and --report-only prints the summary of an existing
--out file without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def quartiles(xs):
    """(q1, median, q3) of a non-empty list; q1 = q3 = median for one value."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def benchmark(checkout):
    """The checkout's BENCHMARK.json."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        return json.load(fh)


def directions(spec):
    """metric name -> "higher" / "lower", from a BENCHMARK.json."""
    return {m["name"]: m["better"]
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def run_leg(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its last-line JSON, or a failure record."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = {"correct": False, "error": p.stderr[-2000:], "metrics": {}}
    out["rc"] = p.returncode
    return out


def summarize(legs, better):
    """Print, per workload and metric, both sides' spread and the head's wins."""
    by_pair = {}
    for leg in legs:
        key = (leg["workload"], leg["trace"], leg["series"], leg["seed"])
        by_pair.setdefault(key, {})[leg["side"]] = leg
    for workload, trace in sorted({k[:2] for k in by_pair}):
        pairs = [p for k, p in sorted(by_pair.items())
                 if k[:2] == (workload, trace) and {"base", "head"} <= p.keys()]
        bad = [(p["base"]["seed"], side) for p in pairs for side in ("base", "head")
               if not p[side]["result"].get("correct") or p[side]["result"].get("failed")]
        print(f"\n{workload} (trace {trace}): {len(pairs)} pairs"
              + (f"; INCORRECT or failed legs: {bad}" if bad else "; every leg correct"))
        names = sorted({m for p in pairs for side in p.values()
                        for m in side["result"].get("metrics", {})})
        print(f"  {'metric':34} {'base q1/med/q3':>26} {'head q1/med/q3':>26} "
              f"{'head/base':>9} {'wins':>6}")
        for m in names:
            vals = [(p["base"]["result"]["metrics"].get(m, {}).get("value"),
                     p["head"]["result"]["metrics"].get(m, {}).get("value")) for p in pairs]
            vals = [(b, h) for b, h in vals
                    if isinstance(b, (int, float)) and isinstance(h, (int, float))]
            if not vals:
                continue
            bq = quartiles([b for b, _ in vals])
            hq = quartiles([h for _, h in vals])
            ratio = hq[1] / bq[1] if bq[1] else float("nan")
            d = better.get(m)
            wins = sum(1 for b, h in vals
                       if (d == "higher" and h > b) or (d == "lower" and h < b))
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {m:34} {fmt(bq):>26} {fmt(hq):>26} {ratio:>9.3f} "
                  f"{(f'{wins}/{len(vals)}' if d else '-'):>6}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="parent checkout")
    ap.add_argument("--head", required=True, help="checkout under test")
    ap.add_argument("--workloads", default="orc_versions")
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="perfpairs.jsonl")
    ap.add_argument("--report-only", action="store_true")
    a = ap.parse_args()

    base, head = os.path.realpath(a.base), os.path.realpath(a.head)
    spec = benchmark(head)
    if not a.report_only:
        seconds = spec["run_seconds"]
        base_seconds = benchmark(base).get("run_seconds")
        if base_seconds != seconds:
            sys.exit(f"run_seconds differs: base {base_seconds}, head {seconds}; "
                     "pairs of different run lengths do not compare")
        if len(base) != len(head):
            sys.exit(f"checkout paths differ in length ({len(base)} vs {len(head)} "
                     f"bytes): {base} vs {head}; traffic_pct counts path bytes, "
                     "so put both checkouts at paths of equal length")
        if base == head:
            sys.exit("--base and --head are the same checkout")
        series = time.strftime("%Y%m%dT%H%M%S")
        for i, seed in enumerate(a.seeds):
            for w in a.workloads.split(","):
                order = [("base", base), ("head", head)]
                if i % 2:
                    order.reverse()
                for side, checkout in order:
                    r = run_leg(checkout, w, seed, seconds, a.trace)
                    leg = {"workload": w, "seed": seed, "side": side, "series": series,
                           "first": order[0][0], "trace": a.trace, "result": r}
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps(leg) + "\n")
                    ing = r.get("metrics", {}).get("ingest_mbps", {}).get("value")
                    print(f"{w} seed {seed} {side}: correct={r.get('correct')} "
                          f"ingest_mbps={ing}", flush=True)
    with open(a.out) as fh:
        legs = [json.loads(l) for l in fh if l.strip()]
    summarize(legs, directions(spec))


if __name__ == "__main__":
    main()
