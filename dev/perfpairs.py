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

With --claim <metric>@<workload> it also judges the legs as a claimed gain
is judged: the claim holds when the head is better in at least 9 of every
10 pairs (a tie counts for neither side) and the median gain exceeds the
base's quartile spread (q3 - q1). Every other end-to-end metric of
BENCHMARK.json, on every workload in the legs, is then checked against its
bound: the head's median may be worse than the base's by at most `bound`
(a fraction of the base's median). The exit status is 1 when the claim
does not hold or a bound is broken.
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


def complete_pairs(legs):
    """(workload, trace) -> the pairs that have both a base and a head leg."""
    by_pair = {}
    for leg in legs:
        key = (leg["workload"], leg["trace"], leg["series"], leg["seed"])
        by_pair.setdefault(key, {})[leg["side"]] = leg
    out = {}
    for k, p in sorted(by_pair.items()):
        if {"base", "head"} <= p.keys():
            out.setdefault(k[:2], []).append(p)
    return out


def values(pairs, metric):
    """The (base, head) values of `metric` in the pairs where both are numbers."""
    vals = [(p["base"]["result"]["metrics"].get(metric, {}).get("value"),
             p["head"]["result"]["metrics"].get(metric, {}).get("value")) for p in pairs]
    return [(b, h) for b, h in vals
            if isinstance(b, (int, float)) and isinstance(h, (int, float))]


def wins(vals, direction):
    """Pairs in which the head is strictly better; ties count for neither."""
    return sum(1 for b, h in vals
               if (direction == "higher" and h > b) or (direction == "lower" and h < b))


def judge_claim(pairs, metric, direction):
    """(holds, text): at least 9 wins in 10 pairs, and a median gain above
    the base's quartile spread."""
    vals = values(pairs, metric)
    if not vals:
        return False, "no pair has this metric"
    won = wins(vals, direction)
    bq = quartiles([b for b, _ in vals])
    hq = quartiles([h for _, h in vals])
    gain = hq[1] - bq[1] if direction == "higher" else bq[1] - hq[1]
    spread = bq[2] - bq[0]
    enough = won * 10 >= 9 * len(vals)
    holds = enough and gain > spread
    text = (f"wins {won}/{len(vals)} ({'>=' if enough else '<'} 9 in 10); "
            f"median {bq[1]:.4g} -> {hq[1]:.4g}, gain {gain:.4g} "
            f"{'>' if gain > spread else '<='} base q3-q1 {spread:.4g}")
    if len(vals) < 10:
        text += f"; only {len(vals)} pairs, the rule asks for 10"
    return holds, text


def within_bound(pairs, metric, direction, bound):
    """(inside, text): the head's median is worse than the base's by at most
    `bound`, a fraction of the base's median."""
    vals = values(pairs, metric)
    if not vals:
        return True, "no pair has this metric"
    b = statistics.median([b for b, _ in vals])
    h = statistics.median([h for _, h in vals])
    worse = (b - h if direction == "higher" else h - b)
    limit = abs(b) * bound
    inside = worse <= limit
    return inside, (f"median {b:.4g} -> {h:.4g}, worse by {worse:.4g} "
                    f"({'<=' if inside else '>'} bound {bound:g} x base = {limit:.4g})")


def judge(legs, spec, claim):
    """Print the claim's verdict and every other end-to-end bound's; returns
    whether all of them hold."""
    metric, _, workload = claim.partition("@")
    e2e = {m["name"]: m for m in spec.get("end_to_end", [])}
    if metric not in e2e or not workload:
        sys.exit(f"--claim {claim}: want <end-to-end metric>@<workload>, "
                 f"metrics: {', '.join(e2e)}")
    ok = True
    print()
    for (w, trace), pairs in complete_pairs(legs).items():
        for m in e2e.values():
            if (m["name"], w) == (metric, workload):
                holds, text = judge_claim(pairs, metric, m["better"])
                print(f"claim {metric}@{w} (trace {trace}): "
                      f"{'HOLDS' if holds else 'NOT MET'}: {text}")
            else:
                holds, text = within_bound(pairs, m["name"], m["better"], m["bound"])
                print(f"bound {m['name']}@{w} (trace {trace}): "
                      f"{'inside' if holds else 'BROKEN'}: {text}")
            ok = ok and holds
    if workload not in {w for w, _ in complete_pairs(legs)}:
        print(f"claim {claim}: NOT MET: no complete pair of workload {workload}")
        ok = False
    return ok


def summarize(legs, better):
    """Print, per workload and metric, both sides' spread and the head's wins."""
    for (workload, trace), pairs in complete_pairs(legs).items():
        bad = [(p["base"]["seed"], side) for p in pairs for side in ("base", "head")
               if not p[side]["result"].get("correct") or p[side]["result"].get("failed")]
        print(f"\n{workload} (trace {trace}): {len(pairs)} pairs"
              + (f"; INCORRECT or failed legs: {bad}" if bad else "; every leg correct"))
        names = sorted({m for p in pairs for side in p.values()
                        for m in side["result"].get("metrics", {})})
        print(f"  {'metric':34} {'base q1/med/q3':>26} {'head q1/med/q3':>26} "
              f"{'head/base':>9} {'wins':>6}")
        for m in names:
            vals = values(pairs, m)
            if not vals:
                continue
            bq = quartiles([b for b, _ in vals])
            hq = quartiles([h for _, h in vals])
            ratio = hq[1] / bq[1] if bq[1] else float("nan")
            d = better.get(m)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {m:34} {fmt(bq):>26} {fmt(hq):>26} {ratio:>9.3f} "
                  f"{(f'{wins(vals, d)}/{len(vals)}' if d else '-'):>6}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="parent checkout")
    ap.add_argument("--head", required=True, help="checkout under test")
    ap.add_argument("--workloads", default="orc_versions")
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(1, 11)))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="perfpairs.jsonl")
    ap.add_argument("--report-only", action="store_true")
    ap.add_argument("--claim", metavar="METRIC@WORKLOAD",
                    help="judge a claimed gain and every other end-to-end bound")
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
    if a.claim and not judge(legs, spec, a.claim):
        sys.exit(1)


if __name__ == "__main__":
    main()
