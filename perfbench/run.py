"""CAWD benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from the checkout's sources (first run only), generates the
workload's inputs from the seed (cached, untimed), runs the Scala harness in
one JVM on local[nproc], and prints a summary followed, as the last line, by
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones; the traced run also writes its spans and listener counters to
<build dir>/trace/. Everything it writes stays under the build directory
(CARGO_TARGET_DIR if set, else .bench_build) of the checkout.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# A run is stopped after this many seconds plus --seconds, counted from its
# start: set-up, the operation that overruns the window and the checks fit
# in it. A run that has to compile first gets FIRST_BUILD_LIMIT_S instead.
RUN_OVERHEAD_S = 150
FIRST_BUILD_LIMIT_S = 880
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def main():
    started = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = build.ROOT
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    fresh = not os.path.isdir(os.path.join(build_dir, "classes"))
    classes, source_digest = build.build(build_dir)
    deadline = started + (FIRST_BUILD_LIMIT_S if fresh else RUN_OVERHEAD_S + a.seconds)

    inputs, manifest = gen.cached(a.workload, a.seed, os.path.join(build_dir, "inputs"))

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(build_dir, "tmp", str(os.getpid()))
    results = os.path.join(build_dir, "results")
    for d in (work, tmp, results):
        os.makedirs(d, exist_ok=True)
    raw_path = os.path.join(results, f"{tag}.raw.json")
    log_path = os.path.join(results, f"{tag}.log")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    jars = os.path.join(build.spark_jars(), "*")
    # the whole heap is touched at start, so the resident size does not
    # follow how far the run's allocations have spread over it
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m"] +
           [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false",
            "-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"), jars]),
            "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
            "--inputs", inputs,
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", raw_path])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    try:
        with open(log_path, "w") as log:
            rc = run_child(cmd, log, env, tmp, max(10.0, deadline - time.monotonic()))
        if rc != 0:
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            raise SystemExit(f"harness failed with exit code {rc}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    with open(raw_path) as fh:
        raw = json.load(fh)
    report(a, raw, manifest, source_digest, build_dir, tag)


def run_child(cmd, log, env, cwd, timeout):
    """Run the harness JVM; on timeout or on SIGTERM/SIGINT to this process,
    kill it and wait for it to end before leaving."""
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=cwd)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return -signal.SIGKILL


def report(a, raw, manifest, source_digest, build_dir, tag):
    ops = raw["ops"]
    bad_ops = [o for o in ops if not o.get("ok")]
    bad_checks = [c for c in raw["checks"] if not c["ok"]]
    attempted = len(ops) + len(raw["checks"])
    failed = len(bad_ops) + len(bad_checks)
    for o in bad_ops[:5]:
        print(f"FAILED op {o['id']}: {o.get('error') or o.get('failed_checks')}")
    for c in bad_checks[:5]:
        print(f"FAILED check {c['name']}: {c['detail']}")
    env = dict(raw["env"], nproc=cores(), seed=a.seed, source_sha1=source_digest,
               corpus_bytes=manifest["bytes"],
               shared_byte_share=manifest["shared_byte_share"])
    print("env " + json.dumps(env, sort_keys=True))
    secs = [o["seconds"] for o in metrics.timed_ops(raw, traced=False)]
    tl = metrics.tail(secs)
    print(f"workload {a.workload}: {len(ops)} ops in {raw['window_s']:.1f} s; " +
          (f"tail = p{tl[1]:.1f} of {len(secs)} untraced samples" if tl else
           "too few samples for a tail"))
    print(f"error_rate {failed / attempted:.6f} ratio ({failed} of {attempted})")
    if a.workload == "pack_mix":
        done = len(manifest["info"]["queries"]) * len([o for o in ops if o.get("ok")])
        print(f"mix_qpm {done / (raw['window_s'] / 60):.6g} queries/min")
    if a.trace:
        values, units = metrics.per_layer(raw), metrics.PER_LAYER
        trace_dir = os.path.join(build_dir, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        selfs = metrics.self_times(raw["spans"])
        spans = [dict(s, self_ms=selfs[s["id"]]) for s in raw["spans"]]
        with open(os.path.join(trace_dir, f"{tag}.json"), "w") as fh:
            json.dump({"env": env, "per_layer": values, "spans": spans}, fh)
        print(f"tracing overhead {values['trace.overhead_pct']:+.1f} % "
              f"(traced vs untraced operations of this run)")
    else:
        values, units = metrics.end_to_end(raw), metrics.END_TO_END
    for k, v in values.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
