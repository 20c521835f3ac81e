"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and harness (first run only), generates the workload's
inputs from the seed, runs the JVM harness for about S seconds of timed
passes, and prints one JSON line: with --trace 0 the end-to-end metrics,
with --trace 1 the per-layer metrics of a traced run. The full record
(provenance, per-op times, counters; spans and layer self times when
tracing) is kept under .bench_build/out/. Exit status is 0 only when
every operation and output check passed.
"""

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

import build
import gen

ROOT = build.ROOT
GEN_REPS = 2
HEAP = "2g"
JVM_TIMEOUT_S = 165
# Spark's 10 MiB default for the read-only workload; the ODS workload's
# threshold is scaled to its input size so the growing target crosses it
# mid-pass and the anti-join runs both as a broadcast and a sort-merge join.
BROADCAST_BYTES = {"ods_incremental": 64 * 1024, "construction_heavy": 10 << 20}
# Timed passes per run, at least; the metrics take their median. The JIT
# compiles generated classes afresh in every pass, and on ODS the mean of
# two passes spread about half as wide across runs as one pass did. Two
# construction passes (about 15 s each) would not fit the time allowed
# for a full benchmark session.
TIMED_PASSES = {"ods_incremental": 2, "construction_heavy": 1}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.monotonic()

    classes, jars, src_digest = build.build()
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(build.BUILD, "work", tag)
    out = os.path.join(build.BUILD, "out", tag)
    inputs = os.path.join(work, "inputs")
    subprocess.run(["rm", "-rf", work, out], check=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)

    # Set-up, part 1: generate the inputs twice; both must be the same bytes.
    gen_s, digests = [], set()
    for _ in range(GEN_REPS):
        t0 = time.perf_counter()
        manifest = gen.generate(a.workload, a.seed, inputs)
        gen_s.append(time.perf_counter() - t0)
        digests.add(manifest["digest"])
    if len(digests) != 1:
        sys.exit("perfbench: the generator is not deterministic for seed %d" % a.seed)

    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           # A fixed, pre-touched heap keeps heap growth and its page faults
           # out of the timed passes.
           + ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
              "-Xss8m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seconds", str(a.seconds),
              "--passes", str(TIMED_PASSES[a.workload]), "--trace", str(a.trace),
              "--inputs", inputs, "--work", work, "--out", out, "--cores", str(cores()),
              "--broadcast-bytes", str(BROADCAST_BYTES[a.workload])])
    budget = JVM_TIMEOUT_S - (time.monotonic() - started)
    code = run_jvm(cmd, os.path.join(out, "jvm.log"), max(10.0, budget))
    result_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write("perfbench: harness exited with %s; log: %s\n"
                         % (code, os.path.join(out, "jvm.log")))
        sys.exit(1)
    with open(result_path) as f:
        res = json.load(f)

    e2e = dict(res["end_to_end"])
    e2e["setup_s"] = statistics.median(gen_s) + e2e.pop("setup_jvm_s")
    res["end_to_end"] = e2e
    res["setup"]["generate_s"] = gen_s
    res["provenance"].update({"seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                              "heap": HEAP, "git_commit": git_commit(),
                              "source_digest": src_digest, "input_digest": digests.pop()})
    with open(result_path, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    # The printed metrics are exactly the ones BENCHMARK.json declares.
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = res["per_layer"] if a.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    line = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
