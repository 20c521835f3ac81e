"""Repeated-run evidence for the benchmark.

    python3 perfbench/steadiness.py spread <workload> <seed> [<seed> ...]
        Runs the benchmark once per seed (untraced) and prints, per
        end-to-end metric, the median, the quartiles and the quartile
        spread as a share of the median, next to the metric's bound.

    python3 perfbench/steadiness.py shape <workload> <seed_a> <seed_b>
        Runs one traced run per seed and compares, operation by
        operation, the Spark job count and the executed-plan exchange
        count: a seed must change the data, not the workload shape.

Both print one JSON object; STEADINESS.md records the results.
"""

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(workload, seed, trace, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    line = json.loads(out.stdout.strip().splitlines()[-1])
    if out.returncode != 0 or not line["correct"]:
        raise SystemExit("run failed: %s seed %d: %s" % (workload, seed, out.stderr[-2000:]))
    return line


def spread(workload, seeds, conf):
    runs = [bench(workload, s, 0, conf["run_seconds"])["metrics"] for s in seeds]
    report = {}
    for m in conf["end_to_end"]:
        vals = [r[m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        report[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "bound": m["bound"],
                             "values": vals}
    return {"workload": workload, "seeds": seeds, "metrics": report}


def shape(workload, seeds, conf):
    per_seed = []
    for s in seeds:
        bench(workload, s, 1, conf["run_seconds"])
        path = os.path.join(ROOT, ".bench_build", "out",
                            "%s-seed%d-trace1" % (workload, s), "layers.json")
        with open(path) as f:
            ops = json.load(f)["ops"]
        per_seed.append([(o["name"], o["spark.jobs"], o["plans.exchanges"]) for o in ops])
    same = per_seed[0] == per_seed[1]
    return {"workload": workload, "seeds": seeds, "same_shape": same,
            "ops": [{"name": a[0], "jobs": [a[1], b[1]], "exchanges": [a[2], b[2]]}
                    for a, b in zip(*per_seed)]}


if __name__ == "__main__":
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        conf = json.load(f)
    mode, workload, seeds = sys.argv[1], sys.argv[2], [int(s) for s in sys.argv[3:]]
    print(json.dumps({"spread": spread, "shape": shape}[mode](workload, seeds, conf), indent=1))
