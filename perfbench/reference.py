#!/usr/bin/env python3
"""Makes a bench-trajectory entry: untraced runs of each workload over a
range of seeds, plus one traced run per workload, run one after the other.

    python3 perfbench/reference.py --seeds 601-610 --traced-seed 611 \\
        --label "..." [--claim "..."] [--append perfbench/trajectory.json]

Run from the repository root. Per workload and gated metric it reports
the median, the quartiles (statistics.quantiles, n=4) and the
interquartile range over the median; with the per-kind medians, host
record and run wall times of the set, and the traced run's per-layer
metrics. Without --append the entry is printed.
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


def one_run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1]), time.time() - t0


def spread(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    m = statistics.median(xs)
    return {"median": round(m, 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "iqr_over_median": round((q3 - q1) / m, 4)}


def med(dicts):
    keys = sorted({k for d in dicts for k in d})
    return {k: round(statistics.median(d[k] for d in dicts if k in d), 4) for k in keys}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--traced-seed", type=int, required=True)
    ap.add_argument("--label", required=True)
    ap.add_argument("--claim", default=None)
    ap.add_argument("--append", default=None)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"]]
    commit = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                            capture_output=True, text=True).stdout.strip() or None
    sets, traced = {}, {}
    for w in (x["name"] for x in bench["workloads"]):
        arts, results, walls = [], [], []
        for seed in range(lo, hi + 1):
            art, res, wall = one_run(w, seed, bench["run_seconds"], 0)
            arts.append(art); results.append(res); walls.append(wall)
            print(w, seed, f"{wall:.0f} s", res["correct"],
                  {k: round(v["value"], 4) for k, v in res["metrics"].items()},
                  f"steal {art['host.steal_pct']:.1f} %", file=sys.stderr, flush=True)
        sets[w] = {
            "seeds": [lo, hi], "runs": len(results),
            "correct_runs": sum(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {n: spread([r["metrics"][n]["value"] for r in results]) for n in names},
            "first_op_s_median": round(statistics.median(x["first_op_s"] for x in arts), 3),
            "passes_median": statistics.median(x["passes"] for x in arts),
            "kind_median_s": med([x["kind_median_s"] for x in arts]),
            "host_median": med([{k: x[k] for k in ("host.calib_ms", "host.steal_pct",
                                                    "host.other_cpu_pct")} for x in arts]),
            "run_wall_s_median": round(statistics.median(walls), 1),
        }
        if arts[0].get("lake"):
            sets[w]["lake_median"] = med([x["lake"] for x in arts])
        art, res, wall = one_run(w, a.traced_seed, bench["run_seconds"], 1)
        traced[w] = {"seed": a.traced_seed, "correct": res["correct"],
                     "layers": {k: round(v, 4) for k, v in sorted(art["layers"].items())}}
        print(w, "traced", f"{wall:.0f} s", res["correct"], file=sys.stderr, flush=True)
    entry = {"label": a.label, "commit": commit, "claim": a.claim,
             "run_seconds": bench["run_seconds"],
             "bounds": {m["name"]: m["bound"] for m in bench["end_to_end"]},
             "sets": sets, "traced": traced}
    if a.append:
        with open(a.append) as f:
            traj = json.load(f)
        traj.append(entry)
        with open(a.append, "w") as f:
            json.dump(traj, f, indent=1)
            f.write("\n")
    else:
        print(json.dumps(entry, indent=1))


if __name__ == "__main__":
    main()
