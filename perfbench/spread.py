"""Run-to-run spread of the benchmark: runs each workload once per seed and
prints, per end-to-end metric, the median, the quartiles and the spread
(interquartile range over the median), next to a third of the metric's
bound from BENCHMARK.json; and whether every seed ran the same schedule on
different data. With --trace it then runs the first seed once more
untraced and twice traced, and reports the tracing overhead (traced over
untraced timed wall, same seed) and whether write_amp, space_amp and every
per-layer count repeat exactly.

    python3 perfbench/spread.py --seeds 1-10 [--workloads a,b] [--trace] [--out f.json] [--keep dir]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    t0 = time.time()
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited with {out.returncode}")
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    if not trace:
        result["details"] = lines[0]
    with open(os.path.join(REPO, ".bench_build", "work", workload, "report.json")) as f:
        raw = json.load(f)
    raw["elapsed_s"] = time.time() - t0
    return result, raw


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2 if q2 else None,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads")
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out")
    ap.add_argument("--keep", help="directory to keep each run's raw report in")
    a = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    results = {}
    for w in workloads:
        per_metric, walls, correct, schedules, data = {}, [], True, set(), set()
        for seed in seeds_of(a.seeds):
            res, raw = run(w, seed, seconds, 0)
            if a.keep:
                os.makedirs(a.keep, exist_ok=True)
                with open(os.path.join(a.keep, f"{w}_{seed}.json"), "w") as f:
                    json.dump(raw, f)
            correct &= res["correct"] and res["failed"] == 0
            walls.append(raw["wall_s"])
            details = json.loads(res.pop("details"))
            schedules.add(details["schedule_digest"])
            data.add(details["data_digest"])
            for k, m in res["metrics"].items():
                per_metric.setdefault(k, []).append(m["value"])
            print(f"{w} seed {seed} ({raw['elapsed_s']:.0f} s): " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        entry = {"correct": correct, "metrics": {},
                 "one_schedule_for_all_seeds": len(schedules) == 1,
                 "data_digests_distinct": len(data) == len(seeds_of(a.seeds))}
        print(f"  correct on every seed: {correct}; one schedule: {len(schedules) == 1}; "
              f"distinct data digests: {len(data)}/{len(seeds_of(a.seeds))}", flush=True)
        for k, vals in per_metric.items():
            s = summary(vals)
            s["third_of_bound"] = bounds[k] / 3
            entry["metrics"][k] = s
            flag = "" if k == "setup_s" or s["spread"] <= bounds[k] / 3 else "  <-- too wide"
            print(f"  {k:14s} median {s['median']:.5g}  q1 {s['q1']:.5g}  q3 {s['q3']:.5g}  "
                  f"spread {s['spread']:.4f}  (bound/3 {bounds[k] / 3:.4f}){flag}", flush=True)
        if a.trace:
            seed = seeds_of(a.seeds)[0]
            again, raw0 = run(w, seed, seconds, 0)
            amp_moved = [k for k in ("write_amp", "space_amp")
                         if again["metrics"][k]["value"] != per_metric[k][0]]
            first, raw1 = run(w, seed, seconds, 1)
            second, raw2 = run(w, seed, seconds, 1)
            if a.keep:
                for i, r in ((1, raw1), (2, raw2)):
                    with open(os.path.join(a.keep, f"{w}_{seed}_traced{i}.json"), "w") as f:
                        json.dump(r, f)
            counts = {k for k, m in first["metrics"].items()
                      if m["unit"] in ("count", "B", "B/B", "1")}
            unsteady = amp_moved + sorted(
                k for k in counts if first["metrics"][k]["value"] != second["metrics"][k]["value"])
            entry["tracing_overhead"] = raw1["wall_s"] / raw0["wall_s"] - 1
            entry["counts_repeat_exactly"] = not unsteady
            entry["counts_that_moved"] = unsteady
            print(f"  tracing overhead {entry['tracing_overhead']:+.3f}; counts that moved "
                  f"between two traced runs of seed {seed}: {unsteady or 'none'}", flush=True)
        results[w] = entry
    if a.out:
        with open(a.out, "w") as f:
            json.dump(results, f, indent=1)


if __name__ == "__main__":
    main()
