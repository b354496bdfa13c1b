#!/usr/bin/env python3
"""Paired A/B of the benchmark between two revisions.

    python3 tools/ab_pairs.py --base c3556fc --change HEAD \
        --workload upsert_timetravel --pairs 10 --seeds 1,2,3,4,5,6,7,8,9,10

Checks both revisions out into two `git worktree` directories (or uses two
existing checkouts given with --base-dir/--change-dir), builds the benchmark
once in each, then runs N pairs of

    python3 perfbench/run.py --workload W --seed S --seconds 20 --trace 0

one run in each checkout per pair, alternating which side goes first so a
drift of the host's speed hits both sides alike. For every workload and
end-to-end metric of BENCHMARK.json it prints each side's median and
quartiles, the base's quartile spread (q3 - q1), the median change and how
many pairs the change won. A gain claim holds when the change wins at least
9 of 10 pairs and the medians differ by more than the base's spread.

With --trace both sides run with `--trace 1` and the summary covers the
per_layer metrics of BENCHMARK.json instead, so a claim about a named layer
is shown paired too (wins counted by each metric's `better`).

--spans NAME[,NAME] (with --trace) also reads each traced run's
.bench_build/work/<workload>/report.json and prints, per named span, each
side's median ms (of the per-run medians, and pooled over every call) and
Spark jobs per call, with the pairs whose median the change lowered.

Nothing under perfbench/ is modified: each run writes only the checkout's
own .bench_build/ directory. Worktrees are removed at the end unless --keep.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, cwd=REPO):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def add_worktree(rev, path):
    git("worktree", "add", "--detach", path, git("rev-parse", "--verify", rev + "^{commit}"))
    return path


def metric_directions(checkout, trace):
    """{metric: better} of the end-to-end metrics, or of the per-layer
    ones for traced runs."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"]
                for m in json.load(f)["per_layer" if trace else "end_to_end"]}


def build(checkout):
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout, check=True,
                   stdout=subprocess.DEVNULL)


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run; returns its final JSON line (None when it failed)."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(int(trace))],
                       cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def span_stats(checkout, workload, names):
    """{span: {"ms": [per-call ms], "jobs": [per-call Spark jobs]}} of the
    named spans in the checkout's last run of the workload; a call's jobs
    include those of the spans nested in it."""
    path = os.path.join(checkout, ".bench_build", "work", workload, "report.json")
    try:
        with open(path) as f:
            spans = json.load(f)["spans"]
    except (OSError, ValueError, KeyError):
        return {}
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)

    def jobs(sp):
        return len(sp["jobs"]) + sum(jobs(c) for c in children.get(sp["id"], []))

    out = {}
    for sp in spans:
        if sp["name"] in names:
            got = out.setdefault(sp["name"], {"ms": [], "jobs": []})
            got["ms"].append((sp["t1_ns"] - sp["t0_ns"]) / 1e6)
            got["jobs"].append(jobs(sp))
    return out


def summarize_spans(workload, pairs, names):
    """Per-span lines: median ms and jobs per call of each side, paired
    wins on the per-run median ms."""
    out = [f"== {workload}: spans over {len(pairs)} pairs"]
    out.append(f"{'span':<26}{'base median [q1, q3] ms':<36}{'change median [q1, q3] ms':<36}"
               f"{'pooled ms':>20}{'jobs/call':>14}{'delta':>9}{'wins':>8}")
    for name in names:
        rows = [(p["base"]["spans"][name], p["change"]["spans"][name]) for p in pairs
                if name in p["base"].get("spans", {}) and name in p["change"].get("spans", {})]
        if not rows:
            out.append(f"{name:<26}no calls on both sides")
            continue
        med = [(statistics.median(b["ms"]), statistics.median(c["ms"])) for b, c in rows]
        bq = quartiles([m[0] for m in med])
        cq = quartiles([m[1] for m in med])
        pooled = [statistics.median([x for r in rows for x in r[i]["ms"]]) for i in (0, 1)]
        jobs = [statistics.mean([x for r in rows for x in r[i]["jobs"]]) for i in (0, 1)]
        wins = sum(1 for b, c in med if c < b)
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
        out.append(f"{name:<26}{fmt(bq):<36}{fmt(cq):<36}"
                   f"{pooled[0]:>9.0f} -> {pooled[1]:<6.0f}{jobs[0]:>6.1f} -> {jobs[1]:<4.1f}"
                   f"{delta:>+9.1%}{wins:>5}/{len(rows)}")
    return "\n".join(out)


def quartiles(vals):
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4, method="inclusive")
    return q1, q2, q3


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def summarize(workload, pairs, better):
    """Per-metric lines for one workload's completed pairs."""
    out = [f"== {workload}: {len(pairs)} pairs, seeds "
           f"{','.join(str(p['seed']) for p in pairs)}"]
    width = max([14] + [len(n) + 2 for n in better])
    out.append(f"{'metric':<{width}}{'better':>7}  {'base median [q1, q3]':<36}"
               f"{'change median [q1, q3]':<36}{'base IQR':>10}{'delta':>9}{'wins':>8}")
    for name, direction in better.items():
        rows = [(p["base"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                for p in pairs
                if name in p["base"]["metrics"] and name in p["change"]["metrics"]]
        if not rows:
            continue
        bq = quartiles([r[0] for r in rows])
        cq = quartiles([r[1] for r in rows])
        wins = sum(1 for x, y in rows if (y < x if direction == "lower" else y > x))
        delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
        iqr = bq[2] - bq[0]
        flag = "  median gap > base IQR" if abs(cq[1] - bq[1]) > iqr else ""
        out.append(f"{name:<{width}}{direction:>7}  {fmt(bq):<36}{fmt(cq):<36}"
                   f"{iqr:>10.4g}{delta:>+9.1%}{wins:>5}/{len(rows)}{flag}")
    bad = [(p["seed"], side) for p in pairs for side in ("base", "change")
           if not p[side].get("correct")]
    out.append("correct on every run" if not bad else f"NOT correct: {bad}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", default="HEAD~1", help="base revision (default HEAD~1)")
    ap.add_argument("--change", default="HEAD", help="changed revision (default HEAD)")
    ap.add_argument("--base-dir", help="existing checkout to use as the base (no worktree)")
    ap.add_argument("--change-dir", help="existing checkout to use as the change")
    ap.add_argument("--workload", action="append", required=True,
                    help="workload name; repeat for several")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="", help="comma-separated seeds, cycled (default 1..pairs)")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", action="store_true",
                    help="run traced and summarise the per-layer metrics")
    ap.add_argument("--spans", default="",
                    help="with --trace: comma-separated span names to summarise per call")
    ap.add_argument("--out", help="write every run's JSON line here (after each pair)")
    ap.add_argument("--workdir", help="parent directory of the worktrees (default: a temp dir)")
    ap.add_argument("--keep", action="store_true", help="keep the worktrees")
    a = ap.parse_args()

    spans = [n for n in a.spans.split(",") if n]
    if spans and not a.trace:
        ap.error("--spans needs --trace")
    seeds = [int(s) for s in a.seeds.split(",") if s] or list(range(1, a.pairs + 1))
    tmp = tempfile.mkdtemp(prefix="ab_pairs_", dir=a.workdir)
    made = []
    try:
        sides = {}
        for side, rev, given in (("base", a.base, a.base_dir), ("change", a.change, a.change_dir)):
            if given:
                sides[side] = os.path.abspath(given)
            else:
                sides[side] = add_worktree(rev, os.path.join(tmp, side))
                made.append(sides[side])
            build(sides[side])
        better = metric_directions(sides["base"], a.trace)
        # the progress line shows one headline metric per side
        headline = "spark.jobs_per_op" if a.trace else "write_p50_ms"
        results = {}
        for w in a.workload:
            pairs = []
            for i in range(a.pairs):
                seed = seeds[i % len(seeds)]
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    r = run_once(sides[side], w, seed, a.seconds, a.trace)
                    pair[side] = r or {"correct": False, "metrics": {}}
                    if spans and r:
                        pair[side]["spans"] = span_stats(sides[side], w, spans)
                print(f"[ab_pairs] {w} pair {i + 1}/{a.pairs} seed {seed}: " + "  ".join(
                    f"{s} {headline}={pair[s]['metrics'].get(headline, {}).get('value')}"
                    for s in ("base", "change")), file=sys.stderr, flush=True)
                pairs.append(pair)
                results[w] = pairs
                if a.out:
                    with open(a.out, "w") as f:
                        json.dump(results, f, indent=1)
            print(summarize(w, pairs, better), flush=True)
            if spans:
                print(summarize_spans(w, pairs, spans), flush=True)
    finally:
        if not a.keep:
            for path in made:
                subprocess.run(["git", "worktree", "remove", "--force", path], cwd=REPO,
                               capture_output=True)
            shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
