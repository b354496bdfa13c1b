"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload curate_dedup --seed 1 --seconds 30 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), runs the
workload's fixed schedule in a fresh JVM on freshly wiped roots under
.bench_build/work, and prints as its last line one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced run with --trace 1. The lines
before it name every metric with its unit, and what was left out.

    python3 perfbench/run.py --selftest   # the benchmark's own checks
"""

import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("upsert_timetravel", "curate_dedup")
# the per-run limit is 180 s; leave room for start-up and clean-up
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# the project's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes, jars, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args


def run_jvm(cmd):
    """Run the JVM with its output on stderr; kill it past the time limit."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    try:
        classes, jars = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.REPO, ".bench_build", "work",
                        "selftest" if a.selftest else a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.selftest:
        code = run_jvm(java_cmd(classes, jars, work, "graftbench.SelfTest", [work]))
        if code == 0:
            code = subprocess.call([sys.executable, "-m", "unittest", "-q", "test_report"],
                                   cwd=os.path.dirname(os.path.abspath(__file__)),
                                   stdout=sys.stderr)
        return code

    raw_path = os.path.join(work, "report.json")
    code = run_jvm(java_cmd(classes, jars, work, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--report", raw_path]))
    if code != 0 or not os.path.isfile(raw_path):
        print(f"[perfbench] benchmark JVM exited with {code}", file=sys.stderr)
        return 1
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)

    if a.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in report.per_layer(raw).items()}
        print(json.dumps({"spans": len(raw["spans"]), "timed_wall_s": raw["wall_s"],
                          "histograms_ms": report.histograms(raw["samples"]),
                          "pooled_medians": {c: report.median_modes(raw["samples"], c)
                                             for c in ("write", "read")}}))
    else:
        metrics, details = report.end_to_end(raw)
        print(json.dumps(details))
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}")
    for f in raw["failures"]:
        print(f"[perfbench] WRONG {f}", file=sys.stderr)
    correct = not raw["failures"] and raw["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
