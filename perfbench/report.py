"""Turns the raw report of one benchmark run (written by graftbench.Main)
into the metrics: the end-to-end metrics of an untraced run and the
per-layer metrics of a traced run. Pure functions, tested by
test_report.py."""

import hashlib
import math

# Fewer samples than this and a p90 would rest on under ten samples beyond
# it: the metric is left out.
P90_MIN_SAMPLES = 100


def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def latency(samples, name):
    """{name_p50_ms: ...} plus name_p90_ms when there are enough samples
    for it; returns (metrics, note) where note says what was left out."""
    out = {}
    note = None
    if samples:
        out[f"{name}_p50_ms"] = median(samples)
        if len(samples) >= P90_MIN_SAMPLES:
            out[f"{name}_p90_ms"] = percentile(samples, 90)
        else:
            note = f"{name}_p90_ms left out: {len(samples)} samples < {P90_MIN_SAMPLES}"
    return out, note


def ratio(num, base):
    """num / base, 0 when the base is 0 (the op did not occur)."""
    return num / base if base else 0.0


# Which sample kinds feed each workload-named latency metric.
NAMED_LATENCY = {
    "upsert_timetravel": {"mutate": ["merge_dv", "update_dv", "delete_dv", "merge_cow",
                                     "append", "sql_merge"],
                          "snapshot": ["snapshot", "time_travel", "sql_version_as_of",
                                       "change_feed"],
                          "introspect": ["version_probe"]},
    "curate_dedup": {"batch": ["curate_batch"],
                     "fetch": ["fetch_new", "fetch_one", "fetch_list", "fetch_range", "fetch_diff"],
                     "introspect": ["loader_probe"]},
}


def end_to_end(raw):
    """The end-to-end metrics of an untraced run, and detail lines."""
    samples = raw["samples"]  # [cls, kind, ms, rows]

    def ms_of(cls):
        return [s[2] for s in samples if s[0] == cls]

    written = sum(v for k, v in raw["fs"].items() if k.startswith("bytes_written."))
    metrics = {
        "setup_s": (median(raw["setup_s"]) + raw["warmup_s"], "s"),
        "rows_per_s": (sum(s[3] for s in samples) / raw["wall_s"], "rows/s"),
        "write_p50_ms": (median(ms_of("write")), "ms"),
        "read_p50_ms": (median(ms_of("read")), "ms"),
        "write_amp": (ratio(written, raw["user_bytes_written"]), "B/B"),
        "space_amp": (ratio(raw["disk_bytes"], raw["live_user_bytes"]), "B/B"),
        "heap_peak_mb": (raw["heap_peak_mb"], "MB"),
    }
    named, notes = {}, []
    for name, kinds in NAMED_LATENCY.get(raw["workload"], {}).items():
        got, note = latency([s[2] for s in samples if s[1] in kinds], name)
        named.update(got)
        if note:
            notes.append(note)
    named["fail_ratio"] = ratio(raw["failed"], raw["attempted"])
    counts = {}
    for s in samples:
        counts[s[1]] = counts.get(s[1], 0) + 1
    details = {"named_metrics_ms": named, "omitted": notes, "samples_per_kind": counts,
               "schedule_digest": schedule_digest(samples),
               "data_digest": raw["info"]["data_digest"],
               "bases": {"bytes_written": written, "user_bytes_written": raw["user_bytes_written"],
                         "disk_bytes": raw["disk_bytes"], "live_user_bytes": raw["live_user_bytes"],
                         "rows": sum(s[3] for s in samples), "wall_s": raw["wall_s"]}}
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, details


def schedule_digest(samples):
    """Digest of the timed op sequence (kinds in order): the same for every
    seed."""
    return hashlib.sha256(",".join(s[1] for s in samples).encode()).hexdigest()[:16]


def histograms(samples):
    """Per op kind: sample count and latency quartiles, in ms."""
    out = {}
    for kind in sorted({s[1] for s in samples}):
        ms = [s[2] for s in samples if s[1] == kind]
        out[kind] = {"n": len(ms), "min": min(ms), "q1": percentile(ms, 25),
                     "median": median(ms), "q3": percentile(ms, 75), "max": max(ms)}
    return out


def median_modes(samples, cls):
    """Which op kinds the pooled median of a class falls on, and whether it
    falls between two modes: the middle samples come from different kinds
    whose interquartile ranges do not overlap."""
    pooled = sorted((s[2], s[1]) for s in samples if s[0] == cls)
    if not pooled:
        return None
    n = len(pooled)
    kinds = sorted({pooled[(n - 1) // 2][1], pooled[n // 2][1]})
    h = histograms([s for s in samples if s[0] == cls])
    between = len(kinds) == 2 and (h[kinds[0]]["q3"] < h[kinds[1]]["q1"] or
                                   h[kinds[1]]["q3"] < h[kinds[0]]["q1"])
    return {"kinds_at_median": kinds, "between_modes": between}


# ---------------------------------------------------------------- traced run

def covered_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Spans:
    """Aggregates over the traced run's spans, selected by name."""

    def __init__(self, raw):
        self.spans = raw["spans"]
        self.wall_ms = raw["wall_s"] * 1000.0
        off = raw["epoch_offset_ns"]
        for s in self.spans:
            s["a_ms"] = (s["t0_ns"] + off) / 1e6
            s["b_ms"] = (s["t1_ns"] + off) / 1e6
        children = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)

        def jobs_under(s):
            return [tuple(j) for j in s["jobs"]] + [
                j for c in children.get(s["id"], []) for j in jobs_under(c)]

        for s in self.spans:
            kids = [(c["a_ms"], c["b_ms"]) for c in children.get(s["id"], [])]
            s["self_ms"] = (s["b_ms"] - s["a_ms"]) - covered_ms(kids, s["a_ms"], s["b_ms"])
            # driver gap: the part of the span with no Spark job of it running
            s["gap_ms"] = (s["b_ms"] - s["a_ms"]) - covered_ms(jobs_under(s), s["a_ms"], s["b_ms"])

    def select(self, names):
        return [s for s in self.spans if s["name"] in names]

    def calls(self, names):
        return len(self.select(names))

    def pct(self, names, field="self_ms"):
        """Share of the timed wall spent in the spans, in percent."""
        return 100.0 * sum(s[field] for s in self.select(names)) / self.wall_ms

    def fs(self, names, keys):
        return sum(s["fs"][k] for s in self.select(names) for k in keys)

    def spark(self, names, key):
        return sum(s["spark"][key] for s in self.select(names))

    def per_call(self, total, names):
        return ratio(total, self.calls(names))

    def ops(self, kinds):
        """Op spans of the given kinds."""
        return [s for s in self.spans if s["name"] in {f"op.{k}" for k in kinds}]


META_OPS = ["list", "status", "open", "create", "rename", "delete"]
LIST_OPS = ["list", "status"]

PUBLISH = {"Publish.publish", "Publish.publishDedupAppend"}
FETCH_PLAN = {"Fetch.fetch", "Fetch.fetchDiff"}
FETCH_EXEC = {"Fetch.fetch#exec", "Fetch.fetchDiff#exec"}
INTROSPECT = {"Fetch.getMaxPartitionValue", "Fetch.getDiffPartitionValues",
              "Fetch.getAllPartitionValues"}
RESOLVE = {"Versions.latestVersion", "Versions.versionAsOf", "Versions.history"}
SNAPSHOT_PLAN = {"Versions.fetchVersion", "Versions.changeFeed"}
SNAPSHOT_EXEC = {"Versions.fetchVersion#exec", "Versions.changeFeed#exec"}
MUTATE = {"Mutations.mergeDv", "Mutations.updateWhereDv", "Mutations.deleteWhereDv",
          "Mutations.merge", "Publish.publishVersioned", "sql.merge"}
NEARDUP = {"DedupIndex.dedupBatch", "DedupIndex.append"}
KERNELS = NEARDUP | {"Decontaminate.decontaminate"}
# upsert_timetravel's op kinds that commit a version
COMMIT_KINDS = ["merge_dv", "update_dv", "delete_dv", "merge_cow", "append", "sql_merge",
                "compact"]


def per_layer(raw):
    """The per-layer metrics of a traced run: {name: (value, unit)}."""
    sp = Spans(raw)
    info = raw["info"]
    cpus = raw["cpus"]
    ops = [s for s in sp.spans if s["name"].startswith("op.")]
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    # core.Publish (+ DatasetLock, DirectWrite) and catalog.SpectrumDdl
    put("publish.self_pct", sp.pct(PUBLISH), "%")
    put("publish.driver_gap_pct", sp.pct(PUBLISH, "gap_ms"), "%")
    put("publish.jobs_per_call", sp.per_call(sp.spark(PUBLISH, "jobs"), PUBLISH), "count")
    put("publish.fs_meta_ops_per_call", sp.per_call(sp.fs(PUBLISH, META_OPS), PUBLISH), "count")
    put("publish.files_per_call", sp.per_call(sp.fs(PUBLISH, ["creates.data"]), PUBLISH), "count")
    put("publish.bytes_per_row", ratio(sp.fs(PUBLISH, ["bytes_written.data"]),
                                       sp.spark(PUBLISH, "output_records")), "B")
    put("catalog.ddl_pct", sp.pct({"Publish.catalogDdl"}), "%")

    # core.Fetch + Filters + StatsIndex
    fetch_calls = sp.calls(FETCH_PLAN)
    both = FETCH_PLAN | FETCH_EXEC
    put("fetch.plan_pct", sp.pct(FETCH_PLAN), "%")
    put("fetch.exec_pct", sp.pct(FETCH_EXEC), "%")
    put("fetch.jobs_per_call", ratio(sp.spark(both, "jobs"), fetch_calls), "count")
    put("fetch.fs_list_ops_per_call", ratio(sp.fs(both, LIST_OPS), fetch_calls), "count")
    put("fetch.files_read_ratio",
        ratio(sp.fs(FETCH_EXEC, ["opens.data"]), info.get("files_in_matching_partitions", 0)), "1")
    put("fetch.read_amp", ratio(sp.spark(FETCH_EXEC, "input_bytes"), info.get("fetch_user_bytes", 0)),
        "B/B")
    put("introspect.pct", sp.pct(INTROSPECT), "%")
    put("introspect.fs_list_ops_per_call", sp.per_call(sp.fs(INTROSPECT, LIST_OPS), INTROSPECT),
        "count")
    put("introspect.jobs_per_call", sp.per_call(sp.spark(INTROSPECT, "jobs"), INTROSPECT), "count")

    # core.Versions
    put("versions.resolve_pct", sp.pct(RESOLVE), "%")
    put("versions.log_reads_per_resolve", sp.per_call(sp.fs(RESOLVE, ["opens.log"]), RESOLVE),
        "count")
    # filesystem deltas of a span include its children's: the op spans
    # alone cover every log write the commit made
    write_ops = sp.ops(COMMIT_KINDS)
    commits = len(write_ops)
    log_creates = sum(s["fs"]["creates.log"] for s in write_ops)
    log_bytes = sum(s["fs"]["bytes_written.log"] for s in write_ops)
    put("versions.log_writes_per_commit", ratio(log_creates, commits), "count")
    put("versions.log_bytes_per_commit", ratio(log_bytes, commits), "B")
    put("snapshot.plan_pct", sp.pct(SNAPSHOT_PLAN), "%")
    put("snapshot.exec_pct", sp.pct(SNAPSHOT_EXEC), "%")

    # core.Mutations
    for key, name in [("merge_dv", "Mutations.mergeDv"), ("update_dv", "Mutations.updateWhereDv"),
                      ("delete_dv", "Mutations.deleteWhereDv"), ("merge_cow", "Mutations.merge"),
                      ("append", "Publish.publishVersioned")]:
        put(f"mutate.{key}_pct", sp.pct({name}), "%")
    put("mutate.jobs_per_call", sp.per_call(sp.spark(MUTATE, "jobs"), MUTATE), "count")
    put("mutate.driver_gap_pct", sp.pct(MUTATE, "gap_ms"), "%")
    mutate_bytes = sp.fs(MUTATE, ["bytes_written.data", "bytes_written.log",
                                  "bytes_written.sidecar"])
    put("mutate.bytes_written_per_source_byte", ratio(mutate_bytes, raw["user_bytes_written"]),
        "B/B")
    put("maintain.compact_pct", sp.pct({"Versions.compact"}), "%")
    put("maintain.vacuum_pct", sp.pct({"Versions.vacuum"}), "%")
    put("maintain.bytes_rewritten", sp.fs({"Versions.compact"}, ["bytes_written.data"]), "B")
    put("maintain.files_deleted", sp.fs({"Versions.vacuum"}, ["delete"]), "count")

    # sources + plans
    put("sql.merge_pct", sp.pct({"sql.merge"}), "%")
    put("sql.select_plan_pct", sp.pct({"sql.select"}), "%")

    # ops
    for key, names in [("clean", {"TextAnalysis.cleanText"}),
                       ("quality", {"TextAnalysis.gopherFilter"}),
                       ("exact", {"Publish.publishDedupAppend"}), ("neardup", NEARDUP),
                       ("decontam", {"Decontaminate.decontaminate"}),
                       ("export", {"ShardExport.exportShards"})]:
        put(f"curate.{key}_pct", sp.pct(names), "%")
    batch_ops = sp.ops(["curate_batch"])
    batch_ids = {o["id"] for o in batch_ops}
    in_batches = [s for s in sp.spans if s["id"] in batch_ids or s["parent"] in batch_ids]
    docs = sum(s[3] for s in raw["samples"] if s[1] == "curate_batch")
    put("curate.tasks_per_batch", ratio(sum(s["spark"]["tasks"] for s in in_batches),
                                        len(batch_ops)),
        "count")
    put("curate.shuffle_bytes_per_doc",
        ratio(sum(s["spark"]["shuffle_write_bytes"] for s in in_batches), docs), "B")
    put("dedup.recall", ratio(info.get("found_near", 0), info.get("planted_near", 0)), "1")
    put("dedup.false_drop_ratio", ratio(info.get("false_drops", 0), info.get("clean_docs", 0)), "1")

    # functions: the minhash / shingle kernels inside near-dup and decontamination
    put("kernel.cpu_pct", 100.0 * sp.spark(KERNELS, "task_cpu_ns") / 1e6 / (sp.wall_ms * cpus),
        "%")

    # Spark / JVM, cross-cutting
    put("spark.jobs_per_op", ratio(sum(s["spark"]["jobs"] for s in sp.spans), len(ops)), "count")
    put("spark.driver_gap_pct", 100.0 * sum(s["gap_ms"] for s in ops) / sp.wall_ms, "%")
    put("spark.shuffle_bytes", sum(s["spark"]["shuffle_write_bytes"] for s in sp.spans), "B")
    put("spark.spill_bytes", sum(s["spark"]["spill_bytes"] for s in sp.spans), "B")
    put("jvm.gc_pct", 100.0 * raw["gc_ms"] / sp.wall_ms, "%")
    return m
