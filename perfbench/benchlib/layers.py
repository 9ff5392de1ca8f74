"""Per-layer metrics of a traced run, from the harness's spans.jsonl.

Spans: workload > pass > op > {build, action, check} > job > stage, plus
streaming progress, Catalyst `plan` events, `aqe` instants and `storage`
samples. Jobs and stages hang under their op through the job group; the
rest is placed by time. Every metric is a per-pass mean over the measured
passes, except codegen, which is the first (cold) pass. Work done
inside a pass's output check is left out."""
import collections
import statistics

from . import stats

NS = 1e9

# The per-layer metrics a traced run reports in its result line (and in
# BENCHMARK.json). Each one measures work on at least one workload; the
# streaming and sources metrics read 0 on graph_loops, which neither
# streams nor writes.
PER_LAYER = [
    "operators.build_s", "operators.eager_jobs", "operators.checkpoint_rdds",
    "planning.analysis_s", "planning.optimizer_s", "planning.physical_s",
    "planning.aqe_updates",
    "codegen.compiles", "codegen.compile_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.task_overhead_s",
    "executor.run_s", "executor.cpu_s", "executor.gc_s", "executor.busy_frac",
    "shuffle.write_bytes", "shuffle.write_s", "shuffle.read_bytes", "shuffle.spill_bytes",
    "storage.block_bytes_peak", "storage.blocks_left",
    "sources.bytes_read", "sources.bytes_written", "sources.files_written",
    "sources.write_amp",
    "streaming.batches", "streaming.add_batch_s", "streaming.plan_s",
    "streaming.offset_s", "streaming.commit_s",
]
# Printed and kept in the run record, not in the result line: they read 0
# on every workload. Under local[N] no task waits on a remote shuffle
# fetch, and no workload runs a stateful streaming operator (the lake's
# key dedup runs inside foreachBatch; the anomaly join is stream-static).
EXTRA = ["shuffle.fetch_wait_s", "streaming.state_rows"]
ALL = PER_LAYER + EXTRA


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_frac", "_amp")):
        return "ratio"
    if name.endswith("_rows"):
        return "rows"
    return "count"


def passes_of(spans):
    return sorted((s for s in spans if s["kind"] == "pass"), key=lambda s: s["start"])


def _window_index(passes, checks, t):
    """Index of the pass containing time t, or None (also inside checks)."""
    for c in checks:
        if c["start"] <= t <= c["end"]:
            return None
    for i, p in enumerate(passes):
        if p["start"] <= t <= p["end"]:
            return i
    return None


def per_pass(spans, cpus, input_event_bytes):
    """One dict of layer metrics per pass."""
    passes = passes_of(spans)
    checks = [s for s in spans if s["kind"] == "check"]
    rows = [collections.Counter() for _ in passes]
    peaks = [0] * len(passes)

    def pass_of(s):
        return _window_index(passes, checks, s["start"])

    for s in spans:
        k, a = s["kind"], s["attrs"]
        i = pass_of(s)
        if i is None:
            continue
        r = rows[i]
        dur = (s["end"] - s["start"]) / NS
        if k == "build":
            r["operators.build_s"] += dur
        elif k == "op":
            r["operators.checkpoint_rdds"] += a.get("checkpoint_rdds", 0)
        elif k == "job":
            r["scheduler.jobs"] += 1
            if a.get("phase") == "build":
                r["operators.eager_jobs"] += 1
        elif k == "stage":
            r["scheduler.stages"] += 1
            r["scheduler.tasks"] += a["tasks"]
            r["scheduler.task_overhead_s"] += (a["task_wall_ms"] - a["run_ms"]) / 1e3
            r["executor.run_s"] += a["run_ms"] / 1e3
            r["executor.cpu_s"] += a["cpu_ns"] / NS
            r["executor.gc_s"] += a["gc_ms"] / 1e3
            r["shuffle.write_bytes"] += a["shuffle_write"]
            r["shuffle.write_s"] += a["shuffle_write_ns"] / NS
            r["shuffle.read_bytes"] += a["shuffle_read"]
            r["shuffle.fetch_wait_s"] += a["fetch_wait_ms"] / 1e3
            r["shuffle.spill_bytes"] += a["spill"]
            r["sources.bytes_read"] += a["input_bytes"]
            r["sources.bytes_written"] += a["output_bytes"]
        elif k == "plan":
            r["planning.analysis_s"] += a["analysis_ms"] / 1e3
            r["planning.optimizer_s"] += a["optimizer_ms"] / 1e3
            r["planning.physical_s"] += a["physical_ms"] / 1e3
            r["sources.files_written"] += a["files_written"]
        elif k == "aqe":
            r["planning.aqe_updates"] += 1
        elif k == "storage":
            peaks[i] = max(peaks[i], a["bytes"])
        elif k == "progress":
            d = a["duration_ms"]
            if a["input_rows"] > 0:
                r["streaming.batches"] += 1
            r["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            r["streaming.plan_s"] += d.get("queryPlanning", 0) / 1e3
            r["streaming.offset_s"] += (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1e3
            r["streaming.commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
            r["streaming.state_rows"] = max(r["streaming.state_rows"], a["state_rows"])
    out = []
    for i, p in enumerate(passes):
        r = rows[i]
        wall = (p["end"] - p["start"]) / NS
        m = {name: float(r[name]) for name in ALL}
        m["executor.busy_frac"] = stats.busy_frac(r["executor.run_s"], cpus, wall)
        m["storage.block_bytes_peak"] = float(peaks[i])
        m["storage.blocks_left"] = float(p["attrs"].get("rdds_held", 0))
        m["codegen.compiles"] = float(p["attrs"].get("compiles", 0))
        m["codegen.compile_s"] = p["attrs"].get("compile_ns", 0) / NS
        m["sources.write_amp"] = stats.write_amp(r["sources.bytes_written"], input_event_bytes)
        m["pass_s"] = wall
        out.append(m)
    return out


def summarize(spans, cpus, input_event_bytes, first):
    """Layer metrics for the run: means over the measured passes (index
    `first` on), codegen from pass 0."""
    rows = per_pass(spans, cpus, input_event_bytes)
    later = rows[first:] or rows
    out = {name: statistics.fmean(r[name] for r in later) for name in ALL}
    out["codegen.compiles"] = rows[0]["codegen.compiles"]
    out["codegen.compile_s"] = rows[0]["codegen.compile_s"]
    return out, statistics.median(r["pass_s"] for r in later)


def self_times(spans):
    """Summed self time per span kind, over the driver-side span tree."""
    children = collections.defaultdict(list)
    for s in spans:
        if s["parent"] != -1:
            children[s["parent"]].append((s["start"], s["end"]))
    out = collections.Counter()
    for s in spans:
        if s["kind"] in ("workload", "pass", "op", "build", "action", "check", "job"):
            out[s["kind"]] += stats.self_time((s["start"], s["end"]), children[s["id"]]) / NS
    return dict(out)
