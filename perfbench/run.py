#!/usr/bin/env python3
"""graft benchmark: one seeded, oracle-checked workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the input with
tools/gen_testdata.py, builds and starts the harness in harness/, checks
every timed result, and prints one JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). Lines before it print every metric by name and unit. A run
record with the environment, every metric and the layer self times is
kept in perfbench/.runs/ for layerdiff.py. See README.md."""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import build, events, gate, layers, stats  # noqa: E402
from benchlib.workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "ops_per_s": "1/s",
    "op_p50_s": "s", "op_tail_s": "s", "live_heap_mb": "MB",
}
RUN_LIMIT_S = 170      # a run, build excluded, ends within this
BUILD_LIMIT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return max(1, min(4, os.cpu_count() or 1))


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def tree_bytes(path):
    total = 0
    for base, _, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(base, n))
            except OSError:
                pass
    return total


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields)
    except (OSError, ValueError, IndexError):
        return None


def read_json(path):
    with open(path) as f:
        return json.load(f)


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def query_outcomes(spans, verdict):
    """Per op: (pass index, latency s, outcome, name) for query workloads."""
    passes = {p["id"]: i for i, p in enumerate(layers.passes_of(spans))}
    out, wrong = [], {}
    for s in spans:
        if s["kind"] != "op":
            continue
        a = s["attrs"]
        if "error" in a:
            outcome = "error"
            wrong[s["name"]] = a["error"]
        else:
            why = verdict.get((s["name"], a["hash"]), "result missing")
            outcome = "ok" if why is None else "wrong"
            if why is not None:
                wrong[s["name"]] = why
        out.append((passes[s["parent"]], (a.get("build_ns", 0) + a.get("action_ns", 0)) / 1e9,
                    outcome, s["name"]))
    return out, wrong


def stream_outcomes(spans):
    """Per op: speed-layer micro-batches, batch profile and serving."""
    passes = {p["id"]: i for i, p in enumerate(layers.passes_of(spans))}
    gates = {s["parent"]: s["attrs"] for s in spans if s["kind"] == "gate"}
    ops = {s["id"]: s for s in spans if s["kind"] == "op"}
    out, wrong = [], {}
    for s in spans:
        if s["kind"] == "batch":
            op = ops[s["parent"]]
            g = gates.get(op["parent"], {})
            ok = g.get("lake_ok") and "error" not in op["attrs"]
            out.append((passes[op["parent"]], (s["end"] - s["start"]) / 1e9,
                        "ok" if ok else "wrong", "micro-batch"))
            if not ok:
                wrong["speed_layer"] = op["attrs"].get("error", "lake differs from source")
        elif s["kind"] == "op" and s["name"] != "speed_layer":
            g = gates.get(s["parent"], {})
            ok = "error" not in s["attrs"] and (s["name"] != "serving" or g.get("anomalies_ok"))
            if not ok:
                wrong[s["name"]] = s["attrs"].get("error", "anomalies differ from batch twin")
            out.append((passes[s["parent"]], None, "ok" if ok else "wrong", s["name"]))
    return out, wrong


def pass_throughput(spans, outcomes, first):
    """Correct timed operations per second of each measured pass (index
    `first` on), the pass's own output check left out of its wall time."""
    passes = layers.passes_of(spans)
    check_ns = {}
    for s in spans:
        if s["kind"] == "check":
            check_ns[s["parent"]] = check_ns.get(s["parent"], 0) + s["end"] - s["start"]
    for s in spans:  # checks inside an op count against the op's pass
        if s["kind"] == "op" and s["id"] in check_ns:
            check_ns[s["parent"]] = check_ns.get(s["parent"], 0) + check_ns[s["id"]]
    out = []
    for i, p in enumerate(passes[first:], start=first):
        ok = sum(1 for j, lat, o, _ in outcomes if j == i and lat is not None and o == "ok")
        out.append(ok / ((p["end"] - p["start"] - check_ns.get(p["id"], 0)) / 1e9))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    gen = os.path.join(ROOT, "tools", "gen_testdata.py")
    check_oracle = os.path.join(ROOT, "tools", "check_oracle.py")
    for needed in (gen, check_oracle, os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(needed):
            log(f"missing {os.path.relpath(needed, ROOT)}: run from a full checkout")
            return 2
    if not os.environ.get("SPARK_HOME"):
        log("SPARK_HOME is not set")
        return 2

    wl = WORKLOADS[args.workload]
    sf, n = wl["sf"], cpus()
    run_id = f"{args.workload}_s{args.seed}_sf{sf}_t{args.trace}_{os.getpid()}_{int(time.time())}"
    work = os.path.join(HERE, ".work", run_id)
    data = os.path.join(work, f"data_s{args.seed}_sf{sf}")
    os.makedirs(work)
    try:
        classes, source = build.ensure(ROOT, os.path.join(HERE, "harness"), BUILD_LIMIT_S)
        t_run = time.monotonic()
        subprocess.run([sys.executable, gen, data, "--seed", str(args.seed), "--sf", str(sf)],
                       check=True, stdout=subprocess.DEVNULL, timeout=120)
        cmd = build.java_command(classes, work) + [
            "--workload", args.workload, "--data", data, "--work", work,
            "--cpus", str(n), "--seconds", str(args.seconds), "--passes", str(wl["warmup"] + wl["passes"]),
            "--trace", str(args.trace)]
        input_events, input_event_bytes = 0, 0
        if wl["kind"] == "stream":
            evdir = os.path.join(work, "events")
            input_events, input_event_bytes = events.stage(data, evdir, args.seed, wl["files"],
                                                wl["redeliver"])
            cmd += ["--events", evdir, "--files-per-trigger", str(wl["files_per_trigger"])]
        else:
            cmd += ["--queries", ",".join(wl["queries"])]
        budget = RUN_LIMIT_S - (time.monotonic() - t_run)
        ticks0 = cpu_ticks()
        with open(os.path.join(work, "harness.log"), "w") as logf:
            proc = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=budget,
                                  env=build.java_env())
        ticks1 = cpu_ticks()
        # share of CPU time the hypervisor took from this VM during the run:
        # a slow run with a high share was slowed by its host, not the program
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]) \
            if ticks0 and ticks1 else None
        if proc.returncode != 0:
            with open(os.path.join(work, "harness.log")) as f:
                tail = [l for l in f if "[perfbench]" in l or "Exception" in l][-20:]
            sys.stderr.writelines(tail)
            raise RuntimeError(f"harness exited with {proc.returncode}")
        record = read_json(os.path.join(work, "record.json"))
        spans = read_jsonl(os.path.join(work, "spans.jsonl"))

        if wl["kind"] == "stream":
            outcomes, wrong = stream_outcomes(spans)
        else:
            canon = gate.load_check_oracle(check_oracle)
            oracle_sql = read_json(os.path.join(work, "oracle_sql.json"))
            missing = sorted(set(wl["queries"]) - set(oracle_sql))
            if missing:
                raise RuntimeError(f"no oracle SQL for {missing}")
            expect = gate.expected(os.path.join(HERE, ".cache", "oracle"), data,
                                   args.seed, sf, oracle_sql, canon)
            outcomes, wrong = query_outcomes(
                spans, gate.verdicts(os.path.join(work, "results"), expect, canon))
        for name, why in sorted(wrong.items()):
            log(f"FAILED {name}: {why}")

        passes = layers.passes_of(spans)
        # pass 0 is cold, then come the warm-up passes, then the measured ones
        first = 1 + wl["warmup"]
        later = {p["id"] for p in passes[first:]}
        # latencies of the measured passes' correct operations only: a
        # failed operation must not read as a fast one
        lat = [x for i, x, o, _ in outcomes if i >= first and x is not None and o == "ok"]
        tail_v, tail_pct, tail_n = stats.tail(lat)
        e2e = {
            "setup_s": record["setup_s"],
            "first_pass_s": (passes[0]["end"] - passes[0]["start"]) / 1e9,
            "ops_per_s": statistics.median(pass_throughput(spans, outcomes, first)),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": tail_v,
            "live_heap_mb": record["live_heap_kb"] / 1024.0,
        }
        attempted = len(outcomes)
        failed = sum(1 for o in outcomes if o[2] != "ok")
        info = {"failed_frac": (stats.failed_frac([o[2] for o in outcomes]), "ratio"),
                "peak_rss_mb": (record["peak_rss_kb"] / 1024.0, "MB")}
        if wl["kind"] == "stream":
            speed = [s for s in spans if s["kind"] == "op" and s["name"] == "speed_layer"]
            later_speed = [s for s in speed if s["parent"] in later]
            wall = sum(s["end"] - s["start"] for s in later_speed) / 1e9
            info.update({"events_per_s": (input_events * len(later_speed) / wall, "1/s"),
                         "batch_p50_s": (e2e["op_p50_s"], "s"),
                         "batch_tail_s": (tail_v, "s")})
        else:
            info.update({"queries_per_s": (e2e["ops_per_s"], "1/s"),
                         "query_p50_s": (e2e["op_p50_s"], "s"),
                         "query_tail_s": (tail_v, "s")})
        print(f"workload {args.workload} seed {args.seed} sf {sf} cpus {n} "
              f"passes {len(passes)} ops {attempted} failed {failed} host_steal_frac {steal}")
        for name, v in e2e.items():
            print(f"metric {name} {v:.6g} {END_TO_END[name]}")
        for name, (v, unit) in info.items():
            extra = f" (p{tail_pct:g}, {tail_n} samples beyond)" if name.endswith("tail_s") else ""
            print(f"metric {name} {v:.6g} {unit}{extra}")

        run_record = {
            "workload": args.workload, "seed": args.seed, "sf": sf, "trace": args.trace,
            "seconds": args.seconds, "cpus": n, "nproc": os.cpu_count(),
            "git_commit": git_commit(), "source_fingerprint": source, "env": record["env"],
            "passes": len(passes), "warmup_passes": wl["warmup"],
            "end_to_end": e2e, "info": {k: v for k, (v, _) in info.items()},
            "tail": {"percentile": tail_pct, "beyond": tail_n},
            "attempted": attempted, "failed": failed, "failures": wrong,
            "input_event_bytes": input_event_bytes, "host_steal_frac": steal,
            "op_latency_s": {name: [round(x, 6) for i, x, _, m in outcomes
                                    if m == name and x is not None]
                             for name in sorted({o[3] for o in outcomes})},
        }
        if args.trace:
            per_layer, traced_pass_s = layers.summarize(spans, n, input_event_bytes, first)
            run_record.update({"per_layer": per_layer, "traced_pass_s": traced_pass_s,
                               "self_s": layers.self_times(spans)})
            for name in layers.ALL:
                print(f"layer {name} {per_layer[name]:.6g} {layers.unit_of(name)}")
            metrics = {k: {"value": per_layer[k], "unit": layers.unit_of(k)}
                       for k in layers.PER_LAYER}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    except Exception as e:  # no result line on any failure to measure
        log(f"run failed: {type(e).__name__}: {e}")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    scratch = tree_bytes(work)
    shutil.rmtree(work, ignore_errors=True)
    run_record["scratch_bytes"] = scratch
    run_record["bytes_left"] = tree_bytes(work)
    run_record["wall_s"] = time.monotonic() - t_start
    os.makedirs(os.path.join(HERE, ".runs"), exist_ok=True)
    with open(os.path.join(HERE, ".runs", run_id + ".json"), "w") as f:
        json.dump(run_record, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
