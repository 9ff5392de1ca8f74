#!/usr/bin/env python3
"""Layer diff: where did the time go between two traced runs?

    python3 perfbench/layerdiff.py BEFORE AFTER

BEFORE and AFTER are traced run records (perfbench/.runs/*_t1_*.json) or
directories of them; for a directory the newest traced record of each
workload is used. Prints, per workload, every per-layer metric before and
after and the ratio after/before together with its base (the before value
it divides by). busy_frac and write_amp are ratios themselves, so their
bases (task slots x pass wall, input event bytes) are printed too."""
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import layers  # noqa: E402


def records(path):
    """{workload: newest traced run record} from a file or a directory."""
    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*.json"))
    out = {}
    for f in sorted(files, key=os.path.getmtime):
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 1:
            out[r["workload"]] = r
    return out


def fmt(v):
    return f"{v:.4g}"


def ratio(before, after):
    if before == 0:
        return "n/a (base 0)" if after != 0 else "= (both 0)"
    return f"x{after / before:.3f} of base {fmt(before)}"


def bases(r):
    return {
        "executor.busy_frac": f"run_s {fmt(r['per_layer']['executor.run_s'])} / "
                              f"({r['cpus']} slots x {fmt(r['traced_pass_s'])} s)",
        "sources.write_amp": f"bytes_written {fmt(r['per_layer']['sources.bytes_written'])} / "
                             f"input {fmt(r.get('input_event_bytes', 0))} B",
    }


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = records(argv[1]), records(argv[2])
    common = sorted(set(before) & set(after))
    if not common:
        sys.exit("no workload has a traced run on both sides")
    for w in common:
        b, a = before[w], after[w]
        print(f"== {w}  (before: seed {b['seed']}, {b.get('git_commit') or '?'}; "
              f"after: seed {a['seed']}, {a.get('git_commit') or '?'})")
        print(f"   traced pass wall: {fmt(b['traced_pass_s'])} s -> {fmt(a['traced_pass_s'])} s"
              f"  {ratio(b['traced_pass_s'], a['traced_pass_s'])}")
        bb, ab = bases(b), bases(a)
        for name in layers.ALL:
            x, y = b["per_layer"][name], a["per_layer"][name]
            line = (f"   {name:28s} {fmt(x):>10s} -> {fmt(y):>10s} {layers.unit_of(name):6s}"
                    f" {ratio(x, y)}")
            if name in bb:
                line += f"  [before {bb[name]}; after {ab[name]}]"
            print(line)


if __name__ == "__main__":
    main(sys.argv)
