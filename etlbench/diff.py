#!/usr/bin/env python3
"""Compare two traced benchmark records layer by layer.

    python3 etlbench/diff.py BEFORE AFTER [--workload W] [--all]

BEFORE and AFTER are traced run records (the JSON files run.py writes
with --trace 1) or directories of them; for a directory, each metric is
the median over the records of the chosen workload. The table shows, per
layer, self time, CPU, shuffle bytes, spill and rows in/out (every
metric with --all), the change and the change as a share of BEFORE, so a
change can show which layer its saving sits in. Layers whose figures are
all zero on both sides are skipped.
"""
import argparse
import json
import statistics
import sys
from pathlib import Path

FOCUS = ["self_s", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "rows_in", "rows_out"]


def load(path, workload):
    p = Path(path)
    files = sorted(p.glob("*-t1.json")) if p.is_dir() else [p]
    recs = [json.loads(f.read_text()) for f in files]
    recs = [r for r in recs if "layers" in r and (workload is None or r["workload"] == workload)]
    if not recs:
        sys.exit(f"no traced records for workload {workload} in {path}")
    workloads = {r["workload"] for r in recs}
    if len(workloads) > 1:
        sys.exit(f"{path} holds several workloads {sorted(workloads)}; pass --workload")
    names = recs[0]["layers"].keys()
    out = {k: statistics.median(r["layers"][k]["value"] for r in recs if k in r["layers"]) for k in names}
    for k, m in recs[0]["end_to_end"].items():
        out[f"end_to_end.{k}"] = statistics.median(r["end_to_end"][k]["value"] for r in recs)
    return recs[0]["workload"], len(recs), out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="show every metric, not only the focus set")
    a = ap.parse_args()
    wa, na, A = load(a.before, a.workload)
    wb, nb, B = load(a.after, a.workload or wa)
    print(f"workload {wa}: before = {na} record(s), after = {nb} record(s)")
    print(f"{'metric':40s} {'before':>14s} {'after':>14s} {'change':>14s} {'share':>8s}")
    layers = []
    for k in list(A) + [k for k in B if k not in A]:
        layer = k.split(".")[0]
        if layer not in layers:
            layers.append(layer)
    for layer in layers:
        keys = [k for k in dict.fromkeys(list(A) + list(B)) if k.split(".")[0] == layer]
        if not a.all and layer != "end_to_end":
            keys = [k for k in keys if k.split(".", 1)[1] in FOCUS or layer == "jvm"]
        if all(A.get(k, 0) == 0 and B.get(k, 0) == 0 for k in keys):
            continue
        for k in keys:
            x, y = A.get(k, 0.0), B.get(k, 0.0)
            share = f"{(y - x) / x:+.1%}" if x else "n/a"
            print(f"{k:40s} {x:14.4g} {y:14.4g} {y - x:+14.4g} {share:>8s}")


if __name__ == "__main__":
    main()
