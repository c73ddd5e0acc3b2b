#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 etlbench/sweep.py --workloads ingest,search,curate --seeds 1-10 [--trace 0] [--out DIR]

For every workload and end-to-end metric it prints the median, the
quartiles and the spread (Q3 - Q1) / median, with the bound from
BENCHMARK.json beside it. With --out, every run's full record (metrics,
checks, host state) is copied there as <workload>-s<seed>-t<trace>.json
and the summary is written to summary.json.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="ingest,search,curate")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    out = Path(a.out) if a.out else None
    if out:
        out.mkdir(parents=True, exist_ok=True)
    # rerunning some workloads into an existing directory keeps the others
    summary = json.loads((out / "summary.json").read_text()) if out and (out / "summary.json").exists() else {}
    for w in a.workloads.split(","):
        values, runs = {}, []
        for s in seeds(a.seeds):
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            rec = ROOT / ".bench_build" / "records" / f"{w}-s{s}-t{a.trace}.json"
            host = json.loads(rec.read_text()).get("host", {})
            if out:
                shutil.copy(rec, out / rec.name)
            runs.append({"seed": s, "correct": r["correct"], "failed": r["failed"], "attempted": r["attempted"],
                         "steal_frac": host.get("steal_frac"), "busy_frac": host.get("machine_busy_frac")})
            for k, m in r["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"{w} seed {s}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items())
                  + f" correct={r['correct']} steal={host.get('steal_frac')}", flush=True)
        stats = {k: spread(v) for k, v in values.items() if len(v) >= 2}
        summary[w] = {"runs": runs, "metrics": stats}
        for k, st in stats.items():
            b = bounds.get(k)
            print(f"  {w:7s} {k:24s} median={st['median']:.4g} spread={st['spread']:.3f}"
                  + (f" bound={b} ({'ok' if st['spread'] < b / 3 else 'WIDE'})" if b else ""))
    if out:
        (out / "summary.json").write_text(json.dumps(summary, indent=2) + "\n")


if __name__ == "__main__":
    main()
