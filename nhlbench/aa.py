#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise each end-to-end metric.

    python3 nhlbench/aa.py run  --label A --seeds 1-10 [--workloads daily_load,...]
    python3 nhlbench/aa.py show --label A [--against B]

`run` appends one JSON line per run to nhlbench/out/aa-<label>.jsonl,
with the run's detail line (process shape, set-up phases, timed-phase
counters).
`show` prints, per workload and metric, the median, the quartiles and
their distance as a share of the median (statistics.quantiles, n=4);
with --against it also prints how far the median moved between the two
sets, as a share of the first set's median.
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


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def run(a):
    b = bench()
    names = a.workloads.split(",") if a.workloads else \
        [w["name"] for w in b["workloads"]]
    path = os.path.join(HERE, "out", f"aa-{a.label}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    for seed in seeds(a.seeds):
        for w in names:
            t = time.time()
            p = subprocess.run(
                b["command"] + ["--workload", w, "--seed", str(seed),
                                "--seconds", str(b["run_seconds"]),
                                "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            lines = p.stdout.strip().splitlines()
            detail = [ln.split(" ", 2)[2] for ln in lines
                      if ln.startswith("[nhlbench] detail ")]
            rec = {"workload": w, "seed": seed, "exit": p.returncode,
                   "wall_s": round(time.time() - t, 1),
                   "result": json.loads(lines[-1]) if lines else None,
                   "detail": json.loads(detail[-1]) if detail else None}
            with open(path, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"{w} seed {seed}: exit {p.returncode}, "
                  f"{rec['wall_s']} s", flush=True)


def load(label):
    with open(os.path.join(HERE, "out", f"aa-{label}.jsonl")) as f:
        return [json.loads(x) for x in f if x.strip()]


def summary(recs):
    out = {}
    for r in recs:
        if not r["result"]:
            continue
        for k, v in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(k, []).append(
                v["value"])
    return out


def show(a):
    bounds = {m["name"]: m["bound"] for m in bench()["end_to_end"]}
    first = summary(load(a.label))
    second = summary(load(a.against)) if a.against else {}
    for w, ms in first.items():
        print(f"\n{w}")
        for k, xs in ms.items():
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            line = (f"  {k:12s} n={len(xs):2d} median={q2:.6g} "
                    f"q1={q1:.6g} q3={q3:.6g} spread={(q3 - q1) / q2:.4f} "
                    f"bound={bounds.get(k)}")
            ys = second.get(w, {}).get(k)
            if ys:
                m2 = statistics.quantiles(ys, n=4)[1]
                line += f" | vs {a.against}: median={m2:.6g} " \
                        f"moved={(m2 - q2) / q2:+.4f}"
            print(line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--label", required=True)
    r.add_argument("--seeds", required=True)
    r.add_argument("--workloads")
    s = sub.add_parser("show")
    s.add_argument("--label", required=True)
    s.add_argument("--against")
    a = ap.parse_args()
    {"run": run, "show": show}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
