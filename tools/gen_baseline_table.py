#!/usr/bin/env python3
"""Regenerate the per-query table in BASELINE.md from BENCH_DETAIL.json.

Usage (from the repository root, where Bench writes BENCH_DETAIL.json):
  python3 tools/gen_baseline_table.py [label]
  label: short provenance tag for the table header (e.g. "round-10 run").

Refuses to publish failure sentinels: queries recorded as v < 0 are
excluded from the table and surfaced as an explicit n_failed note — a
baseline containing -1.00 rows would normalize a functional regression.
"""
import json, re, sys

label = sys.argv[1] if len(sys.argv) > 1 else "local run"
detail = json.load(open("BENCH_DETAIL.json"))
qs = detail["queries"]
ok = {k: v for k, v in qs.items() if v >= 0}
failed = sorted(k for k, v in qs.items() if v < 0)
total = sum(ok.values())

if failed:
    print(f"WARNING: {len(failed)} failed queries excluded: {', '.join(failed)}",
          file=sys.stderr)

note = (f"\n{len(failed)} queries FAILED in this run (excluded above): "
        f"{', '.join(f'`{k}`' for k in failed)}.\n" if failed else "")
rows = "\n".join(f"| `{k}` | {v:.2f} |" for k, v in sorted(ok.items()))
table = (f"### Per-query seconds (sf0.1, local[32], {len(ok)} queries, {label})\n\n"
         f"| query | sec |\n|---|---|\n{rows}\n\n"
         f"Total: {total:.1f} s.\n{note}")

src = open("BASELINE.md").read()
new = re.sub(r"### Per-query seconds.*", table, src, flags=re.S)
assert new != src
open("BASELINE.md", "w").write(new)
print(f"table regenerated: {len(ok)} queries, total {total:.1f}s"
      + (f", {len(failed)} failed EXCLUDED" if failed else ""))
