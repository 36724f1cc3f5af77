"""Compare two sets of traced runs layer by layer.

    python3 perfbench/layer_diff.py BEFORE AFTER

BEFORE and AFTER are trace records written by `run.py --trace 1`
(.bench_work/traces/<workload>-<pid>.json) or directories holding them,
e.g. one directory per commit. Records are grouped by workload; for each
workload the script prints, per traced pass and as the median over the
records of each side:

  - the self time of every span name (its duration minus its children's),
    so a saving shows in the layer where it happened;
  - every per-layer metric (jobs, tasks, CPU and GC time, shuffle, spill,
    broadcast and sink bytes, ...).

Rows that did not change are left out unless --all is given.
"""

import argparse
import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path


def load(path):
    p = Path(path)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    by_workload = defaultdict(list)
    for f in files:
        rec = json.loads(f.read_text())
        by_workload[rec["workload"]].append(rec)
    return by_workload


def self_times(rec):
    """Self seconds per span name over the record's traced pass."""
    out = defaultdict(float)
    for s in rec["spans"]:
        out[s["name"]] += s["self_s"]
    return out


def medians(recs, extract):
    vals = defaultdict(list)
    for r in recs:
        for k, v in extract(r).items():
            vals[k].append(v)
    return {k: statistics.median(v) for k, v in vals.items()}


def table(title, before, after, show_all):
    rows = []
    for k in sorted(set(before) | set(after)):
        b, a = before.get(k, 0.0), after.get(k, 0.0)
        if not show_all and a == b:
            continue
        pct = f"{100.0 * (a - b) / b:+.1f}%" if b else "new" if a else ""
        rows.append((k, f"{b:.6g}", f"{a:.6g}", f"{a - b:+.6g}", pct))
    if not rows:
        return
    print(f"  {title}")
    w = max(len(r[0]) for r in rows)
    print(f"    {'':{w}}  {'before':>12} {'after':>12} {'change':>12} {'':>8}")
    for r in rows:
        print(f"    {r[0]:{w}}  {r[1]:>12} {r[2]:>12} {r[3]:>12} {r[4]:>8}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--all", action="store_true", help="print unchanged rows too")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    if not before or not after:
        sys.exit("no trace records found")
    for wl in sorted(set(before) | set(after)):
        b, f = before.get(wl, []), after.get(wl, [])
        print(f"{wl}: {len(b)} record(s) before, {len(f)} after")
        table("self time per span name (s per pass)",
              medians(b, self_times), medians(f, self_times), a.all)
        table("layer metrics (per pass)",
              medians(b, lambda r: r["layers"]), medians(f, lambda r: r["layers"]), a.all)


if __name__ == "__main__":
    main()
