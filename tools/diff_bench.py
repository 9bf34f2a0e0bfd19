#!/usr/bin/env python3
"""Diff two bench_full_latest.json artifacts (what graft.Bench writes).

    python3 tools/diff_bench.py OLD.json NEW.json

Lists the queries only one run timed, then every query whose Spark work
counts in "metrics" differ (jobs, stages, tasks, shuffle read/write and
spill bytes, each an average per timed run), old -> new, exactly as
recorded. Then one line per query both runs timed: the new/old ratio of
its kept time ("full_queries", the min of the timed runs) and of the
median of the same runs ("medians"). Times are for reading only: a ratio
from one run per side is within noise unless repeated. Exits 1 when a
query is on one side only or any count differs, 0 otherwise.
"""
import json
import math
import sys

COUNTS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes")


def fmt(v):
    return f"{v:g}" if v is not None else "-"


def timing(old, new):
    """The text "old -> new s (xratio)" and the ratio, None without one."""
    if old is None or new is None:
        return f"{fmt(old)} -> {fmt(new)} s", None
    r = new / old if old else None
    return f"{old:.3f} -> {new:.3f} s (x{fmt(r and round(r, 3))})", r


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        old = json.load(f)
    with open(argv[2]) as f:
        new = json.load(f)
    ot, nt = old["full_queries"], new["full_queries"]
    removed = sorted(ot.keys() - nt.keys())
    added = sorted(nt.keys() - ot.keys())
    common = sorted(ot.keys() & nt.keys())
    for q in removed:
        print(f"old only  {q}")
    for q in added:
        print(f"new only  {q}")

    changed = 0
    for q in common:
        om, nm = old["metrics"].get(q, {}), new["metrics"].get(q, {})
        diffs = [f"{k} {fmt(om.get(k))} -> {fmt(nm.get(k))}"
                 for k in COUNTS if om.get(k) != nm.get(k)]
        if diffs:
            changed += 1
            print(f"counts    {q}: " + ", ".join(diffs))

    logs = {"min": [], "median": []}
    for q in common:
        line = []
        for key, o, n in (("min", ot[q], nt[q]),
                          ("median", old["medians"].get(q),
                           new["medians"].get(q))):
            text, r = timing(o, n)
            line.append(f"{key} {text}")
            if r:
                logs[key].append(math.log(r))
        print(f"time      {q}: " + ", ".join(line))

    geo = {k: math.exp(sum(v) / len(v)) if v else float("nan")
           for k, v in logs.items()}
    print(f"{len(ot)} -> {len(nt)} queries: {len(removed)} old only, "
          f"{len(added)} new only, {changed} with changed counts; "
          f"geometric-mean time ratio min x{geo['min']:.3f}, "
          f"median x{geo['median']:.3f}", file=sys.stderr)
    return 1 if removed or added or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
