#!/usr/bin/env python3
"""Regression report from traced artifacts alone.

    python3 perfbench/report.py [artifact.json ...]

With no arguments it reads every artifact under .bench_build/trace/. For the
lake DML cluster (q104, q106-q114, q119) it prints, per op execution, the
wall time, driver gap, jobs and lake filesystem counts; for the similarity
ops pinned to core count (d02, d09, d17) it prints the jobs run while the
frame was built (before the action) and the exchanges in the final plans.
"""
import glob
import json
import os
import sys

LAKE_CLUSTER = ["q104", "q106", "q107", "q108", "q109", "q110", "q111",
                "q112", "q113", "q114", "q119"]
PINNED = ["d02", "d09", "d17"]
LAKE_COLS = [("wall_ms", "wall"), ("execution.driver_gap_ms", "gap"),
             ("build_self_ms", "bself"), ("execution.jobs", "jobs"),
             ("entry.build_jobs", "bjobs"),
             ("sources.manifests_read", "mread"), ("sources.open", "open"),
             ("sources.list_status", "list"), ("sources.get_file_status", "stat"),
             ("sources.create", "create"), ("sources.rename", "rename"),
             ("sources.delete", "delete"), ("sources.commits", "commit"),
             ("sources.files_created", "files")]
PINNED_COLS = [("wall_ms", "wall"), ("entry.build_ms", "build"),
               ("entry.build_jobs", "bjobs"), ("execution.jobs", "jobs"),
               ("planning.exchanges", "exch"), ("execution.task_skew", "skew")]


def short(op):
    return op.split("_", 1)[0]


def table(title, per_op, ids, cols):
    rows = [(short(op), m) for op, m in per_op.items() if short(op) in ids]
    if not rows:
        return
    print(title)
    print(f"{'op':6s}" + "".join(f"{h:>9s}" for _, h in cols))
    for sid, m in sorted(rows, key=lambda r: ids.index(r[0])):
        print(f"{sid:6s}" + "".join(f"{m.get(k, 0):9.1f}" for k, _ in cols))
    tot = {k: sum(m.get(k, 0) for _, m in rows) for k, _ in cols}
    print(f"{'sum':6s}" + "".join(f"{tot[k]:9.1f}" for k, _ in cols))
    if tot.get("wall_ms") and "execution.driver_gap_ms" in tot:
        gap = tot.get("execution.driver_gap_ms", 0)
        print(f"driver gap share of wall time: {gap / tot['wall_ms']:.2f}")
    print()


def main():
    paths = sys.argv[1:] or sorted(glob.glob(os.path.join(".bench_build", "trace", "*.json")))
    if not paths:
        sys.exit("no trace artifacts: run perfbench/run.py with --trace 1 first")
    for path in paths:
        with open(path) as f:
            a = json.load(f)
        print(f"== {path}: workload {a['workload']}, seed {a['seed']}, "
              f"{a['cores']} cores; values are means per op execution (ms, counts)")
        over = a.get("tracing_overhead")
        if over:
            print(f"tracing overhead: traced pass_s {over['traced_pass_s']:.3f} / "
                  f"untraced {over['untraced_pass_s']:.3f} = {over['ratio']:.3f}")
        table("lake DML cluster", a["per_op"], LAKE_CLUSTER, LAKE_COLS)
        table("similarity ops with core-count pins", a["per_op"], PINNED, PINNED_COLS)


if __name__ == "__main__":
    main()
