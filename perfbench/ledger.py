#!/usr/bin/env python3
"""Compare the per-layer ledgers of two benchmark runs.

    python3 perfbench/ledger.py A B

A and B are result records written by `perfbench/run.py --trace 1`
(under `.bench_build/results/<workload>/`), or directories of them; for a
directory the newest traced record of each workload is used, and the
two sides are compared workload by workload.

Wall times move with host noise; the deterministic counters below do
not. On the same seed the counts repeat exactly, so any move in one of
them is a real change in what the engine did. Shuffle bytes repeat up to
the compressor: rows can reach a shuffle in a different order (the
warehouse returns rows in the order parallel upserts left them), so
they are flagged beyond a 1% move. Each move is printed, and the exit
code is 1 if there is any. Wall-time metrics are printed for context
only.

Only timed operations are compared: the untimed warm-up operations run
cold, and adaptive execution then sometimes finishes query stages in
another order and plans a job more or less.
"""

import glob
import json
import os
import sys

COUNTS = ("spark.jobs", "spark.stages", "spark.tasks", "plan.exchanges",
          "Ingest.jobs", "TableStore.rows_written", "JdbcUpsertSink.rows_written")
BYTES = ("shuffle.read_bytes", "shuffle.write_bytes")
BYTES_TOLERANCE = 0.01


def moved(c, x, y):
    if c in BYTES:
        return abs(y - x) > BYTES_TOLERANCE * max(abs(x), abs(y))
    return x != y


def load(path):
    """{workload: record} for a record file or a results directory."""
    if os.path.isfile(path):
        with open(path) as fh:
            rec = json.load(fh)
        return {rec["workload"]: rec}
    newest = {}
    for f in glob.glob(os.path.join(path, "**", "*.json"), recursive=True):
        with open(f) as fh:
            rec = json.load(fh)
        if not rec.get("trace"):
            continue
        when = rec.get("context", {}).get("after", {}).get("time", 0)
        if rec["workload"] not in newest or when > newest[rec["workload"]][0]:
            newest[rec["workload"]] = (when, rec)
    return {w: r for w, (_, r) in newest.items()}


def op_key(op):
    return (op["kind"], op.get("index", op.get("pass")), op.get("name", ""))


def diff(a, b):
    """Lines describing every counter that moved between records a and b."""
    out = []
    if a["seed"] != b["seed"]:
        out.append(f"  seeds differ ({a['seed']} vs {b['seed']}): "
                   "per-operation counters are not comparable")
    ops_b = {op_key(op): op for op in b["ops"]}
    for op in a["ops"]:
        other = ops_b.get(op_key(op))
        if other is None or a["seed"] != b["seed"]:
            continue
        if not op.get("timed", True):
            continue
        for c in COUNTS + BYTES:
            x, y = op["counters"].get(c), other["counters"].get(c)
            if x is not None and y is not None and moved(c, x, y):
                where = " ".join(str(k) for k in op_key(op) if k != "")
                out.append(f"  {where}: {c} {x:g} -> {y:g}")
    for c in COUNTS + BYTES:
        x, y = a["layers"].get(c), b["layers"].get(c)
        if x is not None and y is not None and moved(c, x, y):
            out.append(f"  per-op mean: {c} {x:g} -> {y:g}")
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    left, right = load(sys.argv[1]), load(sys.argv[2])
    any_moved = False
    for w in sorted(set(left) | set(right)):
        if w not in left or w not in right:
            print(f"{w}: only in {'A' if w in left else 'B'}")
            continue
        a, b = left[w], right[w]
        lines = diff(a, b)
        any_moved = any_moved or bool(lines)
        print(f"{w} (seed {a['seed']} vs {b['seed']}): "
              f"{'counters moved' if lines else 'deterministic counters identical'}")
        if lines:
            print("\n".join(lines))
        for k in sorted(set(a["e2e"]) & set(b["e2e"])):
            x, y = a["e2e"][k], b["e2e"][k]
            rel = f" ({(y - x) / x:+.1%})" if x else ""
            print(f"  {k}: {x:.4g} -> {y:.4g}{rel}")
    sys.exit(1 if any_moved else 0)


if __name__ == "__main__":
    main()
