#!/usr/bin/env python3
"""Compare two sets of benchmark result files, workload by workload and
metric by metric, and name the layers that moved.

Usage:

    python3 perfbench/ledger_diff.py BEFORE AFTER

BEFORE and AFTER are each a result file written by perfbench/run.py, or a
directory of them (perfbench/.work/results/ holds one per run). Runs are
grouped by workload; untraced runs give the end-to-end metrics, traced runs
the per-layer ledger and the self time of each span kind. For every metric
the script prints both medians, the change, and the run-to-run spread: the
larger of the two sides' interquartile ranges, as a share of the BEFORE
median. A metric has moved when its medians differ by more than that
spread; with a single run on a side the spread is unknown and every change
counts. Each side's tracing overhead (traced total_s minus untraced total_s)
is printed too.
"""
import json
import statistics
import sys
from pathlib import Path


def load(arg):
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    runs = {}
    for f in files:
        r = json.loads(f.read_text())
        if "workload" in r and "metrics" in r:
            runs.setdefault(r["workload"], []).append(r)
    return runs


def values(runs):
    """metric -> list of values over `runs`, self times included."""
    out = {}
    for r in runs:
        for k, v in r["metrics"].items():
            out.setdefault(k, []).append(v)
        for k, v in r.get("self_s", {}).items():
            out.setdefault(f"self.{k}_s", []).append(v)
    return out


def spread(xs):
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def layer(metric):
    return metric.split(".")[0] if "." in metric else "end_to_end"


def overhead(runs):
    traced = [r["metrics"]["trace.total_s"] for r in runs if r["trace"]]
    plain = [r["metrics"]["total_s"] for r in runs if not r["trace"]]
    if traced and plain:
        return statistics.median(traced) - statistics.median(plain)
    return None


def diff(before, after):
    """Yield (workload, rows, moved layers, overheads); a row is (metric,
    before median, after median, change share, spread share, moved)."""
    for w in sorted(set(before) & set(after)):
        vb, va = values(before[w]), values(after[w])
        rows, moved = [], set()
        for m in sorted(set(vb) & set(va)):
            mb, ma = statistics.median(vb[m]), statistics.median(va[m])
            sp = max(spread(vb[m]), spread(va[m]))
            change = (ma - mb) / abs(mb) if mb else (0.0 if ma == mb else float("inf"))
            is_moved = abs(ma - mb) > sp and ma != mb
            if is_moved:
                moved.add(layer(m))
            rows.append((m, mb, ma, change, sp / abs(mb) if mb else 0.0, is_moved))
        yield w, rows, sorted(moved), (overhead(before[w]), overhead(after[w]))


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = load(argv[1]), load(argv[2])
    common = set(before) & set(after)
    if not common:
        print("no workload appears on both sides", file=sys.stderr)
        return 1
    for w, rows, moved, (ob, oa) in diff(before, after):
        print(f"== {w}  ({len(before[w])} runs before, {len(after[w])} after)")
        print(f"{'metric':40s} {'before':>12s} {'after':>12s} {'change':>8s} {'spread':>8s}")
        for m, mb, ma, ch, sp, mv in rows:
            print(f"{m:40s} {mb:12.4f} {ma:12.4f} {ch:+8.1%} {sp:8.1%}{'  moved' if mv else ''}")
        for side, o in (("before", ob), ("after", oa)):
            if o is not None:
                print(f"tracing overhead {side}: {o:+.3f} s per round")
        print("layers moved: " + (", ".join(moved) if moved else "none"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
