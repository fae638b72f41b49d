#!/usr/bin/env python3
"""Compare two benchmark outputs metric by metric.

    python3 perfbench/compare.py before.out after.out

Each file is the standard output of one `run.py` run (its last JSON line
is read). Every metric present in both is listed with both values and
their difference. Counters that the code alone determines -- jobs,
stages, tasks and py4j calls, per query or op type --
are marked `!` when they differ; the exit status is 1 if any does.
Codegen compiles are listed but not held to agree. Given
a traced and an untraced run of the same workload, the `traced.*` lines
against `ops_per_s` and `p50_geomean_ms` give the tracing overhead.
"""

from __future__ import annotations

import json
import sys

# counters held to agree; codegen compiles are listed but depend on how
# many rounds a window holds
COUNTER_MARKS = ("jobs", "stages", "tasks", "py4j_calls")


def result_line(path: str) -> dict:
    with open(path) as fh:
        lines = [ln for ln in fh if ln.startswith("{")]
    return json.loads(lines[-1])


def is_counter(name: str) -> bool:
    return any(m in name for m in COUNTER_MARKS) and not name.startswith("warm.")


def compare(a: dict, b: dict) -> tuple[list[str], bool]:
    """Report lines, and whether every counter agrees."""
    ma, mb = a["metrics"], b["metrics"]
    # a traced run's own throughput and latency, against the untraced run's
    alias = {"traced.ops_per_s": "ops_per_s", "traced.p50_geomean_ms": "p50_geomean_ms"}
    for src, dst in alias.items():
        if src in mb and dst in ma and src not in ma:
            mb = dict(mb, **{dst: mb[src]})
        if src in ma and dst in mb and src not in mb:
            ma = dict(ma, **{dst: ma[src]})
    lines, same = [], True
    for name in sorted(set(ma) & set(mb)):
        va, vb = ma[name]["value"], mb[name]["value"]
        mark = ""
        if is_counter(name) and va != vb:
            mark, same = "!", False
        rel = f"{(vb - va) / va:+.1%}" if va else ""
        lines.append(f"{mark:1} {name:44} {va:14.4f} {vb:14.4f} {vb - va:+14.4f} {rel}")
    lines.append(f"attempted {a['attempted']} / {b['attempted']}, failed {a['failed']} / {b['failed']}")
    lines.append("counters agree" if same else "counters differ (marked !)")
    return lines, same


def main(argv) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    lines, same = compare(result_line(argv[0]), result_line(argv[1]))
    print("\n".join(lines))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
