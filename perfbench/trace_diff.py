#!/usr/bin/env python3
"""Flags changes in the exact counts between two traced runs.

    python3 perfbench/trace_diff.py <a.jsonl> <b.jsonl>

The inputs are trace files written by `run.py --trace 1`
(`.bench_build/traces/<workload>-seed<n>.jsonl`). For every query and pass
traced in both runs (a run traces pass 1 and every odd pass; how many
passes it makes depends on its speed), the exact counts must be equal:
jobs, stages, tasks, shuffle records and staging jobs. Shuffle bytes are
approximate (the same records can serialise to a different size) and are
reported, not flagged, when they differ by more than 1 %. Exits 1 if any
exact count differs, apart from the known non-repeaters below.
"""
import json
import sys

EXACT = ("jobs", "stages", "tasks", "shuffle_records", "staging_jobs")
BYTES = "shuffle_write_bytes"
# Queries whose counts differed between two passes of the same code in a
# traced probe of all 327 queries at sf0.1. The likely cause is AQE; it is
# not yet explained. None of them is in a workload today; they are listed
# so that a workload that adds them does not flag them.
KNOWN = {
    "q_agg_distinct_counts": "one job or a few tasks between passes",
    "q_margin_mining": "28 jobs in one pass, 27 in another",
    "q_sa_decontaminate": "one job or a few tasks between passes",
}


def load(path):
    out = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("span") == "layers" and r.get("ok"):
                out[(r["q"], r["pass"])] = r
    return out


def diff(a, b):
    """Returns (flagged, known, approx) lists of report lines."""
    flagged, known, approx = [], [], []
    for key in sorted(set(a) & set(b)):
        q, p = key
        ra, rb = a[key], b[key]
        for k in EXACT:
            if ra[k] != rb[k]:
                line = f"{q} pass {p}: {k} {ra[k]} -> {rb[k]}"
                (known if q in KNOWN else flagged).append(line)
        ba, bb = ra[BYTES], rb[BYTES]
        if abs(ba - bb) > 0.01 * max(ba, bb):
            approx.append(f"{q} pass {p}: {BYTES} {ba} -> {bb}")
    return flagged, known, approx


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, b = load(argv[1]), load(argv[2])
    flagged, known, approx = diff(a, b)
    print(f"compared: {len(set(a) & set(b))} query executions")
    for title, lines in (("changed", flagged), ("known non-repeaters", known),
                         ("shuffle bytes (approximate)", approx)):
        print(f"{title}: {len(lines)}")
        for line in lines:
            print(f"  {line}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
