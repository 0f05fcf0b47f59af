#!/usr/bin/env python3
"""Compare two lakebench records metric by metric, and, for traced
records, each operation's job count:

    python3 lakebench/compare.py BASE.json NEW.json

Refuses (exit 2) when the records' identities differ in anything but the
program under test: two runs on other cores, heap, forcing, seed, inputs
or run length measure different things, and their ratio means nothing.
"""
import json
import sys

# Identity fields that must match; commit and source_digest name the
# program under test and may differ.
SAME = ("workload", "seed", "inputs_digest", "cores", "heap_mb", "forcing", "seconds",
        "trace", "spark", "java")


def identity_mismatch(a, b):
    return [k for k in SAME if a["identity"].get(k) != b["identity"].get(k)]


def compare(a, b):
    """Rows of (metric, unit, base, new, new/base)."""
    rows = []
    for name, m in a["end_to_end"].items():
        if name in b["end_to_end"]:
            base, new = m["value"], b["end_to_end"][name]["value"]
            rows.append((name, m["unit"], base, new, new / base if base else float("nan")))
    for name, base in a.get("per_layer", {}).items():
        new = b.get("per_layer", {}).get(name)
        if new is not None:
            rows.append((name, "", base, new, new / base if base else float("nan")))
    return rows


def main(argv):
    if len(argv) != 3:
        raise SystemExit(__doc__)
    with open(argv[1]) as f:
        a = json.load(f)
    with open(argv[2]) as f:
        b = json.load(f)
    bad = identity_mismatch(a, b)
    if bad:
        for k in bad:
            print(f"identity differs in {k}: {a['identity'].get(k)!r} vs {b['identity'].get(k)!r}",
                  file=sys.stderr)
        raise SystemExit(2)
    for name, unit, base, new, ratio in compare(a, b):
        print(f"{name:28s} {base:14.6g} {new:14.6g} {ratio:8.3f} {unit}")
    for op, base, new in op_jobs(a, b):
        print(f"jobs of {op:40s} {base:6d} {new:6d}")


def op_jobs(a, b):
    """(operation, base jobs, new jobs) for operations in both traced
    records."""
    ops_a, ops_b = a.get("ops", {}), b.get("ops", {})
    return [(op, ops_a[op]["jobs"], ops_b[op]["jobs"]) for op in sorted(ops_a) if op in ops_b]


if __name__ == "__main__":
    main(sys.argv)
