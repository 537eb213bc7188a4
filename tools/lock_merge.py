#!/usr/bin/env python3
"""MIN-merge a bench run into a lock resource.

Usage: tools/lock_merge.py <bench_out> <lock_json> [--add-only]

Reads the LAST parseable {"metric": ...} line of <bench_out>, then for
every query in the run: if the lock has no entry, ADD the reading; if
the reading is LOWER than the lock entry, tighten it. Never loosens an
existing minimum (the r18 min-merge discipline). calib_total is
likewise min-merged from the run's calibration sum. --add-only adds
missing entries without tightening existing ones or calib_total.
"""
import json
import sys


def main() -> int:
    bench_out, lock_path = sys.argv[1], sys.argv[2]
    add_only = "--add-only" in sys.argv[3:]
    rec = None
    for line in open(bench_out):
        line = line.strip()
        if line.startswith("{") and '"metric"' in line:
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            if "queries" in d:
                rec = d
    if rec is None:
        print("no parseable bench record in", bench_out)
        return 1
    lock = json.load(open(lock_path))
    qs = lock["queries"]
    calib = sum(rec.get("calibration", {}).values())
    changed = []
    for q, v in rec["queries"].items():
        if q not in qs:
            qs[q] = round(v, 3)
            changed.append(f"ADD {q} = {v:.3f}")
        elif not add_only and v < qs[q]:
            changed.append(f"TIGHTEN {q} {qs[q]:.3f} -> {v:.3f}")
            qs[q] = round(v, 3)
    if (not add_only and calib > 0
            and calib < lock.get("calib_total", float("inf"))):
        changed.append(
            f"calib_total {lock.get('calib_total')} -> {calib:.3f}")
        lock["calib_total"] = round(calib, 3)
    lock["queries"] = dict(sorted(qs.items()))
    with open(lock_path, "w") as f:
        json.dump(lock, f, indent=1, sort_keys=False)
        f.write("\n")
    print(f"{len(changed)} changes to {lock_path}:")
    for c in changed:
        print(" ", c)
    return 0


if __name__ == "__main__":
    sys.exit(main())
