#!/usr/bin/env python3
"""Regenerate BASELINE.md's lake-DML budget table from two LakeOpsBench
JSON lines (the tool's final stdout line), and optionally CHECK a fresh
capture against recorded budgets — the same capture-time programmatic
discipline the catalog table has via budget_table.py.

Usage:
    python3 tools/lake_budget.py run1.json run2.json          # emit table
    python3 tools/lake_budget.py --check fresh.json           # verify

--check parses the budget table out of BASELINE.md's "Lake DML budget
table" section and exits non-zero if any arm in fresh.json exceeds its
recorded 2x budget.

Lines may carry a "jobs" object (Spark jobs per arm); the table and the
check read "arms" only, so lines with and without it both parse."""
import json
import re
import sys


def load(path):
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{") and '"lake_ops"' in line:
                return json.loads(line)
    raise SystemExit(f"no lake_ops JSON line in {path}")


def emit(p1, p2):
    r1, r2 = load(p1), load(p2)
    for k in ("rows", "files", "keys", "stats"):
        assert r1[k] == r2[k], (k, r1[k], r2[k])
    a1, a2 = r1["arms"], r2["arms"]
    assert set(a1) == set(a2), set(a1) ^ set(a2)
    print(f"dial: {r1['rows']:,} rows x {r1['files']} files, "
          f"{r1['keys']}-key changesets, stats={r1['stats']}")
    print()
    print("| arm | run1 (s) | run2 (s) | budget (2x max) |")
    print("|---|---|---|---|")
    for k in a1:  # LakeOpsBench emits arms in execution order
        a, b = a1[k], a2[k]
        # 0.25 s absolute floor: a metadata-only arm (copy_into_noop,
        # evolve_*) can land in single-digit milliseconds, where a 2x
        # multiplicative budget is inside scheduler jitter
        bud = max(2 * max(a, b), 0.25)
        print(f"| {k} | {a:.2f} | {b:.2f} | {bud:.2f} |")


def check(fresh_path, baseline="BASELINE.md"):
    fresh = load(fresh_path)["arms"]
    text = open(baseline).read()
    sect = text.split("## Lake DML budget table", 1)
    if len(sect) < 2:
        raise SystemExit("BASELINE.md has no 'Lake DML budget table' section")
    body = re.split(r"^#", sect[1], maxsplit=1, flags=re.M)[0]  # this section only
    budgets = {}
    for m in re.finditer(r"^\| (\w+) \| [\d.]+ \| [\d.]+ \| ([\d.]+) \|",
                         body, re.M):
        budgets[m.group(1)] = float(m.group(2))
    if not budgets:
        raise SystemExit("no budget rows parsed")
    over = {k: (v, budgets[k]) for k, v in fresh.items()
            if k in budgets and v > budgets[k]}
    missing = sorted(set(budgets) - set(fresh))
    print(f"checked {len(set(fresh) & set(budgets))} arms against budgets")
    if missing:
        print(f"WARNING: arms in budget table absent from capture: {missing}")
    if over:
        for k, (v, b) in sorted(over.items()):
            print(f"OVER BUDGET: {k} = {v:.2f}s > {b:.2f}s")
        raise SystemExit(1)
    print("all arms within budget")


if __name__ == "__main__":
    if sys.argv[1] == "--check":
        check(sys.argv[2])
    else:
        emit(sys.argv[1], sys.argv[2])
