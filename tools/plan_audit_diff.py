#!/usr/bin/env python3
"""Compare two PlanAudit outputs field by field.

Usage: python3 tools/plan_audit_diff.py <a.txt> <b.txt>

Reads the `[plan] <query> field=value ...` lines of each file (other lines
are ignored), keys them by query, and prints one tab-separated
`query field a b` line per field whose value differs, then a summary line
with the count of identical rows. The scan maps (`scans`, `auxscans`,
`strigscans`) compare as maps, so two listings of equal counts in another
order agree. A FAILED row compares as its single `FAILED` field. Exits 1 if
a query is missing from either side, 0 otherwise.
"""
import re
import sys

SCAN_FIELDS = ("scans", "auxscans", "strigscans")


def rows(path):
    """query -> {field: value} for every [plan] line of one audit file."""
    out = {}
    with open(path) as f:
        for line in f:
            m = re.match(r"\[plan\] (\S+)\s+(.*)$", line.rstrip("\n"))
            if not m:
                continue
            name, rest = m.groups()
            if rest.startswith("FAILED"):
                out[name] = {"FAILED": rest}
                continue
            fields = dict(kv.split("=", 1) for kv in rest.split())
            for k in SCAN_FIELDS:
                if k in fields:
                    fields[k] = ",".join(sorted(filter(None, fields[k].split(","))))
            out[name] = fields
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = rows(argv[1]), rows(argv[2])
    missing = same = 0
    for name in sorted(set(a) | set(b)):
        if name not in b:
            print(f"MISSING in {argv[2]}: {name}")
            missing += 1
            continue
        if name not in a:
            print(f"MISSING in {argv[1]}: {name}")
            missing += 1
            continue
        diffs = [(k, a[name].get(k, ""), b[name].get(k, ""))
                 for k in sorted(set(a[name]) | set(b[name]))
                 if a[name].get(k) != b[name].get(k)]
        for k, va, vb in diffs:
            print(f"{name}\t{k}\t{va}\t{vb}")
        same += not diffs
    print(f"{len(set(a) | set(b))} queries: {same} identical, "
          f"{len(set(a) & set(b)) - same} differ, {missing} missing")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
