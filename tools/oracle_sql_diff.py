#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (written by graft.Verify) token by token.

Usage: python3 tools/oracle_sql_diff.py <parent.json> <change.json>

Each query's SQL is split with duckdb.tokenize; two strings agree when they
yield the same token texts in the same order, so whitespace and line breaks
may differ but nothing DuckDB parses may. Prints every name whose tokens
differ or that is missing from one side, then a summary line. Exits 1 if
any name differs or is missing, 0 otherwise.
"""
import json
import sys

import duckdb


def token_texts(sql):
    """The text of each token duckdb.tokenize finds, in order. tokenize
    returns (offset, type) pairs, so a token runs from its offset to the
    next token's offset, less the whitespace between them."""
    starts = [off for off, _ in duckdb.tokenize(sql)]
    ends = starts[1:] + [len(sql)]
    return [sql[a:b].strip() for a, b in zip(starts, ends)]


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        parent = json.load(f)
    with open(argv[2]) as f:
        change = json.load(f)
    bad = 0
    for name in sorted(set(parent) | set(change)):
        if name not in change:
            print(f"MISSING in change: {name}")
        elif name not in parent:
            print(f"MISSING in parent: {name}")
        else:
            a, b = token_texts(parent[name]), token_texts(change[name])
            if a == b:
                continue
            i = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                     min(len(a), len(b)))
            print(f"DIFF {name}: token {i}: "
                  f"{' '.join(a[i:i + 6])!r} vs {' '.join(b[i:i + 6])!r}")
        bad += 1
    same_bytes = sum(1 for n in parent if change.get(n) == parent[n])
    print(f"{len(set(parent) | set(change))} names, {bad} differ, "
          f"{same_bytes} byte-identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
