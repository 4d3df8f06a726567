#!/usr/bin/env python3
"""Compare two oracle_sql.json files written by graft.Verify.

Usage: python3 tools/oracle_diff.py <old oracle_sql.json> <new oracle_sql.json>

Two oracles are the same when they are equal after every run of
whitespace is collapsed to one space (and leading/trailing whitespace
dropped), so re-indenting or re-wrapping an oracle string, or building
it from shared fragments, is not a difference. Prints each gate name
present on one side only and each gate whose oracle differs, then a
summary line. Exits 1 if there is any difference, 0 otherwise.
Standard library only.
"""
import json
import sys


def load(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def collapse(sql):
    return " ".join(sql.split())


def first_diff(a, b):
    """Short context around the first differing character of a and b."""
    i = next((k for k, (x, y) in enumerate(zip(a, b)) if x != y),
             min(len(a), len(b)))
    lo = max(0, i - 40)
    return a[lo:i + 40], b[lo:i + 40]


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    old, new = load(argv[1]), load(argv[2])
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    changed = sorted(k for k in set(old) & set(new)
                     if collapse(old[k]) != collapse(new[k]))
    for k in only_old:
        print(f"ONLY_OLD {k}")
    for k in only_new:
        print(f"ONLY_NEW {k}")
    for k in changed:
        a, b = first_diff(collapse(old[k]), collapse(new[k]))
        print(f"CHANGED {k}\n  old: ...{a}...\n  new: ...{b}...")
    n = len(only_old) + len(only_new) + len(changed)
    print(f"== {len(old)} old, {len(new)} new, {len(only_old)} only-old, "
          f"{len(only_new)} only-new, {len(changed)} changed ==")
    return 1 if n else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
