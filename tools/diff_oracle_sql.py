#!/usr/bin/env python3
"""Diff two oracle_sql.json dumps (the DuckDB twins graft.Verify writes).

    python3 tools/diff_oracle_sql.py OLD.json NEW.json

Lists the query keys only one side has, then every key whose SQL differs
once each run of whitespace is collapsed to one space (re-indenting or
re-wrapping a twin is not a difference; any other edit is). For a changed
key it prints both collapsed texts from the first differing character on.
Exits 1 on any difference, 0 when the two dumps agree.
"""
import json
import re
import sys


def collapse(sql):
    return re.sub(r"\s+", " ", sql).strip()


def first_diff(a, b):
    n = min(len(a), len(b))
    return next((i for i in range(n) if a[i] != b[i]), n)


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        old = json.load(f)
    with open(argv[2]) as f:
        new = json.load(f)
    removed = sorted(old.keys() - new.keys())
    added = sorted(new.keys() - old.keys())
    changed = sorted(k for k in old.keys() & new.keys()
                     if collapse(old[k]) != collapse(new[k]))
    for k in removed:
        print(f"removed  {k}")
    for k in added:
        print(f"added    {k}")
    for k in changed:
        a, b = collapse(old[k]), collapse(new[k])
        i = max(0, first_diff(a, b) - 40)
        print(f"changed  {k}\n  old: ...{a[i:i + 240]}\n  new: ...{b[i:i + 240]}")
    print(f"{len(old)} -> {len(new)} keys: {len(removed)} removed, "
          f"{len(added)} added, {len(changed)} changed", file=sys.stderr)
    return 1 if removed or added or changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
