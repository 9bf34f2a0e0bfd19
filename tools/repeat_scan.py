#!/usr/bin/env python3
"""Count the lines of the main Scala sources that sit in a repeated block.

Each line of src/main/scala/graft/**/*.scala is trimmed and its
whitespace collapsed. A 6-line window counts as a repeat when the same
window occurs at least twice across those files; windows under 150
characters, windows whose first line is blank, `}`, `)` or `\"\"\"`, and
windows whose first line starts with `package` or `import` (file headers)
are skipped. The result is the number of lines covered by a repeat.

    python3 tools/repeat_scan.py [REPO_DIR] [--list]

`--list` also prints each repeated window's locations (file:line, the
file relative to src/main/scala/graft).
"""
import collections
import glob
import os
import re
import sys

WINDOW = 6
MIN_CHARS = 150
SKIP_FIRST = {"", "}", ")", '"""'}
SKIP_PREFIX = ("package ", "import ")


def scan(repo):
    root = os.path.join(repo, "src/main/scala/graft")
    files = sorted(glob.glob(os.path.join(root, "**/*.scala"), recursive=True))
    windows = collections.defaultdict(list)
    for f in files:
        with open(f) as fh:
            lines = [re.sub(r"\s+", " ", l.strip()) for l in fh]
        for i in range(len(lines) - WINDOW + 1):
            w = lines[i:i + WINDOW]
            if (w[0] in SKIP_FIRST or w[0].startswith(SKIP_PREFIX)
                    or sum(len(x) for x in w) < MIN_CHARS):
                continue
            windows["\n".join(w)].append((os.path.relpath(f, root), i + 1))
    return {k: v for k, v in windows.items() if len(v) >= 2}


def main(argv):
    args = [a for a in argv if a != "--list"]
    repeats = scan(args[0] if args else ".")
    covered = {(f, i + j) for locs in repeats.values() for f, i in locs
               for j in range(WINDOW)}
    if "--list" in argv:
        for locs in sorted(repeats.values()):
            print(" | ".join(f"{f}:{i}" for f, i in locs))
    print(len(covered))


if __name__ == "__main__":
    main(sys.argv[1:])
