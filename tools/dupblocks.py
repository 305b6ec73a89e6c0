#!/usr/bin/env python3
"""Report code that repeats an earlier block line for line.

Scans every .scala file under src/main/scala/graft: the registry
(queries/*.scala) first, then the Bench sweep (Bench.scala), then every
other file in path order. Comments are stripped (callers.strip_comments)
and so is each line's surrounding whitespace, so a block copied at
another indentation, or with its own end-of-line comments, still
matches. `import` lines are blanked (callers.code_lines): no shared
definition can replace an import block, so imports never form a copy.

A run is RUN or more consecutive lines, none of them SHORT characters or
shorter (a lone `}` or `)` ends a run), that equals an earlier run in
these files exactly. Every line of every such copy is reported; an
overlap of copies counts each line once. The cure is one definition
(a `val`, `def` or SQL fragment) that each copy calls.

Exit 1 when a copy is not covered by an ALLOWLIST entry, or when an
ALLOWLIST entry covers nothing (a stale entry).

Usage: python3 tools/dupblocks.py [repo_root]   (default: this script's repo)
"""
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from callers import code_lines  # noqa: E402

RUN = 6
SHORT = 3

# Copies kept on purpose: (file name, a stripped line of the copy) ->
# reason. An entry covers every reported run in that file that
# contains the line.
ALLOWLIST = {
    ("StatsOps.scala", "exact: Boolean = true,"):
        "poissonBootstrapCI and poissonBootstrapCIByGroup: two public signatures"
        " with the same defaults and argument checks; one parameter object would"
        " change both signatures",
}


def files(root):
    graft = os.path.join(root, "src", "main", "scala", "graft")
    first = sorted(glob.glob(os.path.join(graft, "queries", "*.scala"))) + \
        [os.path.join(graft, "Bench.scala")]
    rest = sorted(glob.glob(os.path.join(graft, "**", "*.scala"), recursive=True))
    return [p for p in first if os.path.exists(p)] + [p for p in rest if p not in first]


def scan(root):
    """[(path, first line, last line, origin path, origin line, lines)]
    for each run of copied lines, 1-based and in file order."""
    seen, runs = {}, []
    for path in files(root):
        lines = [l.strip() for l in code_lines(path)]
        copied = {}   # line index -> origin of the window that copied it
        for i in range(len(lines) - RUN + 1):
            window = tuple(lines[i:i + RUN])
            if any(len(l) <= SHORT for l in window):
                continue
            if window in seen:
                for k in range(i, i + RUN):
                    copied.setdefault(k, (seen[window], k - i))
            else:
                seen[window] = (path, i)
        start = None
        for k in sorted(copied) + [None]:
            if start is not None and (k is None or k != end + 1):
                (opath, oline), off = copied[start]
                runs.append((path, start + 1, end + 1, opath, oline + off + 1,
                             lines[start:end + 1]))
                start = None
            if k is not None:
                if start is None:
                    start = k
                end = k
    return runs


def covering(path, text):
    return [key for key in ALLOWLIST
            if key[0] == os.path.basename(path) and key[1] in text]


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    runs = scan(root)
    bad, used, per_file = 0, set(), {}
    for path, first, last, opath, oline, text in runs:
        rel = os.path.relpath(path, root)
        per_file[rel] = per_file.get(rel, 0) + last - first + 1
        keys = covering(path, text)
        used.update(keys)
        where = "%s:%d-%d copies %s:%d" % (rel, first, last, os.path.relpath(opath, root), oline)
        if keys:
            print("kept     %-60s %s" % (where, ALLOWLIST[keys[0]]))
        else:
            bad += 1
            print("copy     %s" % where)
    stale = sorted(set(ALLOWLIST) - used)
    for key in stale:
        print("stale    %s: %r covers no copy; drop it from ALLOWLIST" % key)
    print("%d copied lines in %d runs (%s), %d not allowlisted, %d stale allowlist entries"
          % (sum(per_file.values()), len(runs),
             ", ".join("%s %d" % (os.path.basename(p), n) for p, n in sorted(per_file.items())) or "none",
             bad, len(stale)))
    sys.exit(1 if bad or stale else 0)


if __name__ == "__main__":
    main()
