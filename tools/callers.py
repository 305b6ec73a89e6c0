#!/usr/bin/env python3
"""List the engine members that nothing calls.

Scans the members of the top-level objects in `ops/`, `streaming/`, `io/`
and `pipeline/` (under src/main/scala/graft) and marks a member as called
when its name is referenced

  - from any other src/main file outside those four directories, or from
    a perfbench/src file (the roots), or
  - from the body of a member that is itself called, in the same file or
    in another scanned file (so the scan is transitive, to a fixpoint).

Comments are stripped before the scan, and `import` lines do not count as
references. A name is matched as a whole identifier, so overloads share
one entry and a common name (`run`, `apply`) may be marked called by an
unrelated reference: the scan can miss dead code, never flag live code.
A top-level class (the Hadoop file systems in io/LocalFs) is one member
whose body is the whole class, so its overrides live and die with it.

Prints every member that is not called. Members on ALLOWLIST, kept on
purpose, are printed with their reason. Exit 1 when any other member is
not called, or when an ALLOWLIST name is called after all (a stale entry).

Usage: python3 tools/callers.py [repo_root]   (default: this script's repo)
"""
import os
import re
import sys

SCANNED = ("ops", "streaming", "io", "pipeline")

# Spec oracles: a test compares a live kernel against each of them, so
# they have no caller in src/main by design.
ALLOWLIST = {
    "MaskingOps.mlmMask":
        "spec oracle: the MLM-mask specs check the fused Md5/Xxh kernels against it",
    "MultimodalOps.averageHash":
        "spec oracle: MultimodalOpsSpec checks the fused AverageHashHalves against it",
    "MultimodalOps.bundleSchema":
        "spec oracle: MultimodalOpsSpec checks the bundle's schema against it",
    "DedupOps.hashedNgramSet":
        "spec oracle: ShingleHashes64Spec checks the fused shingle-hash set against it",
    "DedupOps.cdcChunksComposable":
        "spec oracle: DedupOpsSpec checks the fused cdcChunks against it",
    "DedupOps.minHashCandidates":
        "spec oracle: DedupOpsSpec checks minHashDedup's candidate pairs against it",
    "TextAnalysis.minShingleFingerprintComposable":
        "spec oracle: MinShingleMd5Spec checks the fused kernel against it",
    "SimilarityOps.composableBandSigs":
        "spec oracle: HyperplaneBandSigsSpec checks the fused kernel against it",
    "SketchOps.hllEstimate":
        "spec oracle: SketchOpsSpec checks the HLL registers' estimate with it",
    "Sources.readJsonlWithQuarantine":
        "QuarantineSpec pins the JSONL quarantine contract the annotation read is to adopt",
}

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
MEMBER = re.compile(
    r"^  (?:@\w+(?:\([^)]*\))?\s+)*"
    r"((?:(?:private|protected)(?:\[\w+\])?|final|implicit|lazy|override|sealed|abstract|case)\s+)*"
    r"(def|val|var|object|class|trait|type)\s+([A-Za-z_][A-Za-z0-9_]*)")
TOP = re.compile(
    r"^((?:(?:private|protected)(?:\[\w+\])?|final|sealed|abstract|case)\s+)*"
    r"(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")


def strip_comments(src):
    """Blank out // and (nested) /* */ comments, keeping newlines and
    string literals, so line numbers still hold."""
    out, i, n, depth = [], 0, len(src), 0
    while i < n:
        if depth:
            if src.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif src.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                out.append("\n" if src[i] == "\n" else " ")
                i += 1
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2)  # char literal such as '"' or '\n'
            out.append(src[i:j + 1])
            i = j + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        lines = strip_comments(f.read()).split("\n")
    return ["" if l.lstrip().startswith("import ") else l for l in lines]


def indent(line):
    return len(line) - len(line.lstrip(" "))


def is_private(mods):
    # `private[pkg]` is visible to the package, so only bare `private` hides
    return bool(mods and re.search(r"\bprivate\b(?!\[)", mods))


def members(lines):
    """(owner, name, private, body line range) for each member; lines in
    no member body are returned as the file's own root text."""
    found, owner, starts = [], None, []
    for i, line in enumerate(lines):
        top = TOP.match(line)
        if top:
            if top.group(2) == "object":
                owner = top.group(3)
            else:  # a top-level class is one member, body and all
                starts.append((i, top.group(3), top.group(3), is_private(top.group(1))))
            continue
        m = MEMBER.match(line) if owner else None
        if m:
            starts.append((i, owner, m.group(3), is_private(m.group(1))))
    for k, (i, own, name, private) in enumerate(starts):
        level = indent(lines[i])
        end = starts[k + 1][0] if k + 1 < len(starts) else len(lines)
        j = i + 1
        while j < end and (not lines[j].strip() or indent(lines[j]) > level
                           or (indent(lines[j]) == level and lines[j].strip()[0] in "})")):
            j += 1
        found.append((own, name, private, range(i, j)))
    body = set(i for *_, r in found for i in r)
    free = [l for i, l in enumerate(lines) if i not in body]
    return found, free


def scan(root):
    main = os.path.join(root, "src", "main", "scala", "graft")
    nodes, roots = {}, set()   # (file, name) -> [owner, private, identifiers]
    for d, _, files in os.walk(main):
        for f in files:
            if not f.endswith(".scala"):
                continue
            path = os.path.join(d, f)
            lines = code_lines(path)
            if os.path.relpath(d, main).split(os.sep)[0] not in SCANNED:
                roots.update(IDENT.findall("\n".join(lines)))
                continue
            found, free = members(lines)
            roots.update(IDENT.findall("\n".join(free)))
            for owner, name, private, rng in found:
                node = nodes.setdefault((path, name), [owner, True, set()])
                node[1] = node[1] and private
                node[2].update(IDENT.findall("\n".join(lines[i] for i in rng)))
                node[2].discard(name)
    for d, _, files in os.walk(os.path.join(root, "perfbench", "src")):
        for f in files:
            if f.endswith(".scala"):
                roots.update(IDENT.findall("\n".join(code_lines(os.path.join(d, f)))))
    by_name = {}
    for key in nodes:
        by_name.setdefault(key[1], []).append(key)
    label = {k: "%s.%s" % (nodes[k][0], k[1]) for k in nodes}
    live = reach(nodes, by_name, [k for k in nodes if k[1] in roots and not nodes[k][1]])
    kept = reach(nodes, by_name, list(live) + [k for k in nodes if label[k] in ALLOWLIST])
    uncalled = {label[k]: (os.path.relpath(k[0], root), k in kept) for k in nodes if k not in live}
    return uncalled, {label[k] for k in live}


def reach(nodes, by_name, todo):
    called = set()
    while todo:
        key = todo.pop()
        if key in called:
            continue
        called.add(key)
        for ident in nodes[key][2]:
            for other in by_name.get(ident, ()):
                # a private member is reachable only from its own file
                if other not in called and (other[0] == key[0] or not nodes[other][1]):
                    todo.append(other)
    return called


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    uncalled, live = scan(root)
    bad = 0
    for name in sorted(uncalled, key=lambda n: (uncalled[n][1], n in ALLOWLIST, n)):
        path, kept = uncalled[name]
        if name in ALLOWLIST:
            print("kept     %-46s %s" % (name, ALLOWLIST[name]))
        elif kept:
            print("kept     %-46s called only by an allowlisted member" % name)
        else:
            bad += 1
            print("uncalled %-46s %s" % (name, path))
    stale = sorted(n for n in ALLOWLIST if n in live)
    for name in stale:
        print("stale    %-46s called now; drop it from ALLOWLIST" % name)
    print("%d uncalled, %d kept on purpose, %d stale allowlist entries"
          % (bad, len(uncalled) - bad, len(stale)))
    sys.exit(1 if bad or stale else 0)


if __name__ == "__main__":
    main()
