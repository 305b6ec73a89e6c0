#!/usr/bin/env python3
"""List the engine members that nothing calls.

The entry files (ENTRY, under src/main/scala/graft, and every
perfbench/src file) are the roots: the programs a user or the benchmark
launches. Every other src/main/scala/graft file is scanned: a member of
one of its top-level objects is called when its name is referenced

  - from an entry file, or
  - from the body of a member that is itself called, in the same file or
    in another scanned file (so the scan is transitive, to a fixpoint).

Comments are stripped before the scan, and `import` lines do not count as
references. The identifier `main` never counts either: the JVM launcher
calls a `main`, no code does, so a scanned object's `main` is uncalled
and only an entry file's `main` runs. A name is matched as a whole
identifier, so overloads share one entry and a common name (`run`,
`apply`) may be marked called by an unrelated reference: the scan can
miss dead code, never flag live code. A top-level class (the Hadoop file
systems in io/LocalFs, an Expression in functions/) is one member whose
body is the whole class, so its overrides live and die with it.

Prints every member that is not called. Members on ALLOWLIST, kept on
purpose, are printed with their reason. Exit 1 when any other member is
not called, or when an ALLOWLIST name is called after all (a stale entry).

A second pass covers every default parameter of a scanned public member
(a def, or a class's constructor). A parameter is set when a call site in
src/main, perfbench/src or src/test passes it a value whose text differs
from the default's, by name or by position; a call is any `name(` of the
member's name, qualified or not, so calls inside the same object count
and overloads share their call sites. Passing an enclosing member's own
parameter through is a value other than the default's text, so it counts
as set: the pass can miss a removable parameter, never flag a live one.
A parameter that is never set is one value in use and belongs in the
body as a constant. Column bindings (names ending in `Col` or `Cols`) and
PARAM_ALLOWLIST entries stay parameters. Prints the number of default
parameters and every one that is never set; exit 1 on any that is not
exempt, or on a PARAM_ALLOWLIST entry that is set now (a stale entry).

Usage: python3 tools/callers.py [repo_root]   (default: this script's repo)
"""
import fnmatch
import os
import re
import sys

# The entry files, relative to src/main/scala/graft: each has a `main`
# that is run (the driver contract, the plan dump the verify skill runs,
# the scale-point generator) or is the registry those mains read.
ENTRY = ("SparkEntry.scala", "Verify.scala", "Bench.scala", "queries/*.scala",
         "tools/Explain.scala", "tools/ScaleGen.scala")

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

# Default parameters that no call sets but that stay parameters, each
# with its reason; keys are "Owner.member.param".
PARAM_ALLOWLIST = {
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


def sources(root):
    """(path, is entry) for each .scala file under src/main/scala/graft."""
    main = os.path.join(root, "src", "main", "scala", "graft")
    for d, _, files in os.walk(main):
        for f in sorted(files):
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                rel = os.path.relpath(path, main).replace(os.sep, "/")
                yield path, any(fnmatch.fnmatch(rel, e) for e in ENTRY)


def scan(root):
    nodes, roots = {}, set()   # (file, name) -> [owner, private, identifiers]
    for path, entry in sources(root):
        lines = code_lines(path)
        if entry:
            roots.update(IDENT.findall("\n".join(lines)))
            continue
        found, free = members(lines)
        roots.update(IDENT.findall("\n".join(free)))
        for owner, name, private, rng in found:
            node = nodes.setdefault((path, name), [owner, True, set()])
            node[1] = node[1] and private
            node[2].update(IDENT.findall("\n".join(lines[i] for i in rng)))
            node[2].difference_update((name, "main"))
    for d, _, files in os.walk(os.path.join(root, "perfbench", "src")):
        for f in files:
            if f.endswith(".scala"):
                roots.update(IDENT.findall("\n".join(code_lines(os.path.join(d, f)))))
    roots.discard("main")
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


def code(text, i=0):
    """(index, char) for each char of text from i on that lies outside a
    string or char literal."""
    n = len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            i = n if j < 0 else j + 3
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            i = j + 1
        elif text[i] == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            j = text.find("'", i + 2)
            i = n if j < 0 else j + 1
        else:
            yield i, text[i]
            i += 1


def closing(text, i):
    """Index just past the bracket that closes the one at text[i]."""
    depth = 0
    for j, c in code(text, i):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
            if not depth:
                return j + 1
    return len(text)


def split_top(text):
    """The comma-separated items of an argument or parameter list."""
    items, depth, last = [], 0, 0
    for j, c in code(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and not depth:
            items.append(text[last:j])
            last = j + 1
    items.append(text[last:])
    return [t.strip() for t in items if t.strip()]


def assign_at(text):
    """Index of the `=` outside brackets that is not part of `=>`, `==`,
    `<=`, `>=` or `!=`; -1 when there is none."""
    depth = 0
    for j, c in code(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif (c == "=" and not depth and text[j + 1:j + 2] not in ("=", ">")
              and text[j - 1:j] not in ("=", "!", "<", ">")):
            return j
    return -1


def squash(text):
    return " ".join(text.split())


DECL = re.compile(r"\b(?:def|class)\s+([A-Za-z_][A-Za-z0-9_]*)")
CALL = re.compile(r"(?<![A-Za-z0-9_$])([A-Za-z_][A-Za-z0-9_]*)(?:\[[^\]()]*\])?\(")
MODIFIER = re.compile(r"^(?:@\w+(?:\([^)]*\))?\s+|(?:implicit|val|var|override|final)\s+)*")


def param_lists(text, i):
    """[[(name, default text or None)]] of the declaration whose name
    ends at text[i]."""
    lists = []
    if text[i:i + 1] == "[":
        i = closing(text, i)
    while text[i:i + 1] == "(":
        end = closing(text, i)
        ps = []
        for p in split_top(text[i + 1:end - 1]):
            p = MODIFIER.sub("", p)
            eq = assign_at(p)
            ps.append((IDENT.match(p).group(0), squash(p[eq + 1:]) if eq >= 0 else None))
        lists.append(ps)
        i = end
        while text[i:i + 1].isspace():
            i += 1
    return lists


def call_args(text):
    """(callee name, [[argument text]]) for each call in text; a call
    with several argument lists, `f(a)(b)`, has one entry per list."""
    for m in CALL.finditer(text):
        if re.search(r"\b(?:def|class)\s+$", text[max(0, m.start() - 16):m.start()]):
            continue
        lists, j = [], m.end() - 1
        while text[j:j + 1] == "(":
            end = closing(text, j)
            lists.append(split_top(text[j + 1:end - 1]))
            j = end
        yield m.group(1), lists


def is_literal(text):
    """True when a default's text names nothing: string, number, char
    and true/false/null literals only. An argument that repeats a
    non-literal default (`Bands`, `xxhash64(_)`) from another file may
    name something else there."""
    rest = re.sub(r'"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)\'|\b\d[\w.]*', "", text)
    return not (set(IDENT.findall(rest)) - {"true", "false", "null"})


def scan_params(root):
    """{(label, path:line): (default, status)} for each default parameter
    of a public member in a scanned file; status is "set",
    "column", "kept" or "unset"."""
    decls = {}   # member name -> [(label, path:line, path, param lists)]
    for path, entry in sources(root):
        if entry:
            continue
        lines = code_lines(path)
        for owner, name, private, rng in members(lines)[0]:
            text = "\n".join(lines[k] for k in rng)
            m = DECL.search(text)
            if private or not m or m.group(1) != name:
                continue
            label = name if owner == name else "%s.%s" % (owner, name)
            where = "%s:%d" % (os.path.relpath(path, root), rng.start + 1)
            decls.setdefault(name, []).append(
                (label, where, path, param_lists(text, m.end())))
    set_params = set()   # (path:line, param name)
    for top in (os.path.join(root, "src"), os.path.join(root, "perfbench", "src")):
        for d, _, files in os.walk(top):
            for f in files:
                if not f.endswith(".scala"):
                    continue
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    text = strip_comments(fh.read())
                for name, args in call_args(text):
                    for _, where, decl_path, lists in decls.get(name, ()):
                        for ps, given in zip(lists, args):
                            defaults = dict(ps)
                            for pos, arg in enumerate(given):
                                eq = assign_at(arg)
                                named = eq >= 0 and IDENT.fullmatch(arg[:eq].strip())
                                p = arg[:eq].strip() if named else (ps[pos][0] if pos < len(ps) else None)
                                value = squash(arg[eq + 1:] if named else arg)
                                default = defaults.get(p)
                                if default is not None and (
                                        default != value or
                                        (path != decl_path and not is_literal(default))):
                                    set_params.add((where, p))
    out = {}
    for name, overloads in decls.items():
        for label, where, _, lists in overloads:
            for ps in lists:
                for p, default in ps:
                    if default is None:
                        continue
                    key = "%s.%s" % (label, p)
                    if (where, p) in set_params:
                        status = "set"
                    elif p.endswith("Col") or p.endswith("Cols"):
                        status = "column"
                    else:
                        status = "kept" if key in PARAM_ALLOWLIST else "unset"
                    out[(key, where)] = (default, status)
    return out


def report_params(root):
    """Print the parameter pass; the number of failures."""
    params = scan_params(root)
    count = {s: 0 for s in ("set", "column", "kept", "unset")}
    for (key, where), (default, status) in sorted(params.items(), key=lambda kv: (kv[1][1], kv[0])):
        count[status] += 1
        if status == "kept":
            print("kept     %-46s %s" % (key, PARAM_ALLOWLIST[key]))
        elif status == "unset":
            print("unset    %-46s = %-14s %s" % (key, default, where))
    stale = sorted(k for k in PARAM_ALLOWLIST
                   if not any(key == k and s == "kept" for (key, _), (_, s) in params.items()))
    for key in stale:
        print("stale    %-46s set now or gone; drop it from PARAM_ALLOWLIST" % key)
    print("%d default parameters: %d never set (%d column bindings, %d kept on purpose, "
          "%d to inline), %d stale allowlist entries"
          % (len(params), len(params) - count["set"], count["column"], count["kept"],
             count["unset"], len(stale)))
    return count["unset"] + len(stale)


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
    unset = report_params(root)
    sys.exit(1 if bad or stale or unset else 0)


if __name__ == "__main__":
    main()
