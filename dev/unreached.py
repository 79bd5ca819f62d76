#!/usr/bin/env python3
"""List the public `src/main` symbols that nothing outside the specs reaches.

Usage (from the repository root):

    python3 dev/unreached.py

A symbol is a declaration at the top level of a file or one level
inside a top-level object, class or trait (`def`, `val`, `var`,
`object`, `class`, `trait`, `type`). It is reached when a reached
declaration names it, starting from the roots:

- the driver surface: `SparkEntry.queries`/`entry`, `Verify.main`,
  `Bench.main`;
- the production chain: `KGPipeline.run`, `TableIO.writeTriples` and
  `TableIO.readTriples`;
- the tool mains: `tools.Probe.main`, `tools.MicroBench.main`;
- every name that the kgbench sources (`kgbench/src/main/scala`) use.

Comments are stripped first; string contents stay, so a class named
only in a config string (a Spark extension) still counts. Names are
matched as plain identifiers, not resolved, so the audit errs towards
"reached": a name that another symbol shares can hide a dead symbol,
but a symbol it prints has no reaching reference at all. An `override`
member is reached with its enclosing type, because Spark calls it.

It prints one `path: Owner.name` line per public symbol not reached,
sorted, and exits 1 when that output differs from the fenced list in
README's "Reachability and deliberate keeps" section (the differing
lines go to stderr).
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
README = os.path.join(ROOT, "README.md")
KEEPS = "## Reachability and deliberate keeps"
MAIN = os.path.join(ROOT, "src", "main", "scala")
KGBENCH = os.path.join(ROOT, "kgbench", "src", "main", "scala")
ROOTS = {
    ("SparkEntry", "queries"), ("SparkEntry", "entry"),
    ("Verify", "main"), ("Bench", "main"),
    ("KGPipeline", "run"), ("TableIO", "writeTriples"), ("TableIO", "readTriples"),
    ("Probe", "main"), ("MicroBench", "main"),
}

MODS = r"(?:(?:private|protected)(?:\[\w+\])?|override|final|sealed|abstract|implicit|lazy|case)"
DECL = re.compile(r"^( *)(?:@\w+\s+)*((?:" + MODS + r"\s+)*)(def|val|var|object|class|trait|type)\s+(\w+)")
IDENT = re.compile(r"[A-Za-z_]\w*")


def strip_comments(src):
    """Blank out `//` and (nested) `/* */` comments, keeping newlines and
    every string and char literal."""
    out, i, n = [], 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """ ... """" ends at the last quote
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'":
            m = re.match(r"'(?:\\.|\\u[0-9a-fA-F]{4}|[^'\\\n])'", src[i:i + 8])
            tok = m.group(0) if m else c
            out.append(tok)
            i += len(tok)
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def indent(line):
    return len(line) - len(line.lstrip(" "))


def body_end(lines, i, level):
    """First line after `i` that no longer belongs to the declaration at
    indent `level`: a non-blank line indented less, or one at the same
    indent that does not close or continue it."""
    for j in range(i + 1, len(lines)):
        s = lines[j]
        if not s.strip():
            continue
        k = indent(s)
        if k < level or (k == level and s.lstrip()[0] not in "}).|&+-*/"):
            return j
    return len(lines)


class Decl:
    def __init__(self, path, owner, name, public, override, tokens):
        self.path, self.owner, self.name = path, owner, name
        self.public, self.override, self.tokens = public, override, tokens
        self.members = []


def parse(path):
    lines = strip_comments(open(path, encoding="utf-8").read()).split("\n")
    decls = []
    i = 0
    while i < len(lines):
        m = DECL.match(lines[i])
        if not m or indent(lines[i]) != 0:
            i += 1
            continue
        end = body_end(lines, i, 0)
        top_name, member_lines = m.group(4), set()
        top = Decl(path, None, top_name, "private" not in m.group(2), False, set())
        j = i + 1
        while j < end:
            mm = DECL.match(lines[j])
            if mm and indent(lines[j]) == 2:
                e = body_end(lines, j, 2)
                mods = mm.group(2)
                toks = set(IDENT.findall("\n".join(lines[j:e])))
                top.members.append(Decl(path, top_name, mm.group(4), not re.search(r"private|protected", mods),
                                        "override" in mods, toks))
                member_lines.update(range(j, e))
                j = e
            else:
                j += 1
        top.tokens = set(IDENT.findall("\n".join(l for k, l in enumerate(lines[i:end], i) if k not in member_lines)))
        decls.append(top)
        i = end
    return decls


def readme_keeps():
    """The lines of the first fenced block under README's keeps heading."""
    text = open(README, encoding="utf-8").read()
    section = text[text.index(KEEPS):]
    start = section.index("```\n") + 4
    return section[start:section.index("```", start)].splitlines()


def scala_files(base):
    for d, _, files in os.walk(base):
        for f in files:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def main():
    tops = [t for f in sorted(scala_files(MAIN)) for t in parse(f)]
    nodes = tops + [m for t in tops for m in t.members]
    by_name = {}
    for d in nodes:
        by_name.setdefault(d.name, []).append(d)
    live, todo = set(), []

    def reach(d):
        if id(d) not in live:
            live.add(id(d))
            todo.append(d)

    for t in tops:
        for m in t.members:
            if (t.name, m.name) in ROOTS:
                reach(m)
    for f in scala_files(KGBENCH):
        for tok in IDENT.findall(strip_comments(open(f, encoding="utf-8").read())):
            for d in by_name.get(tok, ()):
                reach(d)
    owner_of = {id(m): t for t in tops for m in t.members}
    while todo:
        d = todo.pop()
        if id(d) in owner_of:
            reach(owner_of[id(d)])
        else:
            for m in d.members:
                if m.override:
                    reach(m)
        for tok in d.tokens:
            for other in by_name.get(tok, ()):
                reach(other)
    out = []
    for d in nodes:
        if d.public and not d.override and id(d) not in live:
            name = d.name if d.owner is None else f"{d.owner}.{d.name}"
            out.append(f"{os.path.relpath(d.path, ROOT)}: {name}")
    out.sort()
    print("\n".join(out))
    keeps = readme_keeps()
    if out == keeps:
        return 0
    for line in sorted(set(out) - set(keeps)):
        print(f"not in README: {line}", file=sys.stderr)
    for line in sorted(set(keeps) - set(out)):
        print(f"in README but reached or gone: {line}", file=sys.stderr)
    return 1


if __name__ == "__main__":
    sys.exit(main())
