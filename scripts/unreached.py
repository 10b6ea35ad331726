#!/usr/bin/env python3
"""List the public definitions in src/main that no code reaches.

Usage: python3 scripts/unreached.py

A definition (`def`, `val`, `var`, `object`, `class`, `trait`, `type`) not
marked `private`, `protected`, `override` or `implicit`, at member level
(top level, or directly inside an object, class or trait), is reached when
its name appears, as a whole word, anywhere in the code of src/main or
perfbench/src outside the definition itself. Comments do not count; string
literals do, since oracle SQL interpolates Scala names and sessions name
classes in conf strings. A name match is conservative: a name that is
defined twice, or that matches a word in a string, counts as reached.

The scan repeats: the text of every unreached definition is dropped and the
scan runs again, until nothing new appears, so a helper reached only from
another unreached helper is found too. Each KEEP entry is a root: it and
everything defined inside it count as reached, for the reason given.

Prints each unreached definition as `path:line  Owner.name`, then the
keep-list. Exits 1 when anything outside the keep-list is unreached.
"""
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEF_DIRS = ["src/main"]
REF_DIRS = ["src/main", "perfbench/src"]

KEEP = {
    "graft.Bench": "entry point: the registry sweep main",
    "graft.Verify": "entry point: the correctness dump main",
    "graft.SparkEntry.entry": "entry point: the driver's flagship smoke query",
    "graft.StatsScaleProbe": "scale-invariant probe main; ROADMAP item 5 folds it into the gate",
    "graft.tools.ProbeJobs": "per-call-site job probe main; ROADMAP item 6 replaces it",
    "graft.tools.DumpPlan": "plan dump main; ROADMAP item 6 replaces it",
    "graft.ops.RuleYaml": "loader for the reference's dq_rules.yaml, the format that defines the quality stage",
    "graft.ScaleUp": "fixture scale-up main: builds the sf1 fixture ROADMAP item 5 checks; perfbench's gen.py mirrors it",
}

DEF_RE = re.compile(
    r"^(?P<indent>[ \t]*)(?:@\w+(?:\([^)]*\))?\s+)*"
    r"(?P<mods>(?:(?:final|sealed|abstract|implicit|lazy|override|case|"
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)"
    r"(?P<kind>def|val|var|object|class|trait|type)\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
TEMPLATE_RE = re.compile(r"\b(?:object|class|trait)\s+[A-Za-z_]")
PACKAGE_RE = re.compile(r"^\s*package\s+([\w.]+)\s*$", re.M)


def scala_files(rel_dirs):
    for rel in rel_dirs:
        for dirpath, _, files in os.walk(os.path.join(ROOT, rel)):
            if "/target" in dirpath:
                continue
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(dirpath, f)


def strip(src):
    """Return (code, bare): `code` blanks comments, `bare` also blanks string
    and char literal contents. Both keep every newline and column."""
    code, bare = list(src), list(src)
    i, n = 0, len(src)

    def blank(buf, a, b):
        for k in range(a, b):
            if buf[k] != "\n":
                buf[k] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(code, i, j), blank(bare, i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(code, i, j), blank(bare, i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # a quote right before the close
                j += 1
            blank(bare, i, j)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            blank(bare, i, j + 1)
            i = j + 1
        elif c == "'" and re.match(r"'(?:\\.|[^\\'\n])'", src[i:i + 4]):
            j = src.index("'", i + 2 if src[i + 1] == "\\" else i + 1) + 1
            blank(bare, i, j)
            i = j
        else:
            i += 1
    return "".join(code), "".join(bare)


def definitions(code, bare):
    """Yield (qualified owner.name, name, first line, last line) per member
    definition, numbered from 0. Brace depth comes from `bare`."""
    pkg = PACKAGE_RE.search(code)
    pkg = pkg.group(1) if pkg else ""
    lines, bare_lines = code.split("\n"), bare.split("\n")
    # stack of (is_template, owner qualified name) per open brace
    stack = []
    pending = None  # template owner declared on a line, awaiting its `{`
    for ln, (line, bl) in enumerate(zip(lines, bare_lines)):
        member_scope = not stack or stack[-1][0]
        m = DEF_RE.match(line)
        if m and member_scope:
            mods = m.group("mods")
            owner = stack[-1][1] if stack else pkg
            qual = f"{owner}.{m.group('name')}" if owner else m.group("name")
            if not re.search(r"\b(private|protected|override|implicit)\b", mods):
                yield qual, m.group("name"), ln, extent(bare_lines, ln)
            if m.group("kind") in ("object", "class", "trait"):
                pending = qual
        elif re.match(r"\s*package\s+object\s+(\w+)", bl):
            pending = f"{pkg}.{bl.split()[2]}"
        elif TEMPLATE_RE.search(bl) and re.search(r"\bnew\s", bl):
            pending = "<anon>"
        for ch in bl:
            if ch == "{":
                stack.append((pending is not None, pending or ""))
                pending = None
            elif ch == "}" and stack:
                stack.pop()
        if pending and not re.search(r"(extends|with|[(,=\[])\s*$", bl):
            # a template with no body, e.g. `case class X(a: Int)`
            nxt = next((l.strip() for l in bare_lines[ln + 1:] if l.strip()), "")
            if not nxt.startswith(("extends", "with", "{")):
                pending = None


def extent(bare_lines, ln):
    """Last line of the definition starting at `ln`: the line before the next
    non-blank line indented no deeper, a closing bracket at the same depth
    included."""
    indent = len(bare_lines[ln]) - len(bare_lines[ln].lstrip())
    last = ln
    for k in range(ln + 1, len(bare_lines)):
        s = bare_lines[k]
        if not s.strip():
            continue
        ind = len(s) - len(s.lstrip())
        if ind < indent or (ind == indent and not s.lstrip()[0] in "})"):
            break
        last = k
    return last


def main():
    files = {}
    for p in set(scala_files(REF_DIRS)):
        with open(p, encoding="utf-8") as f:
            files[p] = strip(f.read())
    defs = []
    for p in sorted(scala_files(DEF_DIRS)):
        code, bare = files[p]
        for qual, name, a, b in definitions(code, bare):
            defs.append((p, qual, name, a, b))

    def kept(qual):
        return next((k for k in KEEP if qual == k or qual.startswith(k + ".")), None)

    dead = []  # (path, qual, name, first, last)
    used_keep = set()
    while True:
        lines = {p: code.split("\n") for p, (code, _) in files.items()}
        for p, _, _, a, b in dead:
            for k in range(a, b + 1):
                lines[p][k] = ""
        counts = {}
        for ls in lines.values():
            for w in re.findall(r"[A-Za-z_][A-Za-z0-9_]*", "\n".join(ls)):
                counts[w] = counts.get(w, 0) + 1
        found = []
        for d in defs:
            p, qual, name, a, b = d
            if d in dead:
                continue
            own = sum(len(re.findall(rf"\b{name}\b", lines[p][k])) for k in range(a, b + 1))
            if counts.get(name, 0) - own > 0:
                continue
            k = kept(qual)
            if k:
                used_keep.add(k)
            elif not any(x[0] == p and x[3] <= a <= x[4] for x in dead):
                found.append(d)
        if not found:
            break
        dead.extend(found)

    for p, qual, _, a, _ in sorted(dead):
        print(f"{os.path.relpath(p, ROOT)}:{a + 1}  {qual}")
    print(f"{len(dead)} unreached public definition(s) outside the keep-list")
    print("keep-list:")
    for k, why in KEEP.items():
        print(f"  {k}  -- {why}")
    stale = sorted(set(KEEP) - used_keep)
    if stale:
        print("keep-list entries the scan reaches anyway: " + ", ".join(stale))
    return 1 if dead else 0


if __name__ == "__main__":
    sys.exit(main())
