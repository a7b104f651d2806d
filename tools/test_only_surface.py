#!/usr/bin/env python3
"""Public operator surface that only the tests reach.

    python3 tools/test_only_surface.py [REPO_ROOT]

Lists every public `def`, `val`, `lazy val`, `object`, `class`, `case class`
and `trait` in src/main/scala/graft/{core,ops,spark,functions} that no code
in src/main (outside those four packages) or perfbench/src reaches,
following references transitively through the bodies of the declarations it
does reach. Exits 1 if it lists any, 0 otherwise. A `val` local to a def is
part of that def's body, not a declaration; constructor parameters and
`var`s are not reported.

The scan works on names, after comments are stripped:

  - Roots are every source file under src/main outside the four packages
    (the queries in SparkEntry, the tool mains, Bench, Verify) and every
    file under perfbench/src.
  - A declaration is reached when an identifier with its name occurs in a
    root or in the body of a reached declaration, and, for a member, its
    enclosing object, class or trait is reached too. Overloads and members
    of different types that share a name are reached together, so the scan
    can miss a dead member; it never reports a live one.
  - The body of a def holds everything nested in it. The body of an
    object, class or trait holds its own header and initializers but not
    its members: reaching `Dedup` does not reach every operator in it.
  - An `override` member is reached with its enclosing type (the runtime
    calls it, not our code).
  - A setter `def x_=` is reached whenever `x` is: an assignment
    `o.x = v` calls it without ever naming `x_=`.
  - String literals stay in: a name in a string counts as a reference.
  - ENTRY_POINTS names the classes that configuration loads by name.
"""
import os
import re
import sys
from collections import defaultdict

PACKAGES = ("core", "ops", "spark", "functions")
REPORTED = ("def", "val", "object", "class", "trait")
CONTAINERS = ("object", "class", "trait")
# Loaded by class name from configuration, never named in code.
ENTRY_POINTS = ("GraftExtensions",)  # spark.sql.extensions

DECL = re.compile(
    r"^(?P<indent>[ \t]*)"
    r"(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|implicit\s+|override\s+"
    r"|sealed\s+|abstract\s+|case\s+|lazy\s+)*)"
    r"(?P<kind>def|val|var|object|class|trait|type)\s+"
    r"(?P<name>[A-Za-z_]\w*_=|[A-Za-z_]\w*|`[^`]+`)")
IDENT = re.compile(r"[A-Za-z_]\w*")


def strip_comments(src):
    """`src` with // and (nested) /* */ comments blanked, newlines kept."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """ closes at the last of a quote run
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif c == "'" and re.match(r"'(\\.|\\u[0-9a-fA-F]{4}|[^\\'\n])'", src[i:i + 8]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3)
            out.append(src[i:j + 1])
            i = j + 1
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
            out.append("\n" * src.count("\n", i, j))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


class Decl:
    def __init__(self, path, line, indent, mods, kind, name):
        self.path, self.line, self.indent = path, line, indent
        self.kind = "case class" if kind == "class" and "case" in mods.split() else kind
        self.base_kind = kind
        self.shown = name.strip("`")
        # a setter `x_=` goes by its getter's name: `o.x = v` reaches it
        self.name = self.shown[:-2] if self.shown.endswith("_=") else self.shown
        self.private = "private" in mods or "protected" in mods
        self.override = "override" in mods.split()
        self.parent = None
        self.members = []
        self.body = ""

    def public(self):
        d = self
        while d is not None:
            if d.private:
                return False
            d = d.parent
        return True

    def qualified(self):
        names, d = [], self
        while d is not None:
            names.append(d.shown)
            d = d.parent
        return ".".join(reversed(names))


def parse(path, text):
    """Top-level and member declarations of one file, with their bodies."""
    lines = text.split("\n")
    found = []
    for no, line in enumerate(lines):
        m = DECL.match(line)
        if m:
            found.append((no, len(m.group("indent").expandtabs(2)), m))
    decls = []
    stack = []  # the enclosing declarations of the current line
    for no, indent, m in found:
        while stack and stack[-1].indent >= indent:
            stack.pop()
        parent = stack[-1] if stack else None
        if parent is not None and parent.base_kind not in CONTAINERS:
            continue  # a local of a def/val: part of that body, not a member
        d = Decl(path, no, indent, m.group("mods"), m.group("kind"), m.group("name"))
        d.parent = parent
        if parent is not None:
            parent.members.append(d)
        decls.append(d)
        stack.append(d)
    # extent: up to the next declaration line at the same or a shallower indent
    starts = [(no, indent) for no, indent, _ in found]
    for d in decls:
        end = len(lines)
        for no, indent in starts:
            if no > d.line and indent <= d.indent:
                end = no
                break
        d.end = end
    for d in decls:
        if d.base_kind in CONTAINERS:
            own = [True] * (d.end - d.line)
            for mem in d.members:
                for no in range(mem.line, mem.end):
                    own[no - d.line] = False
            d.body = "\n".join(lines[no] for no in range(d.line, d.end) if own[no - d.line])
        else:
            d.body = "\n".join(lines[d.line:d.end])
    return decls


def scala_files(root):
    for base, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(base, f)


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    main_root = os.path.join(repo, "src", "main", "scala")
    target_dirs = tuple(os.path.join(main_root, "graft", p) + os.sep for p in PACKAGES)

    roots, decls = [], []
    for path in scala_files(main_root):
        text = strip_comments(open(path, encoding="utf-8").read())
        if path.startswith(target_dirs):
            decls.extend(parse(os.path.relpath(path, repo), text))
        else:
            roots.append(text)
    for path in scala_files(os.path.join(repo, "perfbench", "src")):
        roots.append(strip_comments(open(path, encoding="utf-8").read()))

    by_name = defaultdict(list)
    for d in decls:
        by_name[d.name].append(d)

    referenced, reached, work = set(), set(), []

    def reach(d):
        if id(d) not in reached:
            reached.add(id(d))
            work.append(d)

    def visit(text):
        for name in set(IDENT.findall(text)) - referenced:
            referenced.add(name)
            for d in by_name.get(name, ()):
                if d.parent is None or id(d.parent) in reached:
                    reach(d)

    for text in roots:
        visit(text)
    for name in ENTRY_POINTS:
        for d in by_name[name]:
            reach(d)
    while work:
        d = work.pop()
        visit(d.body)
        for mem in d.members:
            if mem.override or mem.name in referenced:
                reach(mem)

    unreached = [d for d in decls
                 if d.base_kind in REPORTED and d.public() and id(d) not in reached]
    for d in unreached:
        print(f"{d.path}:{d.line + 1}: {d.kind} {d.qualified()}")
    print(f"{len(unreached)} public declaration(s) in graft.{{{','.join(PACKAGES)}}} "
          "reached only from src/test")
    return 1 if unreached else 0


if __name__ == "__main__":
    sys.exit(main())
