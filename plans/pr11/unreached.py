"""List every public `def` in src/main with no caller outside its own file.

Usage: python3 plans/pr11/unreached.py [REPO_ROOT]

A "caller" is any whole-word occurrence of the name in another Scala or
Python file under src/main, linkbench/src or tools. The match is by name
only, so a common name used elsewhere hides a dead def; confirm a
candidate by compiling without it. `private`, `protected` and `override`
defs, `main`, `apply` and `unapply` are skipped. Nested defs are listed
(indent > 2) because a name match cannot tell scopes apart.

Each line: `file:line name indent=N infile=N tests=Spec1,Spec2`, where
`infile` counts the other non-comment lines of the same file that name
it, and `tests` lists the spec files under src/test that name it.
"""
import os
import re
import sys

root = sys.argv[1] if len(sys.argv) > 1 else "."


def sources(sub, exts):
    out = []
    for dirpath, _, names in os.walk(os.path.join(root, sub)):
        if "/target" in dirpath or "/work" in dirpath:
            continue
        out += [os.path.join(dirpath, n) for n in names if n.endswith(exts)]
    return out


def read(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


main = sources("src/main", (".scala",))
searched = {f: read(f) for f in main + sources("linkbench/src", (".scala", ".py"))
            + sources("tools", (".scala", ".py"))}
tests = {f: read(f) for f in sources("src/test", (".scala",))}
mods = r"(?:(?:final|implicit|lazy|@\w+)\s+)*"
def_re = re.compile(r"^([ \t]*)" + mods + r"def\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
hidden_re = re.compile(r"^[ \t]*" + mods + r"(private|protected|override)\b")

rows = []
for f in main:
    src = searched[f]
    lines = src.split("\n")
    for m in def_re.finditer(src):
        ln = src.count("\n", 0, m.start()) + 1
        name = m.group(2)
        if hidden_re.match(lines[ln - 1]) or name in ("main", "apply", "unapply"):
            continue
        word = re.compile(r"\b" + re.escape(name) + r"\b")
        if any(word.search(t) for g, t in searched.items() if g != f):
            continue
        infile = sum(1 for i, l in enumerate(lines)
                     if i != ln - 1 and word.search(l)
                     and not l.strip().startswith(("*", "//", "/**")))
        specs = sorted(os.path.basename(g) for g, t in tests.items() if word.search(t))
        rows.append((os.path.relpath(f, root), ln, name, len(m.group(1)), infile,
                     ",".join(specs)))

for r in sorted(rows):
    print("%s:%d %s indent=%d infile=%d tests=%s" % r)
