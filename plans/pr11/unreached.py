"""List src/main's public surface that no declared caller reaches.

Usage: python3 plans/pr11/unreached.py [REPO_ROOT]

Callers are searched in the Scala and Python files under src/main,
linkbench/src and tools; src/test is not a caller. Three sections:

1. `def`s: every public `def` in src/main whose name occurs (whole
   word) in no other searched file. The match is by name only, so a
   common name used elsewhere hides a dead def; confirm a candidate by
   compiling without it. `private`, `protected` and `override` defs,
   `main`, `apply` and `unapply` are skipped. Nested defs are listed
   (indent > 2) because a name match cannot tell scopes apart.
   Each line: `file:line name indent=N infile=N tests=Spec1,Spec2`, where
   `infile` counts the other non-comment lines of the same file that name
   it, and `tests` lists the spec files under src/test that name it.

2. `val`s: every public `val` declared at indent 2 (a member of a
   top-level object or class; deeper vals are locals) whose name occurs
   in no other searched file. Same columns as section 1, prefixed `val`.

3. Defaulted parameters: every defaulted parameter of a public `def` or
   class constructor that no call in a searched file passes, by position
   or by name (`.copy(name = ...)` counts for a constructor). Calls are
   found by name (`name(`, `new Name(`), so a same-named call elsewhere
   that passes enough arguments hides the parameter. Each line:
   `file:line owner.param default=<expr> calls=N tests=Spec1,...`, where
   `calls` counts the call sites found in searched files and `tests`
   lists the spec files with a call that passes the parameter.
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
val_re = re.compile(r"^(  )" + mods + r"val\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
class_re = re.compile(r"^([ \t]*)(?:(?:final|sealed|abstract|case)\s+)*class\s+"
                      r"([A-Za-z_][A-Za-z0-9_]*)", re.M)
hidden_re = re.compile(r"^[ \t]*" + mods + r"(private|protected|override)\b")
comment = ("*", "//", "/**")


def unreached(kind_re, prefix, skip=()):
    rows = []
    for f in main:
        src = searched[f]
        lines = src.split("\n")
        for m in kind_re.finditer(src):
            ln = src.count("\n", 0, m.start()) + 1
            name = m.group(2)
            if hidden_re.match(lines[ln - 1]) or name in skip:
                continue
            word = re.compile(r"\b" + re.escape(name) + r"\b")
            if any(word.search(t) for g, t in searched.items() if g != f):
                continue
            infile = sum(1 for i, l in enumerate(lines)
                         if i != ln - 1 and word.search(l)
                         and not l.strip().startswith(comment))
            specs = sorted(os.path.basename(g) for g, t in tests.items()
                           if word.search(t))
            rows.append((os.path.relpath(f, root), ln, prefix + name,
                         len(m.group(1)), infile, ",".join(specs)))
    for r in sorted(rows):
        print("%s:%d %s indent=%d infile=%d tests=%s" % r)


def strip_comments(src):
    """Blank out comments and string literals, keeping offsets."""
    out = list(src)
    i, n = 0, len(src)
    while i < n:
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
        elif src.startswith("/*", i):
            j = src.find("*/", i + 2)
            j = n if j < 0 else j + 2
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            j += 1
        else:
            i += 1
            continue
        for k in range(i, min(j, n)):
            if out[k] != "\n":
                out[k] = " "
        i = j
    return "".join(out)


def group(src, i):
    """The text inside the bracket group opening at src[i], and its end."""
    depth = 0
    for j in range(i, len(src)):
        if src[j] in "([{":
            depth += 1
        elif src[j] in ")]}":
            depth -= 1
            if depth == 0:
                return src[i + 1:j], j + 1
    return src[i + 1:], len(src)


def split_top(s):
    """Split on the commas outside brackets."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    if "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def param_lists(src, i):
    """The parameter lists starting at src[i] (after optional type params):
    a list of [(name, default or None)] per list."""
    lists = []
    while True:
        while i < len(src) and src[i] in " \t\n":
            i += 1
        if i < len(src) and src[i] == "[" and not lists:
            _, i = group(src, i)
            continue
        if i >= len(src) or src[i] != "(":
            return lists
        body, i = group(src, i)
        params = []
        for p in split_top(body):
            p = re.sub(r"^\s*(implicit\s+)?((private|protected|override|val|var)\s+)*",
                       "", p)
            m = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*:(.*)$", p, re.S)
            if not m:
                continue
            d = split_default(m.group(2))
            params.append((m.group(1), d))
        lists.append(params)


def split_default(typ):
    depth = 0
    for k, c in enumerate(typ):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif (c == "=" and depth == 0 and typ[k + 1:k + 2] not in ("=", ">")
              and typ[k - 1:k] not in ("=", "<", ">", "!")):
            return " ".join(typ[k + 1:].split())
    return None


def calls(code, name, is_class):
    """Argument lists of every call of `name`: [[args of list 0], ...]."""
    out = []
    for m in re.finditer(r"\b" + re.escape(name) + r"\b\s*(?:\[[^\]\n]*\])?\s*\(",
                         code):
        before = code[max(0, m.start() - 12):m.start()]
        if re.search(r"\b(def|class)\s+$", before):
            continue
        i = m.end() - 1
        arglists = []
        while i < len(code) and code[i] == "(":
            body, i = group(code, i)
            arglists.append(split_top(body))
        out.append(arglists)
    if is_class:  # .copy(name = ...) passes constructor fields by name
        for m in re.finditer(r"\.copy\s*\(", code):
            body, _ = group(code, m.end() - 1)
            out.append([split_top(body)])
    return out


def passes(arglists, li, pi, pname):
    if li >= len(arglists):
        return False
    args = arglists[li]
    named = [re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])", a) for a in args]
    if any(n and n.group(1) == pname for n in named):
        return True
    positional = 0
    for n in named:
        if n:
            break
        positional += 1
    return positional > pi


def defaulted_params():
    code = {f: strip_comments(t) for f, t in searched.items()}
    test_code = {f: strip_comments(t) for f, t in tests.items()}
    rows = []
    for f in main:
        src = searched[f]
        lines = src.split("\n")
        owners = [(m, False) for m in def_re.finditer(code[f])] + \
                 [(m, True) for m in class_re.finditer(code[f])]
        for m, is_class in owners:
            ln = src.count("\n", 0, m.start()) + 1
            name = m.group(2)
            if hidden_re.match(lines[ln - 1]):
                continue
            lists = param_lists(src, m.end())
            if not any(d is not None for ps in lists for _, d in ps):
                continue
            found = [c for t in code.values() for c in calls(t, name, is_class)]
            spec_calls = {os.path.basename(g): calls(t, name, is_class)
                          for g, t in test_code.items()}
            for li, ps in enumerate(lists):
                for pi, (pname, d) in enumerate(ps):
                    if d is None or any(passes(c, li, pi, pname) for c in found):
                        continue
                    specs = sorted(g for g, cs in spec_calls.items()
                                   if any(passes(c, li, pi, pname) for c in cs))
                    rows.append((os.path.relpath(f, root), ln,
                                 "%s.%s" % (name, pname), d, len(found),
                                 ",".join(specs)))
    for r in sorted(rows):
        print("%s:%d %s default=%s calls=%d tests=%s" % r)


print("# defs")
unreached(def_re, "", ("main", "apply", "unapply"))
print("# vals")
unreached(val_re, "val ")
print("# defaulted parameters")
defaulted_params()
