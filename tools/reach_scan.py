#!/usr/bin/env python3
"""List the public `def`s in src/main that no program code calls.

Usage: python3 tools/reach_scan.py [repo_root]

The scan strips comments from every .scala file under src/main and
perfbench/src, collects each `def` that is not private, protected or an
override, and reports those whose name appears nowhere else in that
code. Specs and test-sources mains (src/test) do not count as callers.

A reported method may stay when its scaladoc carries a line starting
with `Contract:` that names the caller or contract that needs it (a
reference-parity API, a spec hook, the `spark.sql` surface, the
reference a spec compares a reached path against). The script prints
every reported method with its status and exits 1 if any lacks that
line, 0 otherwise.

Blind spot: the match is by bare name. A method whose name also names
any other identifier in the program code (another method, a local
value, a field, a word inside a string literal) counts as reached even
when nothing calls it, so a clean run does not prove every public
method is reached. Check such names by hand.
"""
import os
import re
import sys

SKIP_NAMES = {"main", "apply", "unapply", "toString", "equals", "hashCode"}
DEF_RE = re.compile(r"^(?P<mods>[ \t]*(?:[\w\[\].]+[ \t]+)*)def[ \t]+(?P<name>[A-Za-z_][\w]*)",
                    re.M)
HIDDEN = ("private", "protected", "override")


def strip_comments(src):
    """Blank out // and /* */ comments, keeping string literals and line
    numbers intact."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
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
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def scaladoc_before(raw_lines, line_no):
    """The scaladoc block that ends just above 0-based line `line_no`
    (annotations between it and the def are allowed)."""
    k = line_no - 1
    while k >= 0 and raw_lines[k].strip().startswith("@"):
        k -= 1
    if k < 0 or not raw_lines[k].strip().endswith("*/"):
        return ""
    end = k
    while k >= 0 and "/**" not in raw_lines[k]:
        k -= 1
    return "\n".join(raw_lines[max(k, 0):end + 1])


def scala_files(root, sub):
    for dirpath, _, files in os.walk(os.path.join(root, sub)):
        if os.sep + "target" in dirpath:
            continue
        for f in sorted(files):
            if f.endswith(".scala"):
                yield os.path.join(dirpath, f)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    code = {}
    for sub in ("src/main", "perfbench/src"):
        for path in scala_files(root, sub):
            with open(path, encoding="utf-8") as fh:
                raw = fh.read()
            code[path] = (raw, strip_comments(raw))
    word_counts = {}
    for _, stripped in code.values():
        for w in re.findall(r"[A-Za-z_]\w*", stripped):
            word_counts[w] = word_counts.get(w, 0) + 1
    defs_per_name = {}
    candidates = []
    for path, (raw, stripped) in code.items():
        if not os.path.relpath(path, root).startswith("src/main"):
            continue
        raw_lines = raw.split("\n")
        for m in DEF_RE.finditer(stripped):
            name = m.group("name")
            defs_per_name[name] = defs_per_name.get(name, 0) + 1
            if any(h in m.group("mods") for h in HIDDEN) or name in SKIP_NAMES:
                continue
            line_no = stripped.count("\n", 0, m.start("name"))
            candidates.append((path, line_no, name, raw_lines))
    missing = 0
    reported = 0
    for path, line_no, name, raw_lines in candidates:
        # every definition of the name is one occurrence; any more is a use
        if word_counts.get(name, 0) > defs_per_name[name]:
            continue
        reported += 1
        doc = scaladoc_before(raw_lines, line_no)
        ok = re.search(r"^\s*\*?\s*Contract:", doc, re.M) is not None
        missing += not ok
        rel = os.path.relpath(path, root)
        print(f"{'kept   ' if ok else 'MISSING'} {rel}:{line_no + 1} {name}")
    print(f"{reported} unreached public defs, {missing} without a Contract: line")
    return 1 if missing else 0


if __name__ == "__main__":
    sys.exit(main())
