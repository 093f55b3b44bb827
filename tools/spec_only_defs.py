#!/usr/bin/env python3
"""List the main-code definitions that only specs reach.

Usage: spec_only_defs.py [repo_root]

Strips comments (line, block and scaladoc; string literals are kept,
so a name that SQL text or a registry string mentions counts as used)
from every Scala file under src/main/scala and perfbench/src/main/scala,
then lists each non-override, non-implicit `def`/`val`/`var`/`class`/
`object`/`trait` defined in src/main/scala whose name occurs nowhere
in that corpus except at its own definition(s). Each line names the
definition site and the spec files under src/test/scala (and
perfbench/src/test/scala) that mention the name — empty when nothing
reaches it at all. perfbench's own specs count as specs, not callers.

Exits 0; the list is a report, not a gate.
"""
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))
MAIN_DIRS = ["src/main/scala"]
CALLER_DIRS = ["src/main/scala", "perfbench/src/main/scala"]
SPEC_DIRS = ["src/test/scala", "perfbench/src/test/scala"]

# entry points the JVM or Scala itself calls by convention
IMPLICIT_NAMES = {"main", "apply", "unapply", "toString", "equals",
                  "hashCode"}

DEF_RE = re.compile(
    r"^(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|"
    r"override\s+|implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)"
    r"(?P<kind>def|val|var|class|object|trait)\s+"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)")


def strip_comments(src):
    """Blank out comments, keeping string literals and line breaks."""
    out = []
    i, n = 0, len(src)
    depth = 0  # nested block-comment depth (Scala block comments nest)
    while i < n:
        if depth:
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                if src[i] == "\n":
                    out.append("\n")
                i += 1
            continue
        if src.startswith("/*", i):
            depth = 1
            i += 2
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """..."""" closes late
                j += 1
            out.append(src[i:j])
            i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1])
            i = j + 1
        elif src[i] == "'" and i + 2 < n and (
                src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2 if src[i + 1] == "\\" else i + 1)
            out.append(src[i:j + 1])
            i = j + 1
        else:
            out.append(src[i])
            i += 1
    return "".join(out)


def scala_files(dirs):
    for d in dirs:
        base = os.path.join(ROOT, d)
        for dp, _, fs in os.walk(base):
            for f in sorted(fs):
                if f.endswith(".scala"):
                    p = os.path.join(dp, f)
                    with open(p, encoding="utf-8") as h:
                        yield os.path.relpath(p, ROOT), strip_comments(
                            h.read())


def word(name):
    # a leading `$` is string interpolation (s"$name"), a use
    return re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) +
                      r"(?![A-Za-z0-9_$])")


def main():
    callers = dict(scala_files(CALLER_DIRS))
    specs = dict(scala_files(SPEC_DIRS))
    defs = {}  # name -> [(file, line, is a runMain entry object)]
    for path, text in callers.items():
        if not any(path.startswith(d) for d in MAIN_DIRS):
            continue
        for ln, line in enumerate(text.split("\n"), 1):
            m = DEF_RE.match(line.strip())
            if not m:
                continue
            mods = m.group("mods")
            if "override" in mods or "implicit" in mods:
                continue
            name = m.group("name")
            if name in IMPLICIT_NAMES:
                continue
            entry = m.group("kind") == "object" and \
                not line[:1].isspace() and \
                re.search(r"\bdef main\(", text) is not None
            defs.setdefault(name, []).append((path, ln, entry))
    rows = []
    for name, sites in sorted(defs.items()):
        w = word(name)
        if all(entry for _, _, entry in sites):
            # a runMain entry point's own file (its usage string) is
            # not a caller
            own = {p for p, _, _ in sites}
            if any(w.search(t) for p, t in callers.items()
                   if p not in own):
                continue
        elif sum(len(w.findall(t)) for t in callers.values()) > len(sites):
            continue
        reached = sorted(os.path.basename(p) for p, t in specs.items()
                         if w.search(t))
        for path, ln, entry in sites:
            rows.append((path, ln, name + (" (runMain)" if entry else ""),
                         reached))
    for path, ln, name, reached in sorted(rows):
        print(f"{path}:{ln}\t{name}\t{','.join(reached) or '-'}")
    print(f"{len(rows)} definition(s) only specs reach", file=sys.stderr)


if __name__ == "__main__":
    main()
