#!/usr/bin/env python3
"""Reachability pass over the engine's Scala sources.

usage: python3 tools/reachability.py [REPO_DIR]

Prints two lists, both computed on the sources with comments stripped:

1. the src/main files that no entry point reaches. Entry points are the seven
   `main`s (graft.cli.Main, graft.Bench, graft.Verify, graft.BenchExtra,
   graft.ScalingBench, graft.gen.ScaleUp, perfbench.Bench) plus
   SparkEntry.queries. A file reaches another when it names one of that
   file's top-level objects, classes or traits.
2. every member (def, val, var, object, class, trait, type, case-class field)
   defined in src/main or perfbench/src whose name occurs nowhere but at its
   definition, counting occurrences across src/main, perfbench/src and
   tools/ (this script aside). `override`s, `implicit`s, `main`, `apply`,
   `unapply` and the entry-point objects are skipped: their callers are the
   framework, the compiler or the command line.

A name match is textual, so a listed member is a candidate for deletion, not
a verdict: an interface method implemented without `override` is called by
its framework, and a name shared with an unrelated member hides both.
"""
import os
import re
import sys

ENTRY_FILES = [
    "src/main/scala/graft/cli/Main.scala",
    "src/main/scala/graft/Bench.scala",
    "src/main/scala/graft/Verify.scala",
    "src/main/scala/graft/BenchExtra.scala",
    "src/main/scala/graft/ScalingBench.scala",
    "src/main/scala/graft/gen/ScaleUp.scala",
    "perfbench/src/main/scala/perfbench/Bench.scala",
    "src/main/scala/graft/SparkEntry.scala",  # SparkEntry.queries
]
SKIP_MEMBERS = {"main", "apply", "unapply"}
IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
TOP_LEVEL = re.compile(
    rf"^(?:(?:private|final|sealed|abstract|case|implicit)(?:\[\w+\])?\s+)*"
    rf"(?:object|class|trait)\s+({IDENT})", re.M)
MEMBER = re.compile(rf"\b(def|val|var|object|class|trait|type)\s+({IDENT})")
CASE_CLASS = re.compile(rf"\bcase\s+class\s+{IDENT}(?:\[[^\]]*\])?\s*\(")


def strip_comments(text):
    """Scala source with // and /* */ comments blanked; string literals kept."""
    out, i, n = [], 0, len(text)
    while i < n:
        if text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(text[i:j])
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out.append("".join(c if c == "\n" else " " for c in text[i:j]))
            i = j
        else:
            out.append(text[i])
            i += 1
    return "".join(out)


def source_files(repo, roots, suffixes):
    for root in roots:
        for d, _, names in os.walk(os.path.join(repo, root)):
            if "/target" in d or "/." in d:
                continue
            for name in sorted(names):
                if name.endswith(suffixes):
                    yield os.path.relpath(os.path.join(d, name), repo)


def word(name):
    return re.compile(rf"(?<![A-Za-z0-9_]){re.escape(name)}(?![A-Za-z0-9_])")


def unreached_files(scala):
    """src/main files that no ENTRY_FILES file reaches by name."""
    defines = {path: set(TOP_LEVEL.findall(text)) for path, text in scala.items()}
    seen, todo = set(), [f for f in ENTRY_FILES if f in scala]
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        tokens = set(re.findall(IDENT, scala[path]))
        todo += [other for other, names in defines.items()
                 if other not in seen and names & tokens]
    return sorted(p for p in scala if p.startswith("src/main/") and p not in seen)


def case_class_fields(text):
    """(offset, name) of every case-class constructor field."""
    for m in CASE_CLASS.finditer(text):
        depth, i = 1, m.end()
        start = i
        while i < len(text) and depth:
            depth += {"(": 1, ")": -1}.get(text[i], 0)
            i += 1
        params, depth, seg_start = text[start:i - 1], 0, 0
        for j, c in enumerate(params + ","):
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
            elif c == "," and depth == 0:
                seg = params[seg_start:j]
                f = re.match(rf"\s*(?:(?:val|var|private|override)\s+)*({IDENT})\s*:", seg)
                if f:
                    yield start + seg_start + f.start(1), f.group(1)
                seg_start = j + 1


def lonely_members(scala, corpus):
    """(path, line, name) of members whose name occurs only at its definitions."""
    skip = SKIP_MEMBERS.union(*(TOP_LEVEL.findall(scala[f]) for f in ENTRY_FILES if f in scala))
    defs = []
    for path, text in scala.items():
        found = [(m.start(2), m.group(2)) for m in MEMBER.finditer(text)]
        found += list(case_class_fields(text))
        for offset, name in found:
            line_start = text.rfind("\n", 0, offset) + 1
            prefix = text[line_start:offset]
            if name in skip or "override" in prefix or "implicit" in prefix:
                continue
            defs.append((path, text.count("\n", 0, offset) + 1, name))
    sites = {}
    for path, line, name in defs:
        sites.setdefault(name, []).append((path, line))
    out = []
    for name, where in sites.items():
        uses = sum(len(word(name).findall(text)) for text in corpus)
        if uses <= len(where):
            out += [(path, line, name) for path, line in where]
    return sorted(out)


def main():
    repo = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".")
    scala = {}
    for path in source_files(repo, ["src/main", "perfbench/src"], (".scala",)):
        with open(os.path.join(repo, path), encoding="utf-8") as fh:
            scala[path] = strip_comments(fh.read())
    corpus = list(scala.values())
    for path in source_files(repo, ["tools"], (".py", ".sh", ".scala")):
        if path == "tools/reachability.py":
            continue
        with open(os.path.join(repo, path), encoding="utf-8") as fh:
            corpus.append(fh.read())
    print("# src/main files no entry point reaches")
    for path in unreached_files(scala):
        print(path)
    print("# members whose name occurs only at its definition "
          "(src/main, perfbench/src, tools)")
    for path, line, name in lonely_members(scala, corpus):
        print(f"{path}:{line} {name}")


if __name__ == "__main__":
    main()
