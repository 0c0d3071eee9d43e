#!/usr/bin/env python3
"""List public Scala defs of src/main that no other code names.

    scripts/uncalled.py

Run from the repo root. For each `def` in src/main/scala that is neither
`private`, `protected` nor an `override`, prints `<file>:<line> <name>
tests=<N>` when the name occurs (as a whole word) nowhere in src/main
besides its own definition line and nowhere in perfbench/src; N is the
number of its occurrences in src/test, i.e. the specs that still call it.
"""
import os
import re

DEF = re.compile(r"^\s*(?:(?:final|implicit|inline)\s+)*def\s+([A-Za-z_][A-Za-z0-9_]*)")


def sources(root):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root)
                  for f in fs if f.endswith((".scala", ".java")))


def read(files):
    return {f: open(f, encoding="utf-8").read() for f in files}


def count(name, texts):
    word = re.compile(r"\b%s\b" % re.escape(name))
    return sum(len(word.findall(t)) for t in texts.values())


main = read(sources("src/main/scala"))
bench = read(sources("perfbench/src"))
tests = read(sources("src/test"))
for f, text in main.items():
    for no, line in enumerate(text.splitlines(), 1):
        m = DEF.match(line)
        if not m:
            continue
        name = m.group(1)
        if count(name, main) - count(name, {f: line}) == 0 and count(name, bench) == 0:
            print("%s:%d %s tests=%d" % (f, no, name, count(name, tests)))
