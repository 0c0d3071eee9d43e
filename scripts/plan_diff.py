#!/usr/bin/env python3
"""Compare two plan dumps query by query.

Usage:
    python3 scripts/plan_diff.py <dirA> <suffixA> <dirB> <suffixB>

`graft.tools.Profile plans <sfDir> <outDir> <suffix> ...` writes one
`<outDir>/<query>_<suffix>.txt` per query. This script pairs
`<dirA>/<query>_<suffixA>.txt` with `<dirB>/<query>_<suffixB>.txt` and
masks what differs between two runs of the same plan:
  - expression ids `#<n>` and exchange counters `plan_id=<n>`;
  - lambda variable names (`lambda x_58#`, `lambda y_59#` become
    `lambda x_#`, `lambda y_#`): Spark numbers them from one JVM-wide
    counter, so they depend on which plans the JVM built before;
  - RDD ids and source line numbers of checkpointed RDDs
    (`MapPartitionsRDD[<n>] at localCheckpoint at <File>.scala:<n>`); the
    line moves with any edit of that file.
It prints `DIFF <query>` for each pair that still differs and
`MISSING <query>` for a query dumped on one side only, and exits 1 if any
query is printed or no plan file is found, else 0. Dumps to compare must
be made with the same core count, which is the shuffle partition count
that plans print.
"""
import os
import re
import sys

MASKS = [(re.compile(r"#[0-9]+"), "#"),
         (re.compile(r"plan_id=[0-9]+"), "plan_id="),
         (re.compile(r"(lambda [a-z]+_)[0-9]+"), r"\1"),
         (re.compile(r"RDD\[[0-9]+\]"), "RDD[]"),
         (re.compile(r"\.scala:[0-9]+"), ".scala:")]


def plans(directory: str, suffix: str) -> dict:
    """Query name -> masked plan text of every `<query>_<suffix>.txt`."""
    end = f"_{suffix}.txt"
    out = {}
    for f in os.listdir(directory):
        if f.endswith(end):
            with open(os.path.join(directory, f), encoding="utf-8") as fh:
                text = fh.read()
            for pattern, repl in MASKS:
                text = pattern.sub(repl, text)
            out[f[: -len(end)]] = text
    return out


def main(argv) -> int:
    if len(argv) != 4:
        sys.exit(__doc__)
    a, b = plans(argv[0], argv[1]), plans(argv[2], argv[3])
    if not a and not b:
        sys.exit("no plan files with either suffix")
    differ = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in a or name not in b:
            print(f"MISSING {name}")
        elif a[name] != b[name]:
            print(f"DIFF {name}")
        else:
            continue
        differ += 1
    print(f"{len(a.keys() | b.keys())} queries, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
