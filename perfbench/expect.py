#!/usr/bin/env python3
"""Writes perfbench/data/expected_results.tsv from two recordings of the query
subset made on the same commit, after tools/check.py accepted the first:

    python3 perfbench/run.py --record /tmp/rec1
    python3 tools/check.py <sf0.1 dir> /tmp/rec1      # must print ALL OK
    python3 perfbench/run.py --record /tmp/rec2
    python3 perfbench/expect.py /tmp/rec1 /tmp/rec2

Each query gets the strongest check that reproduced across the two
recordings: "ordered" (hash of the rows in result order), "unordered"
(hash of the sorted rows) or "rows" (row count only).
"""
import os
import sys


def load(d):
    with open(os.path.join(d, "hashes.tsv")) as fh:
        return {f[0]: f[1:] for f in (ln.split("\t") for ln in fh.read().splitlines())}


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    if set(a) != set(b):
        sys.exit("the two recordings cover different queries")
    out = ["# query\trows\tcheck\thash (written by perfbench/expect.py)"]
    for q in sorted(a):
        (rows, ordered, unordered), (rows2, ordered2, unordered2) = a[q], b[q]
        if rows != rows2:
            sys.exit(f"{q}: row count differs between recordings ({rows} vs {rows2})")
        if ordered == ordered2:
            out.append(f"{q}\t{rows}\tordered\t{ordered}")
        elif unordered == unordered2:
            out.append(f"{q}\t{rows}\tunordered\t{unordered}")
        else:
            out.append(f"{q}\t{rows}\trows\t-")
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "expected_results.tsv")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")


if __name__ == "__main__":
    main()
