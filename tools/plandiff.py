#!/usr/bin/env python3
"""Diff `graft.Explain` plan dumps of a change against two parent runs.

Usage: python3 tools/plandiff.py PARENT1 PARENT2 CHANGE [key ...]

Each argument is an Explain output directory (`<key>.txt` per query), made
with the same sf directory and the same SPARK_GRAFT_CPUS, e.g.

    sbt "runMain graft.Explain <sfDir> <dir>"

twice on the parent commit and once on the change. Every line is
normalised first: expression ids `#123` become `#`, `plan_id=45` becomes
`plan_id=`, lambda addresses `Lambda...@1a2b` become `Lambda`, and the
formatted plan's node numbers become `(n)`: the `(12)` ending a tree line,
the `(12) ` opening a node's detail block and `operator id: 12` (they
shift when one node is added or removed; a `count(1)` inside an
expression is left alone). RDD ids `RDD[1054]` become `RDD[]` (they
count the RDDs made before), source positions such as `at Dedup.scala:938`
in checkpoint RDD names become `Dedup.scala:n` (they move with any edit
above that line), UUIDs become `<uuid>`, object hashes
`Foo@1a2b3c` become `Foo@<hex>`, a Txn batch name's 8-character hex
word becomes `<hex>` even when it holds only digits (`b00001-43386561`
becomes `b00001-<hex>`), and any other 8-character hex word with at
least one letter a-f (fresh file names) becomes `<hex>`, so that a
decimal literal such as 10000000 is kept. The tree drawing in front of an
operator is stripped. Non-blank lines are then counted per key as a
multiset. A line whose count differs between the two parent runs is
noise (run order, JVM or fresh file names moved it). Any other line
whose count in the change differs from the parents' is a real change and
is printed with its count delta, together with a per-operator count of
the tree section ("Exchange 4 -> 2"). Keys present on one side only are listed as well.
Exit status is 0 whatever the diff says; this reports, it does not gate.
"""
import collections
import os
import re
import sys

SUBS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"Lambda\S*@[0-9a-f]+"), "Lambda"),
    (re.compile(r" \(\d+\)$"), " (n)"),
    (re.compile(r"^\(\d+\) "), "(n) "),
    (re.compile(r"operator id: \d+"), "operator id: n"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala:n"),
    (re.compile(r"\b[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r"(\w)@[0-9a-f]+\b"), r"\1@<hex>"),
    (re.compile(r"\b(b\d{5})-[0-9a-f]{8}\b"), r"\1-<hex>"),
    (re.compile(r"\b(?=[0-9]*[a-f])[0-9a-f]{8}\b"), "<hex>"),
]
TREE = re.compile(r"^[\s:+\-]*")
OPERATOR = re.compile(r"^(.*?) \(n\)")


def normalise(line):
    line = line.rstrip()
    for pat, rep in SUBS:
        line = pat.sub(rep, line)
    return TREE.sub("", line)


def load(directory):
    plans = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt"):
            with open(os.path.join(directory, name), encoding="utf-8") as f:
                plans[name[:-4]] = f.read().splitlines()
    return plans


def operators(lines):
    """Operator counts of the tree section: the lines before the first
    blank line, one operator per line."""
    counts = collections.Counter()
    for line in lines:
        if not line.strip():
            break
        m = OPERATOR.match(normalise(line))
        if m:
            counts[m.group(1).strip()] += 1
    return counts


def diff_key(p1, p2, c):
    n1, n2, nc = (collections.Counter(normalise(l) for l in x if l.strip())
                  for x in (p1, p2, c))
    noise = {l for l in n1.keys() | n2.keys() if n1[l] != n2[l]}
    real = sorted((nc[l] - n1[l], l) for l in n1.keys() | nc.keys()
                  if l not in noise and nc[l] != n1[l])
    o1, o2, oc = operators(p1), operators(p2), operators(c)
    ops = sorted((op, o1[op], oc[op]) for op in o1.keys() | oc.keys()
                 if o1[op] == o2[op] and o1[op] != oc[op])
    return noise, real, ops


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    p1, p2, c = (load(d) for d in argv[:3])
    only = set(argv[3:])
    keys = sorted((p1.keys() & p2.keys()) | c.keys())
    if only:
        keys = [k for k in keys if k in only]
    noise_lines, same = 0, 0
    for key in keys:
        if key not in c:
            print(f"== {key}: only in the parent runs")
            continue
        if key not in p1 or key not in p2:
            print(f"== {key}: only in the change")
            continue
        noise, real, ops = diff_key(p1[key], p2[key], c[key])
        noise_lines += len(noise)
        if not real:
            same += 1
            continue
        print(f"== {key}: {len(real)} changed lines beyond noise")
        for op, before, after in ops:
            print(f"   operator {op}: {before} -> {after}")
        for delta, line in real:
            print(f"   {delta:+d}  {line[:200]}")
    print(f"-- {len(keys)} keys, {same} without a change beyond noise, "
          f"{noise_lines} noise lines")


if __name__ == "__main__":
    main(sys.argv[1:])
