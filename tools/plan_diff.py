#!/usr/bin/env python3
"""Compare two `graft.Probe ... --plan <dir>` output dirs query by query.

Each dir holds one formatted explain per query (`<query>.txt`). Before
comparing, every run-dependent token is masked:
  - expression ids (`doc_id#33L` -> `doc_id#L`),
  - `plan_id=` counters,
  - RDD ids (`MapPartitionsRDD[25]` -> `MapPartitionsRDD[]`),
  - call-site line numbers (`SimilarityOps.scala:1019` -> `SimilarityOps.scala:N`),
  - JVM identity hashes of inlined literals (`[[D@1f1b69bb` -> `[[D@`),
  - JVM lambda class names (`Ops$$$Lambda$7569/0x00007fcb...` -> `Ops$$$Lambda`).
What is left is the plan's shape, operators, expressions and aliases,
so two runs of the same code compare equal and a refactor that keeps
every plan reports no difference.

Prints a unified diff for each query whose masked plans differ, and a
note for a query present on only one side. Exits 0 when every query
matches, 1 when any differs or is missing, 2 on bad usage.

Usage: plan_diff.py <dirA> <dirB>
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"(?<=[\w;\[])@[0-9a-f]+\b"), "@"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print("usage: plan_diff.py <dirA> <dirB>", file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    qa, qb = plans(a), plans(b)
    bad = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"ONLY {'A' if q in qa else 'B'} {q}")
            bad += 1
            continue
        pa, pb = (os.path.join(d, q + ".txt") for d in (a, b))
        diff = list(difflib.unified_diff(masked(pa), masked(pb), pa, pb))
        if diff:
            print(f"DIFF {q}")
            sys.stdout.writelines(diff)
            bad += 1
        else:
            print(f"SAME {q}")
    print(f"{bad} of {len(qa | qb)} queries differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
