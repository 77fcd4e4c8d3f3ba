#!/usr/bin/env python3
"""Compare two `graft.Probe ... --plan <dir>` output dirs query by query.

Each dir holds one formatted explain per query (`<query>.txt`). Before
comparing, every run-dependent token is masked:
  - expression ids (`doc_id#33L` -> `doc_id#L`),
  - `plan_id=` counters,
  - RDD ids (`MapPartitionsRDD[25]` -> `MapPartitionsRDD[]`),
  - call-site line numbers (`SimilarityOps.scala:1019` -> `SimilarityOps.scala:N`),
  - JVM identity hashes of inlined literals (`[[D@1f1b69bb` -> `[[D@`),
  - JVM lambda class names (`Ops$$$Lambda$7569/0x00007fcb...` -> `Ops$$$Lambda`),
  - higher-order-function lambda variable counters (`lambda x_137#` ->
    `lambda x_#`): Spark numbers them from one JVM-wide counter, so they
    shift with every lambda an earlier query in the session created,
  - the counters of an executed adaptive plan, which a cached relation
    carries into later queries' plans: whole-stage codegen ids
    (`[codegen id : 13]`) and query-stage ids (`Arguments: 17` under a
    `...QueryStage` node). Adaptive execution cancels and re-creates
    stages as their runtimes interleave, so both counters can differ
    between two runs of the same commit (q146 shows it),
  - the random suffix of a temporary directory
    (`/tmp/graft-unigram-vocab9523082666350974088/` ->
    `/tmp/graft-unigram-vocabN/`; q191's build writes its vocabulary
    to one).
What is left is the plan's shape, operators, expressions and aliases,
so two runs of the same code compare equal and a refactor that keeps
every plan reports no difference.

One difference is run-dependent and not a plan change: Spark's
distinct-aggregate rewrite (`Expand` + `gid`) groups the distinct
columns in a hash map keyed on expression sets, so which gid each
column gets, and the order of the group keys, follow expression-id
hashes and can change from one session to the next (q20, q87, q170,
q181 and q182 show it). Two masked plans with the same lines except that some lines
hold the same tokens in another order are reported `ORDER <query>` and
not counted as a difference.

Prints `SAME`, `ORDER`, or `DIFF` plus a unified diff for each query,
and a note for a query present on only one side. Exits 0 when every
query matches up to ORDER, 1 when any differs or is missing, 2 on bad
usage.

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
    (re.compile(r"(?<=lambda )(\w+?)_\d+\b"), r"\1_"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"(?<=[A-Za-z_-])\d{8,}(?=/)"), "N"),
    (re.compile(r"(QueryStage\nOutput \[\d+\]: [^\n]*\nArguments: )\d+"), r"\1N"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


TOKEN = re.compile(r"[^\s\[\](),]+|[\[\](),]")


def same_up_to_order(la, lb):
    """True when the two line lists pair up line by line, each pair
    holding the same multiset of tokens (identifiers, literals, brackets,
    commas)."""
    return len(la) == len(lb) and all(
        x == y or sorted(TOKEN.findall(x)) == sorted(TOKEN.findall(y))
        for x, y in zip(la, lb))


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print("usage: plan_diff.py <dirA> <dirB>", file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    qa, qb = plans(a), plans(b)
    bad = order = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"ONLY {'A' if q in qa else 'B'} {q}")
            bad += 1
            continue
        pa, pb = (os.path.join(d, q + ".txt") for d in (a, b))
        ma, mb = masked(pa), masked(pb)
        if ma == mb:
            print(f"SAME {q}")
        elif same_up_to_order(ma, mb):
            print(f"ORDER {q}")
            order += 1
        else:
            print(f"DIFF {q}")
            sys.stdout.writelines(difflib.unified_diff(ma, mb, pa, pb))
            bad += 1
    print(f"{bad} of {len(qa | qb)} queries differ ({order} more differ only in token order)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
