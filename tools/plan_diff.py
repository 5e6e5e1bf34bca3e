#!/usr/bin/env python3
"""Compare two directories of formatted query plans.

Each directory holds one `<query>.txt` per query, as written by
`runMain graft.PlanCost --plans <dir> [q1,q2,...]`. Run the same queries
on the same corpus at two commits, then:

    python3 tools/plan_diff.py <dirA> <dirB> [q1,q2,...] [--brief]

For every query present in both directories the tool prints the counts of
Exchange, FileScan, aggregate, Window and join operators on each side and,
unless --brief, a unified diff of the two plans. Before comparing, it blanks
what differs between any two runs of one plan: expression ids (`#123`),
`plan_id=`/`[id=N]` numbers, RDD numbers, lambda and other identity hashes,
call-site line numbers and numbered temp directories; it also blanks operator
numbers, so one added node does not renumber the rest.

Exit status: 0 when every compared query has the same operator counts on both
sides, 1 when some query's counts differ, 2 on bad usage.
"""
import difflib
import os
import re
import sys

NORMALIZE = [
    # before the expression ids, which would eat the `#` of `[id=#245]`
    (re.compile(r"\[id=#?\d+\]"), "[id=N]"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$Lambda"),
    # identity hashes (lambdas, aggregator objects), call-site lines of
    # createDataFrame, numbered temp directories
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"-\d{6,}"), "-N"),
    # operator numbers: one extra Project would renumber every later node
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r"\(\d+\)$", re.M), "(N)"),
    (re.compile(r"(operator id[:=] ?)\d+"), r"\1N"),
]

# Operator classes counted per plan, matched against the name in each
# operator's detail header, e.g. "(5) HashAggregate [codegen id : 1]".
CLASSES = [
    ("Exchange", re.compile(r"Exchange$")),
    ("FileScan", re.compile(r"^Scan (parquet|orc|csv|json|text)")),
    ("aggregate", re.compile(r"Aggregate$")),
    ("Window", re.compile(r"Window")),
    ("join", re.compile(r"Join|CartesianProduct")),
]
HEADER = re.compile(r"^\((\d+)\) (.+?)(?: \[codegen id : \d+\])?\s*$")


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    return text


def counts(text):
    """Operator-class counts over every operator's detail header (the main
    tree and its subqueries alike)."""
    out = {name: 0 for name, _ in CLASSES}
    for line in text.splitlines():
        m = HEADER.match(line)
        if not m:
            continue
        for name, pattern in CLASSES:
            if pattern.search(m.group(2)):
                out[name] += 1
    return out


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    brief = "--brief" in argv
    args = [a for a in argv if a != "--brief"]
    if len(args) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = args[0], args[1]
    names_a, names_b = plans(a), plans(b)
    if len(args) == 3:
        only = set(args[2].split(","))
        names_a, names_b = names_a & only, names_b & only
    for side, missing in ((b, names_a - names_b), (a, names_b - names_a)):
        for n in sorted(missing):
            print(f"{n}: no plan in {side}")
    names = sorted(names_a & names_b)
    changed = same_text = 0
    for n in names:
        ra, rb = (open(os.path.join(d, n + ".txt")).read() for d in (a, b))
        ca, cb = counts(ra), counts(rb)
        ta, tb = normalize(ra), normalize(rb)
        cols = "  ".join(f"{k} {ca[k]}" + ("" if ca[k] == cb[k] else f"->{cb[k]}") for k in ca)
        verdict = "SAME COUNTS" if ca == cb else "COUNTS DIFFER"
        changed += ca != cb
        if ta == tb:
            same_text += 1
            print(f"== {n}: {verdict}, identical text  [{cols}]")
            continue
        diff = list(difflib.unified_diff(ta.splitlines(), tb.splitlines(), a, b, lineterm="", n=0))
        print(f"== {n}: {verdict}, text differs ({len(diff)} diff lines)  [{cols}]")
        if not brief:
            print("\n".join(diff))
    print(f"{len(names)} queries compared: {same_text} identical text, {changed} with different operator counts")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
