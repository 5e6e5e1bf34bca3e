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
call-site line numbers, numbered temp directories, whole-stage codegen ids
(`*(3)`, `[codegen id : 3]`) and AQE query-stage ids; it also blanks operator
numbers, so one added node does not renumber the rest. Where an Expand
rewrites distinct aggregates, which distinct group gets which gid, and the
order of the distinct columns, vary between runs: the tool blanks the gid
literals, lists the distinct columns in name order, and writes each Expand
projection as its sorted set of non-null columns.

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
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    # a query stage's detail block ends in its stage id
    (re.compile(r"^(\(N\) \w*QueryStage\n(?:(?:Input|Output) .*\n)*Arguments: )\d+", re.M), r"\1N"),
    (re.compile(r"\b(gid#L? = )\d+"), r"\1G"),
]

EXPAND_ARGS = re.compile(r"^(\(N\) Expand\n(?:Input .*\n)?Arguments: )(.*)$", re.M)

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


def split_top(s):
    """Split `s` at the commas outside any (), [] or {} nesting."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            out.append(s[start:i].strip())
            start = i + 1
    out.append(s[start:].strip())
    return out


def unbracket(s):
    s = s.strip()
    return s[1:-1] if s.startswith("[") and s.endswith("]") else s


def canonical_expand(args):
    """(canonical Arguments text, the distinct columns in plan order) of an
    Expand with a gid column, or None for any other Expand."""
    parts = split_top(args)
    if len(parts) != 2:
        return None
    rows = [split_top(unbracket(r)) for r in split_top(unbracket(parts[0]))]
    out = split_top(unbracket(parts[1]))
    gid = [i for i, c in enumerate(out) if c.startswith("gid#")]
    if len(gid) != 1 or any(len(r) != len(out) for r in rows):
        return None
    keep = [i for i in range(len(out)) if i != gid[0]]
    # a distinct group's columns are set in its own projection (gid > 0)
    # and null in the others; gid 0 carries the regular aggregates' inputs
    distinct = [out[i] for i in keep if any(r[i] == "null" for r in rows)
                and any(r[i] != "null" and r[gid[0]] != "0" for r in rows)]
    sets = sorted("{" + ", ".join(sorted(f"{out[i]}={r[i]}" for i in keep if r[i] != "null")) + "}"
                  for r in rows)
    return "[" + ", ".join(sets) + "], [" + ", ".join(sorted(out)) + "]", distinct


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    runs = []

    def expand(m):
        canon = canonical_expand(m.group(2))
        if canon is None:
            return m.group(0)
        runs.append(canon[1])
        return m.group(1) + canon[0]

    text = EXPAND_ARGS.sub(expand, text)
    # the distinct columns appear in Expand output order in every list above it
    for distinct in runs:
        if len(distinct) > 1:
            text = text.replace(", ".join(distinct), ", ".join(sorted(distinct)))
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
