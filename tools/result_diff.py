#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query.

Run Verify on the same corpus at two commits (SPARK_GRAFT_ONLY picks the
queries), then:

    python3 tools/result_diff.py <outA> <outB> [q1,q2,...]

Each `<out>/<query>/` holds the query's parquet parts. For every query
present on either side (only the listed ones when a list is given) the
tool checks that both sides have output, the same column names and arrow
types in the same order, and then compares them the way
`check_oracle.py` compares Spark against DuckDB: NULL and NaN kept apart
per row, columns sorted by name, rows sorted by all columns
(`check_oracle.normalize`), exact equality. A value difference is
reported in check_oracle's words: `spark=` is side A, `duck=` side B.

Exit status: 0 when every compared query is the same on both sides, 1
when any differs or is missing on one side, 2 on bad usage.
"""
import glob
import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check_oracle import add_nan_null_tags, compare, float_names  # noqa: E402


def queries(d):
    return {q for q in os.listdir(d) if glob.glob(os.path.join(d, q, "*.parquet"))}


def read(d, q):
    return pa.concat_tables(
        [pq.read_table(f) for f in sorted(glob.glob(os.path.join(d, q, "*.parquet")))],
        promote_options="default")


def diff(ta, tb):
    """None when the two tables hold the same result, else the reason."""
    sa = [(f.name, str(f.type)) for f in ta.schema]
    sb = [(f.name, str(f.type)) for f in tb.schema]
    if sa != sb:
        return f"SCHEMA {sa} != {sb}"
    da, db = ta.to_pandas(date_as_object=False), tb.to_pandas(date_as_object=False)
    tags = float_names(ta)
    add_nan_null_tags(da, ta, tags)
    add_nan_null_tags(db, tb, tags)
    return compare("", da, db, ta, tb)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = argv[0], argv[1]
    names = queries(a) | queries(b)
    if len(argv) == 3:
        names = set(argv[2].split(","))
    n_diff = 0
    for q in sorted(names):
        missing = [d for d in (a, b) if not glob.glob(os.path.join(d, q, "*.parquet"))]
        if missing:
            err = "no output in " + ", ".join(missing)
        else:
            ta, tb = read(a, q), read(b, q)
            err = diff(ta, tb)
        if err:
            n_diff += 1
            print(f"DIFF {q}: {err}")
        else:
            print(f"SAME {q} ({ta.num_rows} rows)")
    print(f"{len(names)} queries compared, {n_diff} differ")
    return 1 if n_diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
