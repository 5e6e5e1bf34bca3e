#!/usr/bin/env python3
"""Unit tests for the comparison tools `result_diff.py` and `plan_diff.py`.

    python3 -m unittest discover -s tools -p 'test_tools.py'
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import plan_diff  # noqa: E402
import result_diff  # noqa: E402


def run(main, argv):
    """(exit code, stdout) of a tool's main(argv)."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
        code = main(argv)
    return code, out.getvalue()


class ResultDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, side, query, cols):
        d = os.path.join(side, query)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table(cols), os.path.join(d, "part-00000.parquet"))

    def test_same_rows_in_another_order_are_the_same(self):
        self.write(self.a, "q1", {"k": [1, 2, 3], "v": [0.5, None, 2.0], "s": ["x", "y", None]})
        self.write(self.b, "q1", {"k": [3, 1, 2], "v": [2.0, 0.5, None], "s": [None, "x", "y"]})
        code, out = run(result_diff.main, [self.a, self.b])
        self.assertEqual(code, 0, out)
        self.assertIn("SAME q1 (3 rows)", out)
        self.assertIn("1 queries compared, 0 differ", out)

    def test_a_changed_value_differs(self):
        self.write(self.a, "q1", {"k": [1, 2], "v": [0.15, 1.0]})
        self.write(self.b, "q1", {"k": [1, 2], "v": [0.15000000000000002, 1.0]})
        code, out = run(result_diff.main, [self.a, self.b])
        self.assertEqual(code, 1)
        self.assertIn("DIFF q1: VALUE MISMATCH col=v", out)

    def test_null_and_nan_are_kept_apart(self):
        self.write(self.a, "q1", {"k": [1, 2], "v": [None, float("nan")]})
        self.write(self.b, "q1", {"k": [1, 2], "v": [float("nan"), None]})
        code, out = run(result_diff.main, [self.a, self.b])
        self.assertEqual(code, 1, out)

    def test_schema_and_row_count(self):
        self.write(self.a, "q_type", {"k": pa.array([1, 2], pa.int64())})
        self.write(self.b, "q_type", {"k": pa.array([1, 2], pa.int32())})
        self.write(self.a, "q_order", {"k": [1], "v": [2]})
        self.write(self.b, "q_order", {"v": [2], "k": [1]})
        self.write(self.a, "q_rows", {"k": [1, 1]})
        self.write(self.b, "q_rows", {"k": [1]})
        code, out = run(result_diff.main, [self.a, self.b])
        self.assertEqual(code, 1)
        self.assertIn("DIFF q_type: SCHEMA", out)
        self.assertIn("DIFF q_order: SCHEMA", out)
        self.assertIn("DIFF q_rows: ROWCOUNT MISMATCH", out)

    def test_missing_side_and_query_list(self):
        self.write(self.a, "q1", {"k": [1]})
        self.write(self.b, "q1", {"k": [1]})
        self.write(self.a, "q2", {"k": [1]})
        code, out = run(result_diff.main, [self.a, self.b])
        self.assertEqual(code, 1)
        self.assertIn(f"DIFF q2: no output in {self.b}", out)
        self.assertEqual(run(result_diff.main, [self.a, self.b, "q1"])[0], 0)
        self.assertEqual(run(result_diff.main, [self.a, self.b, "q1,q3"])[0], 1)

    def test_bad_usage(self):
        self.assertEqual(run(result_diff.main, [self.a])[0], 2)


PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- SortMergeJoin FullOuter (5)
            :- Scan parquet  (1)
            +- Window (4)

(1) Scan parquet
Output [2]: [l_partkey#12L, l_shipdate#40]

(4) Window
Arguments: [lag(v#77, -3, null) windowspecdefinition(date#8 ASC NULLS FIRST)], plan_id=31

(5) SortMergeJoin FullOuter
Left keys [1]: [m#101]

(6) HashAggregate [codegen id : 2]
Functions [1]: [partial_max(v#77)]

(7) Exchange
Arguments: hashpartitioning(date#8, 4), ENSURE_REQUIREMENTS, [id=#245]

(8) HashAggregate [codegen id : 3]
Results [1]: [max(v#77)#90 AS m#101]

(9) AdaptiveSparkPlan
Output [1]: [m#101]
"""


# Two runs of one distinct-aggregate plan: the Expand swaps which distinct
# column gets gid 1 and 2, and the distinct columns' order with it.
EXPAND_A = """(2) Expand
Input [4]: [l_orderkey#83L, l_partkey#84L, l_suppkey#85L, l_quantity#87]
Arguments: [[l_partkey#84L, null, null, 0, cast(l_quantity#87 as decimal(18,6))], \
[l_partkey#84L, l_suppkey#85L, null, 1, null], [l_partkey#84L, null, l_orderkey#83L, 2, null]], \
[l_partkey#84L, l_suppkey#113L, l_orderkey#114L, gid#112, CAST(l_quantity AS DECIMAL(18,6))#115]

(3) HashAggregate [codegen id : 1]
Input [5]: [l_partkey#84L, l_suppkey#113L, l_orderkey#114L, gid#112, CAST(l_quantity AS DECIMAL(18,6))#115]
Keys [4]: [l_partkey#84L, l_suppkey#113L, l_orderkey#114L, gid#112]
Functions [2]: [partial_count(l_suppkey#113L) FILTER (WHERE (gid#112 = 1)), \
partial_count(l_orderkey#114L) FILTER (WHERE (gid#112 = 2))]
"""
EXPAND_B = """(2) Expand
Input [4]: [l_orderkey#3083L, l_partkey#3084L, l_suppkey#3085L, l_quantity#3087]
Arguments: [[l_partkey#3084L, null, null, 0, cast(l_quantity#3087 as decimal(18,6))], \
[l_partkey#3084L, l_orderkey#3083L, null, 1, null], [l_partkey#3084L, null, l_suppkey#3085L, 2, null]], \
[l_partkey#3084L, l_orderkey#3114L, l_suppkey#3113L, gid#3112, CAST(l_quantity AS DECIMAL(18,6))#3115]

(3) HashAggregate [codegen id : 1]
Input [5]: [l_partkey#3084L, l_orderkey#3114L, l_suppkey#3113L, gid#3112, CAST(l_quantity AS DECIMAL(18,6))#3115]
Keys [4]: [l_partkey#3084L, l_orderkey#3114L, l_suppkey#3113L, gid#3112]
Functions [2]: [partial_count(l_suppkey#3113L) FILTER (WHERE (gid#3112 = 2)), \
partial_count(l_orderkey#3114L) FILTER (WHERE (gid#3112 = 1))]
"""

# Two runs of one AQE plan: codegen ids and query-stage ids come out swapped.
STAGES_A = """+- * HashAggregate (12)
   +- ShuffleQueryStage (10), Statistics(sizeInBytes=76.5 KiB, rowCount=1.96E+3)
*(8) HashAggregate

(10) ShuffleQueryStage
Output [2]: [term#67, doc_id#60L]
Arguments: 4

(12) HashAggregate [codegen id : 8]
Input [2]: [term#67, doc_id#60L]

(13) BroadcastQueryStage
Output [1]: [n#61L]
Arguments: 5

(14) HashAggregate [codegen id : 9]
"""
STAGES_B = (STAGES_A.replace("Arguments: 4", "Arguments: 9").replace("Arguments: 5", "Arguments: 4")
            .replace("codegen id : 8", "codegen id : 1").replace("codegen id : 9", "codegen id : 8")
            .replace("*(8)", "*(9)"))


class PlanDiffTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.makedirs(self.a)
        os.makedirs(self.b)

    def tearDown(self):
        self.tmp.cleanup()

    def write(self, side, query, text):
        with open(os.path.join(side, query + ".txt"), "w") as f:
            f.write(text)

    def test_normalize_blanks_run_to_run_ids(self):
        other = (PLAN.replace("#12L", "#512L").replace("plan_id=31", "plan_id=7")
                 .replace("[id=#245]", "[id=#3]").replace("(4) Window", "(14) Window"))
        self.assertNotEqual(other, PLAN)
        self.assertEqual(plan_diff.normalize(other), plan_diff.normalize(PLAN))
        n = plan_diff.normalize(PLAN)
        self.assertIn("l_partkey#L", n)
        self.assertIn("plan_id=N", n)
        self.assertIn("[id=N]", n)
        self.assertIn("(N) Window", n)

    def test_normalize_blanks_codegen_and_query_stage_ids(self):
        self.assertNotEqual(STAGES_A, STAGES_B)
        self.assertEqual(plan_diff.normalize(STAGES_A), plan_diff.normalize(STAGES_B))
        n = plan_diff.normalize(STAGES_A)
        self.assertIn("[codegen id : N]", n)
        self.assertIn("*(N) HashAggregate", n)
        self.assertIn("QueryStage\nOutput [1]: [n#L]\nArguments: N", n)
        # an operator's own arguments are kept
        self.assertIn("Statistics(sizeInBytes=76.5 KiB", n)
        self.assertEqual(plan_diff.counts(STAGES_A)["aggregate"], 2)

    def test_normalize_orders_expand_distinct_groups(self):
        self.assertEqual(plan_diff.normalize(EXPAND_A), plan_diff.normalize(EXPAND_B))
        n = plan_diff.normalize(EXPAND_A)
        self.assertIn("Keys [4]: [l_partkey#L, l_orderkey#L, l_suppkey#L, gid#]", n)
        self.assertIn("{l_partkey#L=l_partkey#L, l_suppkey#L=l_suppkey#L}", n)
        self.assertIn("FILTER (WHERE (gid# = G))", n)
        # counting a different distinct column is still a difference
        other = EXPAND_B.replace("partial_count(l_suppkey#3113L)", "partial_count(l_partkey#3084L)")
        self.assertNotEqual(plan_diff.normalize(EXPAND_A), plan_diff.normalize(other))
        # a distinct group with other columns is still a difference
        other = EXPAND_B.replace("null, l_suppkey#3085L, 2", "null, l_partkey#3084L, 2")
        self.assertNotEqual(plan_diff.normalize(EXPAND_A), plan_diff.normalize(other))

    def test_counts_each_operator_header_once(self):
        self.assertEqual(plan_diff.counts(PLAN),
                         {"Exchange": 1, "FileScan": 1, "aggregate": 2, "Window": 1, "join": 1})

    def test_exit_codes(self):
        self.write(self.a, "q1", PLAN)
        self.write(self.b, "q1", PLAN.replace("#77", "#977"))
        code, out = run(plan_diff.main, [self.a, self.b])
        self.assertEqual(code, 0, out)
        self.assertIn("== q1: SAME COUNTS, identical text", out)
        # a changed operator keeps the counts: text differs, exit 0
        self.write(self.b, "q1", PLAN.replace("SortMergeJoin FullOuter", "BroadcastHashJoin LeftOuter"))
        code, out = run(plan_diff.main, [self.a, self.b, "--brief"])
        self.assertEqual(code, 0, out)
        self.assertIn("SAME COUNTS, text differs", out)
        # a dropped join changes the counts: exit 1
        no_join = PLAN.replace("(5) SortMergeJoin FullOuter\n", "(5) Project\n")
        self.write(self.b, "q1", no_join)
        code, out = run(plan_diff.main, [self.a, self.b, "q1", "--brief"])
        self.assertEqual(code, 1, out)
        self.assertIn("join 1->0", out)
        self.assertEqual(run(plan_diff.main, [self.a])[0], 2)


if __name__ == "__main__":
    unittest.main()
