"""scripts/plan_diff.py: two `explain("formatted")` dumps of one plan
compare equal whatever ran earlier in the session; a changed operator
does not."""

import importlib.util
import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "plan_diff", os.path.join(_REPO, "scripts", "plan_diff.py")
)
plan_diff = importlib.util.module_from_spec(spec)
spec.loader.exec_module(plan_diff)

DUMP = """== Physical Plan ==
* {op} (2)
+- * Scan ExistingRDD (1)


(1) Scan ExistingRDD [codegen id : 1]
Output [2]: [id#{a}L, s#{b}]
Arguments: [id#{a}L, s#{b}], MapPartitionsRDD[{rdd}] at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0, ExistingRDD, UnknownPartitioning(0)

(2) {op} [codegen id : 1]
Input [2]: [id#{a}L, s#{b}]
Arguments: 0.0, 0.5, false, 42
"""


def dump(op="Sample", rdd=4, a=0, b=1):
    return DUMP.format(op=op, rdd=rdd, a=a, b=b)


def test_rdd_and_expression_ids_are_masked():
    assert plan_diff.normalize(dump(rdd=4)) == plan_diff.normalize(
        dump(rdd=317, a=52, b=53)
    )


def test_changed_operator_differs():
    assert plan_diff.normalize(dump(op="Sample")) != plan_diff.normalize(
        dump(op="Filter", rdd=317)
    )


def test_sample_seed_stays_visible():
    assert plan_diff.normalize(dump()) != plan_diff.normalize(
        dump().replace("false, 42", "false, 43")
    )
