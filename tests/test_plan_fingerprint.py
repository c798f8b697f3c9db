"""tools/plan_fingerprint.py: lambda-variable counters are session-global,
so the fingerprint renumbers them per plan. Renumbered counters must
fingerprint equal; a different choice of referenced variable must not."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import functions as F

_spec = importlib.util.spec_from_file_location(
    "plan_fingerprint",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "plan_fingerprint.py"),
)
pf = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pf)


def _nested_plan(spark, body_refs_outer: bool) -> str:
    # outer and inner lambda variables are both bigint and both named
    # x_<counter> by pyspark, so only the counter tells them apart
    base = spark.range(3).select(
        F.array("id").alias("a"), F.array(F.col("id") + 1).alias("c"))
    df = base.select(F.transform(
        "a",
        lambda x: F.transform(
            "c", lambda y: x if body_refs_outer else y),
    ).alias("b"))
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_session_counters_renumbered(spark):
    first, second = _nested_plan(spark, True), _nested_plan(spark, True)
    assert first != second  # the session counter moved on
    assert pf.fingerprint(first) == pf.fingerprint(second)


def test_referenced_lambda_variable_changes_fingerprint(spark):
    outer = _nested_plan(spark, True)
    inner = _nested_plan(spark, False)
    assert pf.fingerprint(outer) != pf.fingerprint(inner)


def test_lambda_names_with_underscores_and_digits():
    a = "transform(a#1, lambdafunction(lambda my_var2_17#5L, lambda my_var2_17#5L))"
    b = "transform(a#9, lambdafunction(lambda my_var2_40#8L, lambda my_var2_40#8L))"
    c = "transform(a#9, lambdafunction(lambda my_var2_40#8L, lambda my_var2_41#8L))"
    assert pf.normalize(a) == pf.normalize(b)
    assert "lambda my_var2_0#xL" in pf.normalize(a)
    assert pf.normalize(b) != pf.normalize(c)
