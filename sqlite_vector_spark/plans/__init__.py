"""Plan inspection helpers — used by tests to assert the physical
plans stay scale-shaped (SURVEY.md §4): top-k compiles to
TakeOrderedAndProject, scans prune columns, small sides broadcast."""

from __future__ import annotations

import re
import tempfile

from pyspark.sql import DataFrame

_TMP = re.compile(r"(file:)?" + re.escape(tempfile.gettempdir()) + r"/[^\s,\])]+")


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.org.apache.spark.sql.execution.ExplainUtils.processPlan(
        df._jdf.queryExecution().executedPlan(),
        df._sc._jvm.java.lang.StringBuilder(),
    ) if False else df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def normalized_plan(df: DataFrame) -> str:
    """Optimized logical plan text with what differs between two builds
    of the same plan erased: expression ids (#12, #12L), plan ids and
    temp paths. Lambda variables, which PySpark names x_12 and SQL text
    names freely, are renamed _0, _1, ... in order of first appearance,
    so swapped arguments still differ. Equal text = the same plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    seen: dict[str, str] = {}
    plan = re.sub(r"\blambda [^\s,()#]+#(\d+)", lambda m: "lambda _" + seen.setdefault(m[1], str(len(seen))), plan)
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"\bplan_id=\d+", "plan_id=", plan)
    return _TMP.sub("<tmp>", plan)


def assert_in_plan(df: DataFrame, *needles: str) -> None:
    plan = physical_plan(df)
    missing = [n for n in needles if n not in plan]
    if missing:
        raise AssertionError(f"plan is missing {missing}:\n{plan}")


def assert_not_in_plan(df: DataFrame, *needles: str) -> None:
    plan = physical_plan(df)
    present = [n for n in needles if n in plan]
    if present:
        raise AssertionError(f"plan unexpectedly contains {present}:\n{plan}")
