"""Physical-plan audit helper (used by tests and scripts/gen_plans.py).

The engine's scale posture is enforced, not just hoped for: tests assert
that predicates reach the scan, that dimension joins broadcast, and that
bucketed joins need no Exchange — all on the formatted plan text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
