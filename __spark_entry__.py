"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over claim_analysis_engine_spark.registry: every
implemented operator from SURVEY.md §2 registers a Spark query and
(when ANSI-SQL-expressible) a DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from claim_analysis_engine_spark.registry import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the engine's signature
    monthly-count → zero-filled spine → MoM pipeline (EP2's substrate)."""
    from claim_analysis_engine_spark.operators.pivots import spine_zero

    return spine_zero(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Each op's computation, not its memoized replay: a caller that
    times or checks an op runs the op every call."""
    return {op_id: op.query.__wrapped__ for op_id, op in registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        op_id: op.oracle for op_id, op in registry().items() if op.oracle is not None
    }
