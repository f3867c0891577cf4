"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` maps every
implemented SURVEY.md §2B operator id to a ``(spark, sf_dir) -> DataFrame``,
in registry order; ``oracle_sql()`` gives the DuckDB-equivalent SQL for
hash-match verification.
Operator implementations live in ``iot_data_pipeline_spark``; this module is
pure registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may invoke this file from anywhere; make the package importable.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from iot_data_pipeline_spark.functions import scalar_suites  # noqa: E402
from iot_data_pipeline_spark.operators import (  # noqa: E402
    analytics,
    llm,
    maintenance,
    multimodal,
    relational,
    reshape,
    skew,
    udfs,
)
from iot_data_pipeline_spark.sources import iot_simulator  # noqa: E402
from iot_data_pipeline_spark.streaming import streams  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: 5-way join region→nation→customer→orders→lineitem
    with per-region revenue aggregation (scan + broadcast join + shuffle
    join + hash agg in one plan) at sf0.001."""
    return relational.join_multiway(spark, "/root/testdata/sf0.001")


_MODULES = [
    relational,
    reshape,
    analytics,
    maintenance,
    scalar_suites,
    udfs,
    llm,
    multimodal,
    streams,
    iot_simulator,
    skew,
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2B/§2C, in
    registry order: each module's ``QUERIES`` in ``_MODULES`` order."""
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    return merged


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query id (omitted ids → rows-only)."""
    merged: dict[str, str] = {}
    for mod in _MODULES:
        merged.update(mod.ORACLES)
    return merged
