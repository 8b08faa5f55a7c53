"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query (CDC replay of the events table through
the LakeTable merge path) at sf0.001. ``queries`` / ``oracle_sql`` expose
the 53 catalog queries (the 25 CDC engine queries first, then the
training-data dedup/similarity/sampling queries), each paired with a
DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from embulk_filter_copy_spark.queries import ALL_QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: replay sf0.001 events as a CDC upsert log through the
    bucketed copy-on-write merge path and return the final table state."""
    fn, _ = ALL_QUERIES["cdc_replay_events"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in ALL_QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in ALL_QUERIES.items() if sql is not None}
