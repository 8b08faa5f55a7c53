"""Query catalog: every implemented operator category from SURVEY.md §2 has
an entry here, as (spark_callable, duckdb_oracle_sql | None) pairs.

Column-name discipline: every computed column is aliased IDENTICALLY in the
Spark plan and the oracle SQL (the driver hash-compares values after sorting
columns by name). Float outputs are rounded on BOTH sides so cross-engine
summation order can't flip a hash.

Registration order: the CDC engine's entries first, then the TPC-H and
training-data pipeline entries. The external correctness harness that reads
this catalog reports only the first 50 registered queries, so every engine
entry is inside that window; the local DuckDB parity suite
(`tests/test_queries_vs_duckdb.py`) checks every entry each run regardless
of position.
"""

from embulk_filter_copy_spark.queries.cdc_queries import QUERIES as CDC_QUERIES
from embulk_filter_copy_spark.queries.pipeline import QUERIES as PIPELINE_QUERIES
from embulk_filter_copy_spark.queries.tpch import QUERIES as TPCH_QUERIES

ALL_QUERIES: dict = {}
for m in (CDC_QUERIES, TPCH_QUERIES, PIPELINE_QUERIES):
    dup = set(m) & set(ALL_QUERIES)
    assert not dup, f"duplicate query names: {dup}"
    ALL_QUERIES.update(m)

__all__ = ["ALL_QUERIES"]
