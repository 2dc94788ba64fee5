"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). The catalog itself lives in
``temporai_mivdp_spark/queries.py`` — one entry per operator family from
SURVEY.md §2, each a composition of the engine's operators.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from temporai_mivdp_spark.queries import ORACLE, QUERIES, window_ordered  # noqa: E402
import temporai_mivdp_spark.queries_llm  # noqa: E402,F401  (registers llm-data queries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_revenue_by_nation"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered so the driver's 50-entry check window covers the least
    recently driver-green entries first: the sort key is the round of
    each entry's last green row in the committed ``CORRECTNESS_r*.json``
    (never green sorts first), newest-registered first among equals. See
    COVERAGE.md "Catalog window policy".
    """
    return window_ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key (ANSI; same parquet views)."""
    return window_ordered(ORACLE)
