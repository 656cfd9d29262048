"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship north_star pipeline (pages →
multiline+dissect parse → broadcast enrich → outil route) over the
sf0.001 tables. ``queries()`` / ``oracle_sql()`` expose the operator
catalog from ``beats_spark.queries`` — every SURVEY.md §2 family of
the shipper — with DuckDB oracle SQL for each SQL-expressible entry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the package lives beside this file; make imports robust however the
# driver loads the module (spec-from-file, cwd elsewhere, …)
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from beats_spark.queries import QUERIES, ORACLES, flagship_events  # noqa: E402

_SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship parse→enrich→route pipeline at sf0.001."""
    return flagship_events(spark, _SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
