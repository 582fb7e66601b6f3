"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over :mod:`spotify_app_etl_spark`: the engine's named
queries (one per implemented operator, SURVEY.md §2) and their DuckDB
oracle SQL live in ``spotify_app_etl_spark/plans/*`` and register with
``spotify_app_etl_spark.registry``.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the engine importable no matter where the driver launched from.
_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from spotify_app_etl_spark import registry  # noqa: E402
from spotify_app_etl_spark.plans.relational import pricing_summary  # noqa: E402
from spotify_app_etl_spark.session import configure_session  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return pricing_summary(configure_session(spark), SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Named queries: each callable takes (spark, sf_dir) → DataFrame
    and configures ``spark`` before it runs."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted → rows-only)."""
    return registry.oracle_sql()
