"""Query plans: the registry maps every implemented operator from
SURVEY.md §2 to (Spark callable, DuckDB oracle SQL).

Registration order is module import order, then source order within a
module. ``queries_core`` is imported first so the flagship
``flagship_regional_rollup`` (the smoke query ``entry()`` in
``__spark_entry__.py`` runs) is registry position 0, the first query any
in-order consumer of ``queries()`` sees. Every query has an oracle."""

from census_data_pipeline_spark.plans import (  # noqa: F401, I001
    queries_core,
    queries_analytics,
    queries_ext,
)
from census_data_pipeline_spark.plans.registry import ORACLE, QUERIES

__all__ = ["QUERIES", "ORACLE"]
