"""Query catalog: every operator claimed in SURVEY.md §2 has an entry here.

Each :class:`QuerySpec` pairs a Spark DataFrame implementation (a callable
``(spark, sf_dir) -> DataFrame``) with an equivalent ANSI/DuckDB oracle SQL
string (or ``None`` for non-SQL-expressible operators → the driver records a
rows-only check).

:func:`register` is the only way a query enters the catalog; ``SPECS()``
lists queries in the import order of the plan modules in ``_load_all``.

Cross-engine determinism rules used throughout (so the driver's
order-insensitive value-hash matches):

- money/double aggregates go through exact DECIMAL summation and are cast
  back to DOUBLE (`sum(cast(x as decimal(18,6)))` is associative and
  engine-identical; a parallel double sum is not);
- any genuinely floating result (cosine similarity, ratios) is rounded with
  the explicit half-up formula ``floor(x*10^d + 0.5)/10^d`` on BOTH sides;
- every computed column is aliased identically in Spark and SQL;
- window orderings always include a unique tie-break column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator adding ``(spark, sf_dir) -> DataFrame`` to the catalog.

    The only way an operator enters the catalog; a name registered twice
    raises instead of silently shadowing the first spec.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _REGISTRY:
            raise ValueError(f"catalog query {name!r} is already registered")
        _REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def _load_all() -> None:
    # imports populate _REGISTRY via the register decorator
    from dbt_glue_spark.plans import relational  # noqa: F401
    from dbt_glue_spark.plans import tpch_suite  # noqa: F401
    from dbt_glue_spark.plans import materialization_queries  # noqa: F401
    from dbt_glue_spark.plans import extension_queries  # noqa: F401
    from dbt_glue_spark.plans import udf_queries  # noqa: F401
    from dbt_glue_spark.plans import round7_staged  # noqa: F401
    from dbt_glue_spark.plans import round8_staged  # noqa: F401
    from dbt_glue_spark.plans import round9_staged  # noqa: F401
    from dbt_glue_spark.plans import round10_staged  # noqa: F401
    from dbt_glue_spark.plans import round11_staged  # noqa: F401
    from dbt_glue_spark.plans import round12_staged  # noqa: F401
    from dbt_glue_spark.plans import round13_staged  # noqa: F401


def QUERIES() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in SPECS().items()}


def ORACLES() -> dict[str, str]:
    return {name: spec.oracle for name, spec in SPECS().items() if spec.oracle}


def SPECS() -> dict[str, QuerySpec]:
    """Every registered query, in registration (import) order."""
    _load_all()
    return dict(_REGISTRY)
