"""Query-plan registry package.

Importing this package registers every named query (side-effect imports
below). ``__spark_entry__.py`` re-exports :func:`all_queries` /
:func:`all_oracles` for the driver.
"""

from ecommerce_etl_pipeline_spark.plans.registry import (  # noqa: F401
    QuerySpec,
    all_oracles,
    all_queries,
    get,
    register,
)

# Side-effect imports: each module registers its queries on import.
from ecommerce_etl_pipeline_spark.plans import aggregates  # noqa: F401,E402

_MODULES = [aggregates]

for _optional in (
    "filters",
    "joins",
    "nested",
    "windows",
    "setops",
    "sampling",
    "llmops_queries",
    "extended",
    "temporal",
    "pipelines_queries",
):
    try:
        _MODULES.append(
            __import__(
                f"ecommerce_etl_pipeline_spark.plans.{_optional}", fromlist=[_optional]
            )
        )
    except ModuleNotFoundError:
        pass
