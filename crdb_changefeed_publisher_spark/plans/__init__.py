"""Named analytics queries (the driver-contract surface).

Importing this package populates the registry: every module below registers
its QuerySpecs (Spark implementation + DuckDB oracle SQL) on import.
"""

from crdb_changefeed_publisher_spark.plans.registry import (  # noqa: F401
    QuerySpec,
    all_specs,
    get_spec,
    query,
    retired_specs,
)

# Populate the registry.
from crdb_changefeed_publisher_spark.plans import (  # noqa: F401,E402
    cdc,
    events,
    extra,
    llm,
    realism,
    scalar,
    spanedit,
    tpch,
)
