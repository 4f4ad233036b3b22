"""Query registry: every operator capability exposed as a named query.

Each entry pairs a Spark DataFrame program with (when SQL-expressible)
an equivalent DuckDB oracle SQL string; tests/test_queries_oracle.py
runs both for every entry and hash-compares them.

``REGISTRY`` holds the entries in the order their ``@query`` decorators
ran: the submodules below, imported in sorted order, each in source
order.
"""

from big_data_project_implementation_spark.queries.registry import (
    REGISTRY,
    QuerySpec,
    query,
)

# registration side effects — keep sorted
from big_data_project_implementation_spark.queries import (  # noqa: E402,F401
    aggregates_q,
    events_q,
    functions_q,
    joins_q,
    pipeline_q,
    relational_q,
    streaming_q,
    tpch_q,
    udf_q,
    windows_q,
)

__all__ = ["REGISTRY", "QuerySpec", "query"]
