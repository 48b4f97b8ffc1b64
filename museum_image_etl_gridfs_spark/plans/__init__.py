"""Named logical plans (queries) + the query registry."""

from .registry import Query, all_queries, query  # noqa: F401
