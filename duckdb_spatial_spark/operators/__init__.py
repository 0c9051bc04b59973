"""Relational-level spatial operators: join and aggregates."""

from .aggregates import st_collect_agg, st_extent_agg, st_intersection_agg, st_union_agg  # noqa: F401
from .join import st_join  # noqa: F401
