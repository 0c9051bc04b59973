"""Relational-level spatial operators (join, aggregates), plus the
text-pipeline modules pipeline, textops, lm and events."""

from .aggregates import st_collect_agg, st_extent_agg, st_intersection_agg, st_union_agg  # noqa: F401
from .join import st_join  # noqa: F401
