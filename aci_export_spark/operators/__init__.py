"""Reusable relational operators (SURVEY.md §2).

Each operator is a DataFrame → DataFrame function built from declarative
primitives so Catalyst keeps full optimization freedom. Where the reference
used group-by + join-back or driver-side hash maps, these use genuine Window
functions (one shuffle instead of two; SURVEY.md §2.5).
"""

from aci_export_spark.operators.dedup import (
    dedupe_keep_min,
    argmax_per_key,
    priority_dedup,
)
from aci_export_spark.operators.joins import scoped_semi_join
from aci_export_spark.operators.mirror import upsert, retain, mirror_sync

__all__ = [
    "dedupe_keep_min",
    "argmax_per_key",
    "priority_dedup",
    "scoped_semi_join",
    "upsert",
    "retain",
    "mirror_sync",
]
