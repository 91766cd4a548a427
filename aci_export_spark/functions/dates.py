"""Date/interval expressions (reference F1-F3, F11, P5, J10; SURVEY.md §2.8).

All pure column expressions. Interval semantics follow the reference exactly:
both endpoints inclusive, NULL end-date = open interval
(`ddb/src/leadership.rs:106-119`).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column
from pyspark.sql import functions as F


def utc_today() -> str:
    """Today's UTC date as an ISO string. A sync run resolves it once at its
    start and passes it down, so every plan of the run (and every cached
    block recomputed after eviction) filters on the same day, even across
    midnight."""
    return datetime.now(timezone.utc).date().isoformat()


def epoch_to_date(epoch_seconds: Column) -> Column:
    """Epoch seconds → DATE (reference F2: `FROM_UNIXTIME(login)` → DATE,
    `ddb/src/users.rs:64`). Session TZ is pinned to UTC so this is
    deterministic across clusters."""
    return F.to_date(F.from_unixtime(epoch_seconds))


def as_of_predicate(start: Column, end: Column, as_of: Column | None = None) -> Column:
    """Interval membership at probe date (reference J10,
    `ddb/src/leadership.rs:95-122` and P5 variant 2 `ddb/src/members.rs:393-395`):
    start ≤ d AND (end IS NULL OR end ≥ d). Both endpoints inclusive."""
    d = as_of if as_of is not None else F.current_date()
    return (start <= d) & (end.isNull() | (end >= d))


def render_date(col: Column) -> Column:
    """Merge-field Date rendering `%Y-%m-%d` (reference F11,
    `mailchimp/src/merge_fields.rs:292-299`)."""
    return F.date_format(col, "yyyy-MM-dd")


def render_birthday(col: Column) -> Column:
    """Merge-field Birthday rendering `%m/%d` (reference F11,
    `mailchimp/src/merge_fields.rs:300-306`)."""
    return F.date_format(col, "MM/dd")
