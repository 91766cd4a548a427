"""Join-shaped operators (reference J1-J14; SURVEY.md §2.3).

Plain equi-joins stay as `df.join(...)` at call sites — Catalyst handles them.
What lives here is the scope semi-join the reference built by hand, written
so the small side broadcasts (no shuffle of the fact table), and a salted
join for hot keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def scoped_semi_join(facts: DataFrame, scope: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """facts ∈ scope via left-semi join against a (tiny) scope DF.

    Reference J5 (`ddb/src/members.rs:381-392`): one query serves club-scope,
    region-scope, and unscoped by IN-ing a `single ∪ expansion` subquery.
    The scope side is a handful of keys → broadcast, so the fact side is
    filtered in place with zero shuffle.
    """
    return facts.join(broadcast(scope), on=on, how="left_semi")


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed (left) side, replicate the
    right side across the salt space.

    When one join key carries a disproportionate share of rows (the classic
    hot-key problem — e.g. one club holding half the members), a plain
    shuffle join lands the whole hot key in one task. Salting splits each
    left key into `salt_buckets` sub-keys and explodes every right row into
    all buckets, so the hot key spreads over `salt_buckets` tasks at the
    cost of a `salt_buckets`× replication of the (small) right side.

    AQE's skew-join splitting (`spark.sql.adaptive.skewJoin`, on by default
    in session.py) handles most skew automatically at runtime; this explicit
    form is for keys so hot that even a split shuffle block overflows, or
    for deterministic plan shape in benchmarks. Semantically identical to
    `left.join(right, on, how)` for inner/left joins.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "right/full would emit each unmatched right row once per salt bucket"
        )
    on = list(on)
    # DETERMINISTIC salt (guide-§2.5 / SPARK-38388 discipline): a rand()
    # salt re-draws under task retry, so re-run map tasks can send the
    # same row to a different bucket and rows duplicate or vanish after a
    # fetch failure. Hashing the row's full content is retry-stable; any
    # salt assignment yields the identical join output (the right side
    # carries every bucket), so this is output-invariant.
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                  F.lit(salt_buckets)).cast("int")
    l = left.withColumn("__salt", salt)
    r = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return l.join(r, on=on + ["__salt"], how=how).drop("__salt")
