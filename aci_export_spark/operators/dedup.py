"""Dedup / selection operators (reference A2, A3, A4; SURVEY.md §2.4-2.5).

The reference expressed these as GROUP BY + join-back (SQL) or driver-side
HashMaps (Rust). Here each is a single Window pass: one shuffle on the
partition key instead of an aggregate shuffle plus a join shuffle. Partition
keys are high-cardinality (user id, email) so the window parallelizes cleanly
at 100 TB; AQE splits any residual skew.

Determinism: the reference's HashMap ordering and SQL tie-keeping were
nondeterministic (SURVEY.md §7.4.1). We fix explicit total orders via
`tie_break` columns and document each choice.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "__rn"


def _pick_first(df: DataFrame, partition_by: Sequence[str | Column], order_by: Sequence[Column]) -> DataFrame:
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(_RN, F.row_number().over(w)).filter(F.col(_RN) == 1).drop(_RN)


def dedupe_keep_min(df: DataFrame, keys: Sequence[str], id_col: str) -> DataFrame:
    """Per duplicate-key group keep the row with MIN(id_col).

    Reference A2 (`ddb/src/members.rs:240-258`): `GROUP BY user,club,join,type
    → MIN(paragraph_id)` then join back. One window pass here; the MIN-id
    choice is already a deterministic total order.
    """
    return _pick_first(df, list(keys), [F.col(id_col).asc()])


def argmax_per_key(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    tie_break: Sequence[Column] | None = None,
) -> DataFrame:
    """Per key keep the row with the greatest `order_col` (latest-wins).

    Reference A3 (`ddb/src/members.rs:421-430`): per-uid row whose join_date
    equals MAX(join_date). The reference SQL kept *ties*; we take one row with
    a deterministic tie-break (default: ascending remaining-column order is
    NOT enough, so callers pass e.g. paragraph_id asc — matching the MIN-id
    convention of A2; SURVEY.md §7.4.1).
    """
    order = [F.col(order_col).desc_nulls_last()] + list(tie_break or [])
    return _pick_first(df, list(keys), order)


def priority_dedup(
    df: DataFrame,
    key: Column | Sequence[Column | str],
    priority: Column,
    tie_break: Sequence[Column] | None = None,
) -> DataFrame:
    """Keep one row per key, lowest `priority` value wins.

    Reference A4 (`ddb/src/members.rs:41-55`): dedupe members by email where a
    regular membership beats an affiliate one. The reference's HashMap made
    ties arbitrary; `tie_break` fixes them (SURVEY.md §7.4.3: run AFTER scope
    filtering — order of operations is semantic).
    """
    keys = list(key) if isinstance(key, (list, tuple)) else [key]
    order = [priority.asc()] + list(tie_break or [])
    return _pick_first(df, keys, order)

