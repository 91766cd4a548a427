"""Leadership queries (reference `ddb/src/leadership.rs`).

Semantics preserved:
- person key = COALESCE(user_uid, member_uid) (J4, :85-87);
- rows with NULL start_date dropped (:77-91 inner join on start field);
- DateFilter ∈ {all, current, as_of(d)}: interval membership with both
  endpoints inclusive, NULL end = open (J10, :95-122);
- committees get an implicit Chair role when role_tid is NULL
  (standing-committee query shape);
- pre-upsert natural-key dedup (A7, db/src/leadership.rs:161-165).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aci_export_spark.functions.dates import as_of_predicate
from aci_export_spark.operators.dedup import dedupe_keep_min

ENTITY_CLUB = "ssp_club"
ENTITY_REGION = "ssp_region"
ENTITY_INTERNATIONAL = "ssp_international_leadership"
ENTITY_COMMITTEE = "ssp_standing_committees"


def leadership(
    tables: dict[str, DataFrame],
    entity_type: str | None = None,
    entity_uid: int | None = None,
    date_filter: str = "all",
    as_of: str | None = None,
) -> DataFrame:
    """Leadership rows with the person key coalesced and the interval filter
    applied. date_filter: 'all' | 'current' | 'as_of' (with `as_of` date)."""
    lead = tables["leadership"]

    out = (
        lead.filter(F.col("start_date").isNotNull())
        .withColumn("person_uid", F.coalesce(F.col("user_uid"), F.col("member_uid")))
        .filter(F.col("person_uid").isNotNull())
        .withColumn("role_uid", F.coalesce(F.col("role_tid"), F.lit(0)))
        .withColumn("role_name", F.coalesce(F.col("role_name"), F.lit("Chair")))
        .withColumn("start_date", F.to_date("start_date"))
        .withColumn("end_date", F.to_date("end_date"))
    )
    if entity_type is not None:
        out = out.filter(F.col("entity_type") == entity_type)
    if entity_uid is not None:
        out = out.filter(F.col("entity_uid") == entity_uid)
    if date_filter == "current":
        out = out.filter(as_of_predicate(F.col("start_date"), F.col("end_date")))
    elif date_filter == "as_of":
        probe = F.lit(as_of).cast("date")
        out = out.filter(as_of_predicate(F.col("start_date"), F.col("end_date"), probe))
    return out.select(
        "entity_uid", "entity_type", "person_uid", "role_uid", "role_name",
        "start_date", "end_date",
    )


def leadership_by_number(
    tables: dict[str, DataFrame], entity_type: str, number: int, **kw
) -> DataFrame:
    """Two-step business-number → uid resolution (J11, reference :174-194).

    Expressed as a broadcast semi-join on the number-resolved uid rather than
    a driver-side uid collect, so the whole query stays one lazy plan (the
    dimension filter is a pushed-down scan; Catalyst broadcasts the
    single-row probe side). The reference resolves the number to ONE entity;
    if a data-quality duplicate gives two entities the same number, the
    lowest uid wins — deterministic, unlike a collect()[0] of an unordered
    result."""
    dim = tables["clubs"] if entity_type == ENTITY_CLUB else tables["regions"]
    probe = (
        dim.filter(F.col("number") == number)
        .agg(F.min("uid").alias("entity_uid"))
        .filter(F.col("entity_uid").isNotNull())
    )
    lead = leadership(tables, entity_type, **kw)
    return lead.join(F.broadcast(probe), on="entity_uid", how="left_semi")


def dedup_for_upsert(lead: DataFrame) -> DataFrame:
    """A7: drop duplicate (entity, person, role, start) natural keys before a
    mirror write. Per natural key it keeps the row with the earliest
    end_date; an open (NULL) end_date counts as the latest."""
    keyed = lead.withColumn(
        "__end_key", F.coalesce(F.col("end_date"), F.lit("9999-12-31").cast("date"))
    )
    out = dedupe_keep_min(
        keyed,
        ["entity_uid", "entity_type", "person_uid", "role_uid", "start_date"],
        "__end_key",
    )
    return out.drop("__end_key")


def filter_to_existing_entities(
    lead: DataFrame, dim: DataFrame, dim_key: str = "uid"
) -> DataFrame:
    """J12 referential-integrity filter: drop leadership rows whose entity has
    no dimension row (reference sync-app/src/sync.rs:541-590 warns per miss;
    the dropped rows are not returned). A semi-join ignores duplicate
    dimension keys, so they are not deduplicated first."""
    keys = dim.select(F.col(dim_key).alias("entity_uid"))
    return lead.join(keys, on="entity_uid", how="left_semi")
