"""Member queries — the reference's most complex surface
(`ddb/src/members.rs`, esp. FETCH_CLUB_MEMBERS_QUERY :362-520 and the
all-members query :432-520). Re-expressed as one shared lazy plan with
parameterized scope, matching the reference's semantics exactly:

- member periods come from membership paragraphs (dedupe-pick keeps MIN
  paragraph_id per natural key — A2, :240-258);
- two liveness windows (SURVEY §7.4.4): the *all* query uses
  join ≤ today AND (leave IS NULL OR leave ≥ today − 1y) (:344-345); the
  *club/region* query uses join ≤ today AND (leave IS NULL OR leave ≥ today)
  (:393-395);
- member existence requires ≥1 membership link (P6, :346-348): an inner
  join to the per-user pick;
- users who are someone's partner are excluded as primary rows (P7, :349);
- per-user pick = argmax join_date (A3, :421-430) with deterministic
  MIN-paragraph_id tie-break (the reference kept SQL ties — SURVEY §7.4.1);
- member_type: any active home/intraclub link → regular, else affiliate
  (:201-206, 698-710; intraclub collapses into regular on the target side
  :759-766); the flag (A1) is a window max in the same pass as the A3 pick;
- member_status decode: 947/1099 → current, 951 → lapsed (:666-677);
- member_class from taxonomy term name, default Regular (:603-634);
- email-priority dedup LAST (A4, :41-55): regular beats affiliate, tie =
  lowest uid; runs after scope filtering (SURVEY §7.4.3);
- partner synthesized from the search row's partner_* columns as a nested
  struct, NULL when no partner (:983-1022).

Plan shape: the paragraphs are hash-partitioned on the user once, and the
A2 window and the A1/A3 window both run on that partitioning, so a member
query shuffles once per key (user, email). `clubs` is read once, as a
broadcast dimension joined to the paragraphs before A2: the scope (J5) is a
filter on that dimension and its columns ride through the pick.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from aci_export_spark.functions.dates import utc_today
from aci_export_spark.functions.text import split_csv_trim
from aci_export_spark.operators.dedup import argmax_per_key, dedupe_keep_min, priority_dedup

STATUS_CURRENT = ("947", "1099")
STATUS_LAPSED = ("951",)
STATUS_ALL = STATUS_CURRENT + STATUS_LAPSED

REGULAR_KINDS = ("field_home_club", "field_intraclub_memberships")
AFFILIATE_KIND = "field_memberships"


def _today(today: str | None) -> Column:
    return F.lit(today).cast("date") if today else F.current_date()


def _periods(
    tables: dict[str, DataFrame], clubs: DataFrame | None = None, how: str = "left"
) -> DataFrame:
    """Membership periods, hash-partitioned on the user. With `clubs` (a
    dimension keyed `club_nid`) each paragraph is first joined to it, `how`
    deciding whether a paragraph without a dimension row stays, and every
    other dimension column is carried to the output."""
    paras = tables["membership_paragraphs"]
    taxonomy = tables["taxonomy"]

    base = paras.filter(
        (F.col("ptype") == "membership")
        & (F.col("status") == 1)
        & F.col("join_date").isNotNull()
        & F.col("link_kind").isNotNull()
    )
    club_cols = []
    if clubs is not None:
        # club_nid is an A2 key, so dropping rows by club here keeps A2 exact;
        # the join runs before the shuffle, so a scoped query shuffles only
        # the paragraphs of its scope
        base = base.join(broadcast(clubs), on="club_nid", how=how)
        club_cols = [c for c in clubs.columns if c != "club_nid"]
    # the one shuffle on the user: a hash partitioning on parent_id satisfies
    # the A2 window below (its keys include parent_id) and a caller's
    # per-user windows, so neither adds an exchange
    base = base.repartition("parent_id")
    # A2 dedupe-pick: keep MIN paragraph_id per natural key
    deduped = dedupe_keep_min(
        base, ["parent_id", "club_nid", "join_date", "link_kind"], "paragraph_id"
    )
    member_type = (
        F.when(F.col("link_kind") == "field_home_club", "regular")
        .when(F.col("link_kind") == "field_intraclub_memberships", "intraclub")
        .when(F.col("link_kind") == AFFILIATE_KIND, "affiliate")
    )
    classes = taxonomy.filter(F.col("vid") == "membership_class").select(
        F.col("tid").alias("membership_class_tid"), F.col("name").alias("class_name")
    )
    return deduped.join(broadcast(classes), on="membership_class_tid", how="left").select(
        "paragraph_id",
        F.col("parent_id").alias("user_uid"),
        F.col("club_nid").alias("club_uid"),
        F.to_date("join_date").alias("join_date"),
        F.to_date("leave_date").alias("leave_date"),
        member_type.alias("member_type"),
        F.coalesce(F.col("class_name"), F.lit("Regular")).alias("member_class"),
        *club_cols,
    )


def membership_periods(tables: dict[str, DataFrame]) -> DataFrame:
    """Cleaned membership periods: one row per (user, club, join_date, kind)
    with member_type/member_class decoded. Reference :193-259."""
    return _periods(tables)


def _active_periods(periods: DataFrame, today: Column, grace_months: int | None) -> DataFrame:
    """Liveness windows (SURVEY §7.4.4). grace_months=None → strict today
    window (club query); 12 → the all-members 1-year grace window."""
    leave_ok = (
        F.col("leave_date").isNull()
        | (F.col("leave_date") >= (F.add_months(today, -grace_months) if grace_months else today))
    )
    return periods.filter((F.col("join_date") <= today) & leave_ok)


def members(
    tables: dict[str, DataFrame],
    club: int | None = None,
    region: int | None = None,
    statuses: tuple[str, ...] = STATUS_ALL,
    today: str | None = None,
) -> DataFrame:
    """The member query, all three scopes (unscoped / club / region) from one
    plan — the reference's UNION-IN scope pattern (J5, :381-392) as a filter
    on the broadcast club dimension; P12 parameterization as function args."""
    search = tables["member_search"]
    brns = tables["brns"]
    t = _today(today)

    club_dim = tables["clubs"].select(
        F.col("uid").alias("club_nid"),
        F.col("number").alias("club_number"),
        F.col("name").alias("club_name"),
        F.col("region_uid").alias("club_region"),
    )
    if club is not None or region is not None:
        # J5: scope = single club ∪ clubs-of-region, as one filter on the
        # dimension (a NULL parameter compares NULL and selects nothing). The
        # inner join then drops paragraphs of clubs outside the scope, and
        # of clubs `clubs` does not have at all.
        club_dim = club_dim.filter(
            (F.col("club_nid") == F.lit(club)) | (F.col("club_region") == F.lit(region))
        )
        active = _active_periods(_periods(tables, club_dim, "inner"), t, grace_months=None)
    else:
        active = _active_periods(_periods(tables, club_dim), t, grace_months=12)

    # A1 flag + A3 argmax pick over the scope-filtered active periods, in one
    # pass over the user partitioning
    has_regular_link = F.max(F.col("member_type").isin("regular", "intraclub")).over(
        Window.partitionBy("user_uid")
    )
    picked = argmax_per_key(
        active.withColumn("has_regular_link", has_regular_link),
        ["user_uid"],
        "join_date",
        tie_break=[F.col("paragraph_id").asc()],
    ).select(
        F.col("user_uid").alias("user_id"),
        "has_regular_link",
        "member_class",
        "join_date",
        "club_uid",
        "club_number",
        "club_name",
        "club_region",
    )

    # P4 status domain filter
    rows = search.filter(F.col("personal_status_id").isin(*statuses))
    # P7 partner exclusion: drop primaries who are someone's partner
    partner_ids = search.filter(F.col("partner_user_id").isNotNull()).select(
        F.col("partner_user_id").alias("user_id")
    )
    # no broadcast hint: partner_ids derives from the fact table, so a forced
    # broadcast would blow up at scale — AQE picks broadcast at runtime when
    # the set is actually small. Duplicate keys do not change an anti-join.
    rows = rows.join(partner_ids, on="user_id", how="left_anti")
    # P6 membership-link existence (inner: must have ≥1 active link)
    rows = rows.join(picked, on="user_id", how="inner")

    member_type = F.when(F.col("has_regular_link"), "regular").otherwise("affiliate")
    member_status = (
        F.when(F.col("personal_status_id").isin(*STATUS_CURRENT), "current")
        .when(F.col("personal_status_id").isin(*STATUS_LAPSED), "lapsed")
    )

    brn_arr = brns.select(
        F.col("user_id"), split_csv_trim(F.col("brns_values")).alias("brn_numbers")
    )

    partner = F.when(
        F.col("partner_user_id").isNotNull(),
        F.struct(
            F.col("partner_user_id").alias("uid"),
            F.col("partner_email").alias("email"),
            F.col("partner_first_name").alias("first_name"),
            F.col("partner_last_name").alias("last_name"),
            F.to_date("partner_birthdate").alias("birthdate"),
        ),
    ).alias("partner")

    out = rows.join(brn_arr, on="user_id", how="left").select(
        "user_id",
        "email",
        "first_name",
        "last_name",
        F.to_date("birthdate").alias("birthdate"),
        member_status.alias("member_status"),
        member_type.alias("member_type"),
        "member_class",
        "join_date",
        F.to_date("membership_expire").alias("expiration_date"),
        "club_uid",
        "club_number",
        "club_name",
        "club_region",
        partner,
        F.coalesce(F.col("brn_numbers"), F.array().cast("array<string>")).alias(
            "brn_numbers"
        ),
    )

    # A4 email-priority dedup — AFTER scope filtering (SURVEY §7.4.3).
    # Rows with no usable email (NULL or '') get a per-user fallback key: the
    # reference's HashMap would collide all ''-email members arbitrarily
    # (nondeterministic winner); keeping them distinct is the deterministic
    # reading of "dedup by email".
    norm_email = F.lower(F.trim(F.col("email")))
    email_key = F.when(
        norm_email.isNull() | (norm_email == ""),
        F.concat(F.lit("\x00uid:"), F.col("user_id")),
    ).otherwise(norm_email)
    priority = F.when(F.col("member_type") == "regular", 0).otherwise(1)
    return priority_dedup(
        out, key=[email_key], priority=priority, tie_break=[F.col("user_id").asc()]
    )


# The one members() extract keyed lookups filter, as (key, persisted frame);
# see `lookup_extract`.
_held: tuple[tuple, DataFrame] | None = None


def release_lookup_extract() -> None:
    """Unpersist the held lookup extract, if any. One whose session was
    stopped is only dropped: its cache went with the session."""
    global _held
    if _held is not None:
        frame = _held[1]
        _held = None
        if frame.sparkSession.sparkContext._jsc is not None:
            frame.unpersist()


def lookup_extract(
    tables: dict[str, DataFrame],
    club: int | None = None,
    region: int | None = None,
    statuses: tuple[str, ...] = STATUS_ALL,
    today: str | None = None,
) -> DataFrame:
    """`members(tables, club, region, statuses, today)` persisted, built at
    the first keyed lookup for that catalog and parameter set and reused by
    every later one: a snapshot of the sources at that lookup. At most one
    extract is held; preparing another key, or opening a catalog
    (`catalog.load_catalog`), releases it. `today=None` resolves to the UTC
    date now, so no persisted plan carries `current_date()`.

    Spark's CacheManager serves every plan-equal plan from a cached one, so
    while an extract is held every `members()` call in the process with the
    same parameters over the same sources reads the snapshot too, the
    members frame of a sync run (`run_mirror_sync_and_write`) included."""
    global _held
    statuses, today = tuple(statuses), today or utc_today()
    # DataFrames compare by identity, so the key names this opened catalog
    key = (tuple(tables.items()), club, region, statuses, today)
    if _held is None or _held[0] != key:
        release_lookup_extract()
        _held = (key, members(tables, club, region, statuses, today).persist())
    return _held[1]


def member_by_uid(tables: dict[str, DataFrame], uid: int, **kw) -> DataFrame:
    """P12 point lookup (reference :57-67), a filter on `lookup_extract`."""
    return lookup_extract(tables, **kw).filter(F.col("user_id") == uid).limit(1)


def member_by_email(tables: dict[str, DataFrame], email: str, **kw) -> DataFrame:
    """P12 point lookup by normalized email (reference :69-78), a filter on
    `lookup_extract`."""
    return (
        lookup_extract(tables, **kw)
        .filter(F.lower(F.trim(F.col("email"))) == email.strip().lower())
        .limit(1)
    )


def membership_history(tables: dict[str, DataFrame], user_uid: int | None = None) -> DataFrame:
    """Full per-user membership period history (reference :84-110, 193-259):
    the deduped periods, ordered; optionally one user's."""
    periods = membership_periods(tables)
    order = ("user_uid", "join_date", "paragraph_id")
    if user_uid is None:
        return periods.orderBy(*order)
    # one user's few rows: sorted in one partition, with no range-partition
    # sampling job for a global sort
    return periods.filter(F.col("user_uid") == user_uid).coalesce(1).sortWithinPartitions(*order)
