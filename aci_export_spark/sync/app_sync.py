"""The Drupal → app-DB mirror pipeline (reference sync-app, SURVEY.md §3.2).

Extract = the query library (lazy scans); transform = consolidation joins;
load = mirror upsert in FK-safe order; GC = retain in reverse-dependency
order (reference sync-app/src/sync.rs:469-637). Each target table's write is
one job that also yields its stats (`operators/mirror.mirror_sync_observed`);
stats per entity mirror the reference's {upserted, deleted, duration}.

One extract per run, like the reference: `run_mirror_sync_and_write` builds
the unscoped `members()` frame once and persists it, then derives the `users`
consolidation from it and persists that too. The person-keyed sources
(`users`, `members`, `addresses`, `brns`) all read these two cached frames, so
the members pipeline runs once per run instead of once per consumer. Both are
released when the run ends, also when it fails.

Target tables are plain-parquet mirrors, `<mirror_dir>/<name>.parquet`; the
diff reads only their keys (`mirror_sync_observed`). The reference's own
transactional target, Postgres, is `operators/mirror.JdbcMirror`. The person
key for every person-keyed target table is the email-derived synthetic id
(db/src/user.rs:31-35) via `id_for_email`.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aci_export_spark.functions.dates import utc_today
from aci_export_spark.functions.ids import id_for_email
from aci_export_spark.operators import mirror as mirror_ops
from aci_export_spark.queries import members as M
from aci_export_spark.queries import leadership as L
from aci_export_spark.queries import entities as E
from aci_export_spark.session import persisted

#: FK-safe load order and its reverse for GC (sync.rs:527-537, 592-616).
LOAD_ORDER = ("regions", "clubs", "users", "members", "addresses", "brns", "leadership_club")


def extract_users(tables: dict[str, DataFrame], mem: DataFrame) -> DataFrame:
    """users := member primaries ∪ partners ∪ leadership persons, distinct by
    uid (A5/U2, sync.rs:497-514) — one unionByName + dropDuplicates plan over
    the run's unscoped `members()` frame `mem`."""
    primaries = mem.select(
        F.col("user_id").alias("uid"), F.col("email"),
        F.col("first_name"), F.col("last_name"),
    )
    partners = (
        mem.filter(F.col("partner").isNotNull())
        .select(
            F.col("partner.uid").alias("uid"), F.col("partner.email").alias("email"),
            F.col("partner.first_name").alias("first_name"),
            F.col("partner.last_name").alias("last_name"),
        )
    )
    lead_people = (
        L.leadership(tables)
        .select(F.col("person_uid").alias("uid"))
        .distinct()
        .join(
            tables["users"].select(
                "uid", F.col("mail").alias("email"), "first_name", "last_name"
            ),
            on="uid",
            how="inner",
        )
    )
    out = (
        primaries.unionByName(partners).unionByName(lead_people)
        .withColumn("uid", F.col("uid").cast("long"))
        .dropDuplicates(["uid"])
    )
    # the synthetic id IS the target PK (db/src/user.rs:31-35): rows with no
    # usable email have no identity in the person-keyed mirror and are
    # excluded here — Postgres would reject a NULL PK upsert
    return (
        out.filter(F.col("email").isNotNull() & (F.trim(F.col("email")) != ""))
        .withColumn("id", id_for_email(F.col("email")))
    )


def target_members(mem: DataFrame) -> DataFrame:
    """db-side member rows of the run's unscoped `members()` frame `mem`:
    person keys become email hashes; intraclub collapses into regular
    (ddb/src/members.rs:759-766)."""
    mem = mem.filter(F.col("email").isNotNull() & (F.trim(F.col("email")) != ""))
    member_type = F.when(F.col("member_type") == "intraclub", "regular").otherwise(
        F.col("member_type")
    )
    # a partner without an email keeps the member row but gets no partner key
    partner_email_ok = F.col("partner").isNotNull() & F.col("partner.email").isNotNull() & (
        F.trim(F.col("partner.email")) != ""
    )
    return mem.select(
        id_for_email(F.col("email")).alias("primary_user"),
        F.when(partner_email_ok, id_for_email(F.col("partner.email"))).alias(
            "partner_user"
        ),
        F.lower(F.col("member_class")).alias("member_class"),
        member_type.alias("member_type"),
        F.col("expiration_date"),
        F.col("join_date"),
        F.col("club_uid").alias("local_club"),
    )


def _build_sources(
    tables: dict[str, DataFrame], mem: DataFrame, users: DataFrame
) -> dict[str, tuple[DataFrame, list[str]]]:
    """Every target table's source DataFrame + mirror key, FK-safe order
    (the extract+transform phases of §3.2 as lazy plans). `mem` is the run's
    unscoped `members()` frame and `users` its `extract_users` consolidation;
    every person-keyed source derives from these two."""
    members_t = target_members(mem)
    clubs_t = E.clubs(tables, active_only=True).select("uid", "number", "name", "region")
    regions_t = E.regions(tables).select("uid", "number", "name")
    addresses_t = E.addresses(tables, mailing_only=True).join(
        users.select(F.col("uid").alias("user_uid"), F.col("id").alias("user_id")),
        on="user_uid",
        how="inner",  # J12: only addresses of known users
    ).select("user_id", "street_address", "street_address_2", "city", "state",
             "zip_code", "country")
    brns_t = (
        E.brns_wide(tables)
        .join(users.select(F.col("uid").alias("user_id"), F.col("id")), on="user_id", how="inner")
        .select(F.col("id").alias("user_id"), F.explode("brn_numbers").alias("number"))
        .distinct()
    )
    lead_club = L.dedup_for_upsert(
        L.filter_to_existing_entities(
            L.leadership(tables, L.ENTITY_CLUB), E.clubs(tables, active_only=True)
        )
    ).select(
        F.col("entity_uid").alias("club"), F.col("person_uid"), F.col("role_uid"),
        F.col("start_date"), F.col("end_date"),
    )

    return {
        "regions": (regions_t, ["uid"]),
        "clubs": (clubs_t, ["uid"]),
        "users": (users.select("id", "uid", "email", "first_name", "last_name"), ["id"]),
        "members": (members_t, ["primary_user"]),
        "addresses": (addresses_t, ["user_id"]),
        "brns": (brns_t, ["user_id", "number"]),
        "leadership_club": (lead_club, ["club", "person_uid", "role_uid", "start_date"]),
    }


def run_mirror_sync_and_write(
    tables: dict[str, DataFrame],
    spark,
    mirror_dir: str,
    today: str | None = None,
) -> dict[str, dict]:
    """One sync run: per entity in LOAD_ORDER, the mirror write IS the job
    that computes the stats (operators/mirror.mirror_sync_observed).

    `today` defaults to the UTC date at run start; the run's one `members()`
    frame and its `users` consolidation are cached for the run and released
    at its end (module docstring). A table not yet in `mirror_dir` (first
    run) diffs against an empty frame of the source's schema. Each table
    writes to a temp dir first — the post-state plan reads the live mirror's
    keys, so an in-place overwrite would truncate its own input mid-scan.
    Returns the per-entity stats map.
    """
    today = today or utc_today()
    with persisted(M.members(tables, today=today)) as mem, \
            persisted(extract_users(tables, mem)) as users:
        sources = _build_sources(tables, mem, users)
        stats: dict[str, dict] = {}
        for name in LOAD_ORDER:
            src, keys = sources[name]
            path = os.path.join(mirror_dir, f"{name}.parquet")
            tgt = spark.read.parquet(path) if os.path.exists(path) else src.limit(0)
            t0 = time.perf_counter()
            post, obs = mirror_ops.mirror_sync_observed(tgt, src, keys)
            tmp = path + ".tmp"
            post.write.mode("overwrite").parquet(tmp)
            if os.path.exists(path):
                shutil.rmtree(path)
            os.rename(tmp, path)
            got = obs.get
            stats[name] = {
                "upserted": int(got["upserted"] or 0),
                "deleted": int(got["deleted"] or 0),
                "duration_s": round(time.perf_counter() - t0, 3),
            }
    return stats

