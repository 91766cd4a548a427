"""The Drupal → Mailchimp audience pipeline (reference sync-mail, SURVEY.md
§3.3): scope dispatch → member documents (partner fan-out, typed merge
fields) → batch upsert → retain (delete stragglers) → tag updates.

One job = one DataFrame pipeline ending in the REST sinks (sync/rest.py);
jobs are driver-loop fan-out with per-job fault isolation (T6) — a failed
job logs and the loop proceeds (sync-mail/src/mailchimp.rs:202-236).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aci_export_spark.functions.dates import utc_today
from aci_export_spark.queries import members as M
from aci_export_spark.session import persisted
from aci_export_spark.sync import mail as mail_mod
from aci_export_spark.sync.rest import (
    retain_audience_sink,
    update_tags_sink,
    upsert_documents_sink,
)

log = logging.getLogger(__name__)


def default_source_cols() -> dict:
    """tag → (primary expression, partner expression) for the fixture
    merge-field schema (mailchimp/data/fields-*.toml shape). The partner
    document inherits club/join fields from the primary row, mirroring the
    reference's partner doc construction (ddb/src/members.rs:887-932)."""
    return {
        "FNAME": (F.col("first_name"), F.col("partner.first_name")),
        "LNAME": (F.col("last_name"), F.col("partner.last_name")),
        "BDAY": (F.col("birthdate"), F.col("partner.birthdate")),
        "JOINED": (F.col("join_date"), F.col("join_date")),
        "CLUBNUM": (F.col("club_number"), F.col("club_number")),
    }


def documents_for_scope(
    tables: dict[str, DataFrame],
    club: int | None = None,
    region: int | None = None,
    today: str | None = None,
) -> DataFrame:
    """Scope dispatch (club → by_club, region → by_region, else all;
    mailchimp.rs:168-177) + document transform."""
    mem = M.members(tables, club=club, region=region, today=today)
    defs_df, rejected = mail_mod.validate_merge_field_defs(tables["merge_field_defs"])
    n_rejected = rejected.count()
    if n_rejected:
        log.warning("rejected %d merge-field defs (tag > 10 chars)", n_rejected)
    field_defs = [r.asDict() for r in defs_df.collect()]  # tiny schema table
    return mail_mod.member_documents(mem, field_defs, default_source_cols())


def run_job(
    tables: dict[str, DataFrame],
    client_factory,
    club: int | None = None,
    region: int | None = None,
    today: str | None = None,
) -> dict[str, int]:
    """One audience job end-to-end (mailchimp.rs:238-290). Returns
    {upserted, upsert_errors, deleted, tag_updates} — the reference's
    per-job stats; `upserted` counts documents that LANDED (per-item batch
    rejections are logged and reported in `upsert_errors`, not counted as
    upserted). Every count is taken in the sink's pushing pass.

    `today` defaults to the UTC date at job start. The documents frame is
    persisted for the job, so the upsert, retain and tag sinks share one
    evaluation of `members()`; it is released when the job ends, also when
    it fails.

    Pre-flight validation before any write (the reference's job-create
    guard, sync-mail/src/cmd/create.rs:33-35): the API must answer the
    health ping and the audience must exist — a mistyped key or list id
    fails HERE, not mid-upsert with half a batch landed."""
    from aci_export_spark.sync.rest import health_ping

    today = today or utc_today()
    health_ping(client_factory())
    if "mailchimp_audience" not in tables:
        raise ValueError("audience table missing from catalog — nothing to sync against")
    with persisted(documents_for_scope(tables, club=club, region=region, today=today)) as docs:
        # per-item rejections are logged by the sink and surfaced in the stats
        # (the reference prints them in its run report)
        err_acc = docs.sparkSession.sparkContext.accumulator(0)
        upserted = upsert_documents_sink(docs, client_factory, error_counter=err_acc)
        deleted = retain_audience_sink(
            tables["mailchimp_audience"], docs.select("id"), client_factory
        )
        tag_updates = update_tags_sink(mail_mod.member_tags(docs), client_factory)
    return {
        "upserted": upserted - err_acc.value,
        "upsert_errors": err_acc.value,
        "deleted": deleted,
        "tag_updates": tag_updates,
    }


def run_jobs(
    tables: dict[str, DataFrame],
    jobs: list[dict],
    client_factory_for,
    today: str | None = None,
) -> dict[str, dict]:
    """Driver-loop job fan-out with per-job fault isolation (T6): a failing
    job records its error and the others proceed. `today` defaults to the
    UTC date at the start of the run and is the same for every job."""
    today = today or utc_today()
    results: dict[str, dict] = {}
    for job in jobs:
        name = str(job.get("id", job.get("name", "job")))
        try:
            results[name] = run_job(
                tables,
                client_factory_for(job),
                club=job.get("club"),
                region=job.get("region"),
                today=today,
            )
        except Exception as exc:  # noqa: BLE001 — isolation is the contract
            log.error("job %s failed: %s", name, exc)
            results[name] = {"error": str(exc)}
    return results
