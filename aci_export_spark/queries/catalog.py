"""Table catalog for the ACI-domain query library.

A catalog is just `dict[str, DataFrame]` — parquet fixtures in tests, JDBC
scans in production (same shape the reference got from its MySQL pool,
`ddb/src/lib.rs:21-33`). Keeping it a plain dict keeps every query function
pure and source-agnostic.

Keyed member lookups (`members.member_by_uid`, `members.member_by_email`)
are the one exception to "pure": they read a persisted snapshot of
`members()` taken at the first lookup for that catalog and `today`
(`members.lookup_extract`). Spark's CacheManager serves every plan-equal
plan from that snapshot while it is held: every `members()` call with the
same parameters on the same frames, a sync run's members frame included,
and on frames opened again over the same paths. Reopening the catalog with
`load_catalog` releases the snapshot, so the next lookup, `members()` call
or sync run picks up new source rows. JDBC frames are not opened here: they
read new source rows only once the snapshot is released
(`members.release_lookup_extract`) or a lookup on new frames replaces it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aci_export_spark.queries.members import release_lookup_extract

ACI_TABLES = (
    "users",
    "member_search",
    "membership_paragraphs",
    "clubs",
    "regions",
    "taxonomy",
    "leadership",
    "addresses",
    "brns",
    "brn_numbers",
    "airstreams",
    "mailchimp_audience",
    "merge_field_defs",
    "remote_merge_fields",
    "user_roles",
    "microsite_links",
)


def load_catalog(spark: SparkSession, base_dir: str, tables=ACI_TABLES) -> dict[str, DataFrame]:
    """Open the catalog under `base_dir`, releasing the held member-lookup
    extract. Frames opened again over the same paths are plan-equal to the
    old ones, so while the extract is held Spark would answer their
    `members()` plans from it, not from the files as they are now. This
    also drops an extract another open catalog holds; that catalog's next
    lookup builds it again."""
    release_lookup_extract()
    return {t: spark.read.parquet(f"{base_dir}/{t}.parquet") for t in tables}
