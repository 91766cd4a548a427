"""Mirror-sync operators: upsert + retain (reference S8/S9; SURVEY.md §2.1).

The reference mirrors Drupal → Postgres with chunked
`INSERT … ON CONFLICT DO UPDATE` (`db/src/user.rs:59-99`) and a
temp-table-anti-join `DELETE` for rows that vanished from the source
("retain", `db/src/lib.rs:16-76`). Re-running a sync converges — idempotence
by construction.

Spark-first equivalents, as pure DataFrame algebra so they work on any sink:

    upsert(target, source, keys)  = source ∪ (target ⟕̸ source)      (anti-join)
    retain(target, keep, keys)    = target ⋉ keep                    (semi-join)
    mirror_sync                   = upsert ∘ retain

Two write paths use this algebra:

- `mirror_sync_observed` is the post-state (≡ source) with the reference's
  per-entity stats {upserted, deleted} attached, counted by the one job that
  writes it (`sync/app_sync.run_mirror_sync_and_write` overwrites a plain
  parquet mirror with it). Like the reference's delete-missing step it reads
  only the target's keys.
- `JdbcMirror` runs the reference's own transactional statements
  (`jdbc_merge_sql`) against a SQL database such as Postgres.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def upsert(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Post-state of upserting `source` into `target` on `keys`.

    Source rows win on key collision (reference `ON CONFLICT DO UPDATE`,
    `db/src/user.rs:69-98`). Anti-join keeps target rows whose key is absent
    from source; union appends every source row. Column sets must match.
    """
    kept = target.join(source.select(*keys).distinct(), on=list(keys), how="left_anti")
    return kept.unionByName(source)


def retain(target: DataFrame, keep_keys: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Delete-missing: keep only target rows whose key appears in `keep_keys`.

    Reference S9 (`db/src/lib.rs:16-76`): temp table of keys + `DELETE …
    WHERE key NOT IN (…)` in one txn. Here: a semi-join.
    """
    return target.join(keep_keys.select(*keys).distinct(), on=list(keys), how="left_semi")


def mirror_sync(target: DataFrame, source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Full mirror semantics: after this, target ≡ source keyset with source
    values (upsert + retain composed; reference §3.2 steps 5-6)."""
    return retain(upsert(target, source, keys), source, keys)


def jdbc_merge_sql(
    target_table: str,
    staging_table: str,
    columns: Sequence[str],
    keys: Sequence[str],
) -> list[str]:
    """The transactional upsert+retain statements the reference runs against
    Postgres (S2: `db/src/user.rs:59-99` chunked `INSERT … ON CONFLICT DO
    UPDATE`; `db/src/lib.rs:16-76` temp-table anti-join `DELETE`), expressed
    against a staging table the cluster has already bulk-loaded.

    The heavy lifting (shipping 100 TB of rows) happens in the distributed
    staging write; these statements are constant-size SQL the database
    executes set-wise in one transaction. Dialect is Postgres; DuckDB accepts
    the same syntax (exercised end-to-end in tests).
    """
    keys = list(keys)
    cols = ", ".join(columns)
    key_list = ", ".join(keys)
    updates = ", ".join(f"{c} = excluded.{c}" for c in columns if c not in keys)
    upsert = (
        f"INSERT INTO {target_table} ({cols}) "
        f"SELECT {cols} FROM {staging_table} "
        f"ON CONFLICT ({key_list}) DO UPDATE SET {updates}"
    )
    key_tuple = f"({key_list})" if len(keys) > 1 else keys[0]
    key_sel = ", ".join(keys)
    retain_sql = (
        f"DELETE FROM {target_table} "
        f"WHERE {key_tuple} NOT IN (SELECT {key_sel} FROM {staging_table})"
    )
    return ["BEGIN", upsert, retain_sql, "COMMIT", f"DROP TABLE {staging_table}"]


class JdbcMirror:
    """S2 executable external write path: mirror a DataFrame into a SQL
    database with the reference's upsert/retain semantics
    (`db/src/user.rs:59-99`, `db/src/lib.rs:16-76`).

    Two-phase, the shape that scales:

    1. **Distributed staging load** — every executor writes its partitions
       over JDBC into `<target>__staging` (`df.write.jdbc`, one transaction
       per partition, `batchsize` rows per round trip). This is the only
       data-volume-bound step and it is fully parallel.
    2. **Set-wise merge on the database** — constant-size
       `INSERT … ON CONFLICT DO UPDATE` + `DELETE … NOT IN (staging)` in one
       transaction (:func:`jdbc_merge_sql`), so readers never observe a
       half-synced mirror; then the staging table is dropped.

    Both phases are injectable: `staging_writer(df, table)` defaults to the
    Spark JDBC writer (needs a driver jar on the classpath — not shipped in
    this sandbox), `executor(sql)` runs driver-side statements on a DBAPI
    connection. Tests inject DuckDB for both and run the path end to end.
    """

    def __init__(
        self,
        url: str | None = None,
        properties: dict | None = None,
        staging_writer=None,
        executor=None,
        batchsize: int = 5000,
    ):
        if staging_writer is None and url is None:
            raise ValueError("need a JDBC url (or an injected staging_writer)")
        if executor is None:
            raise ValueError("need an executor(sql) bound to the target database")
        self.url = url
        self.properties = dict(properties or {})
        self.batchsize = batchsize
        self._staging_writer = staging_writer or self._jdbc_staging_writer
        self._executor = executor

    def _jdbc_staging_writer(self, df: DataFrame, table: str) -> None:
        (
            df.write.mode("overwrite")
            .format("jdbc")
            .option("url", self.url)
            .option("dbtable", table)
            .option("batchsize", str(self.batchsize))
            .options(**self.properties)
            .save()
        )

    def sync(self, source: DataFrame, target_table: str, keys: Sequence[str]) -> list[str]:
        """Mirror `source` into `target_table`; returns the merge statements
        executed (for journaling/audit, the reference logs the same)."""
        staging = f"{target_table}__staging"
        self._staging_writer(source, staging)
        statements = jdbc_merge_sql(target_table, staging, source.columns, keys)
        for sql in statements:
            self._executor(sql)
        return statements


def mirror_sync_observed(
    target: DataFrame, source: DataFrame, keys: Sequence[str]
) -> tuple[DataFrame, "Observation"]:
    """mirror_sync with stats attached via ``Observation`` — the counts the
    reference logs (A9, `sync-app/src/sync.rs:621-637`: upserted = |source|,
    deleted = target keys absent from source) come FREE with the
    materializing action instead of two extra count() jobs over the same
    inputs.

    The post-state is the source. The deleted keys (target keys absent from
    the source, reference `db/src/lib.rs:16-76`) ride along with it, tagged,
    so observe() counts both classes during whatever action materializes
    the frame (the mirror write); then they are filtered back out. The
    target is read for its keys only, and the post-state keeps the source's
    schema. Usage::

        post, obs = mirror_sync_observed(target, source, keys)
        post.write.parquet(...)           # one job
        stats = obs.get                   # {'upserted': …, 'deleted': …}
    """
    from pyspark.sql import Observation

    deleted = (
        target.select(*keys).distinct()
        .join(source.select(*keys), on=list(keys), how="left_anti")
        # in the source's key types; the union fills the other columns with
        # NULLs of the source's types
        .select(*[F.col(k).cast(source.schema[k].dataType).alias(k) for k in keys])
    )
    tagged = source.withColumn("__is_upsert", F.lit(1)).unionByName(
        deleted.withColumn("__is_upsert", F.lit(0)), allowMissingColumns=True
    )
    obs = Observation("mirror_stats")
    observed = tagged.observe(
        obs,
        F.sum("__is_upsert").alias("upserted"),
        F.sum(1 - F.col("__is_upsert")).alias("deleted"),
    )
    post = observed.filter(F.col("__is_upsert") == 1).drop("__is_upsert")
    return post, obs
