"""S2 executable external write path: JdbcMirror end to end against DuckDB
standing in for Postgres (same `INSERT … ON CONFLICT DO UPDATE` dialect,
reference db/src/user.rs:59-99 and db/src/lib.rs:16-76).

The staging load is injected (DuckDB has no JDBC endpoint in this sandbox);
everything after it — statement generation, transactional merge, retain
delete, staging drop — runs for real on the database.
"""

from __future__ import annotations

import duckdb
import pytest

from aci_export_spark.operators.mirror import JdbcMirror, jdbc_merge_sql, mirror_sync


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.execute(
        "CREATE TABLE users (id BIGINT PRIMARY KEY, email VARCHAR, status VARCHAR)"
    )
    c.execute(
        "INSERT INTO users VALUES (1,'a@x','old'), (2,'b@x','old'), (3,'c@x','old')"
    )
    yield c
    c.close()


def _staging_writer_for(con):
    def write(df, table):
        pdf = df.toPandas()
        con.register("__pdf", pdf)
        con.execute(f"CREATE OR REPLACE TABLE {table} AS SELECT * FROM __pdf")
        con.unregister("__pdf")

    return write


def test_jdbc_mirror_sync_end_to_end(spark, con):
    # source: updates id=2, inserts id=4, drops ids 1 and 3
    source = spark.createDataFrame(
        [(2, "b@x", "new"), (4, "d@x", "new")], "id long, email string, status string"
    )
    mirror = JdbcMirror(staging_writer=_staging_writer_for(con), executor=con.execute)
    stmts = mirror.sync(source, "users", keys=["id"])

    rows = con.execute("SELECT id, email, status FROM users ORDER BY id").fetchall()
    assert rows == [(2, "b@x", "new"), (4, "d@x", "new")]
    # staging table cleaned up
    remaining = {r[0] for r in con.execute("SHOW TABLES").fetchall()}
    assert "users__staging" not in remaining
    # merge is transactional and audited
    assert stmts[0] == "BEGIN" and stmts[-2] == "COMMIT"

    # idempotence: re-running the same sync converges (reference §3.2)
    mirror.sync(source, "users", keys=["id"])
    assert (
        con.execute("SELECT id, email, status FROM users ORDER BY id").fetchall()
        == rows
    )


def test_jdbc_mirror_matches_dataframe_algebra(spark, con):
    """The database path and the pure-DataFrame mirror_sync compute the same
    post-state."""
    target = spark.createDataFrame(
        [(1, "a@x", "old"), (2, "b@x", "old"), (3, "c@x", "old")],
        "id long, email string, status string",
    )
    source = spark.createDataFrame(
        [(2, "b@x", "new"), (4, "d@x", "new")], "id long, email string, status string"
    )
    expected = sorted(
        tuple(r) for r in mirror_sync(target, source, ["id"]).collect()
    )
    JdbcMirror(staging_writer=_staging_writer_for(con), executor=con.execute).sync(
        source, "users", keys=["id"]
    )
    got = sorted(con.execute("SELECT id, email, status FROM users").fetchall())
    assert got == expected


def test_jdbc_merge_sql_composite_keys_and_writer_config():
    stmts = jdbc_merge_sql("t", "t__staging", ["k1", "k2", "v"], ["k1", "k2"])
    assert "ON CONFLICT (k1, k2) DO UPDATE SET v = excluded.v" in stmts[1]
    assert "WHERE (k1, k2) NOT IN (SELECT k1, k2 FROM t__staging)" in stmts[2]
    # default staging writer requires a url; executor always required
    with pytest.raises(ValueError):
        JdbcMirror(executor=lambda s: None)
    with pytest.raises(ValueError):
        JdbcMirror(url="jdbc:postgresql://h/db")
