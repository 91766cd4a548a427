"""Property-based tests (Hypothesis) for the operator algebra: mirror
upsert/retain laws, dedup determinism, and the as-of join differential-tested
against pandas.merge_asof. These defend the invariants the oracle queries
exercise only at fixed points."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

# default 12 examples keeps the suite fast; periodic deep fuzz runs crank it
# via SPARK_GRAFT_FUZZ_EXAMPLES (the band_join boundary-absorption bug was a
# hypothesis catch — budget is what finds the next one)
SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "12")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.integers(min_value=0, max_value=9)
vals = st.integers(min_value=-5, max_value=5)

rows = st.lists(st.tuples(keys, vals), max_size=30)


def _df(spark, data, cols=("k", "v")):
    return spark.createDataFrame(
        pd.DataFrame(data or [(0, 0)], columns=list(cols))
        if data
        else pd.DataFrame([(0, 0)], columns=list(cols)).iloc[:0],
        schema="k long, v long",
    )


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


class TestMirrorAlgebra:
    @given(t=rows, s=rows)
    @settings(**SETTINGS)
    def test_mirror_sync_post_state_is_source_keyed(self, spark, t, s):
        """After mirror_sync the target keyset equals the source keyset and
        every surviving row came from the source (last-write-wins on key)."""
        from aci_export_spark.operators.mirror import mirror_sync

        # a mirror holds one row per key: dedup inputs like the pipelines do
        tdf = _df(spark, t).dropDuplicates(["k"])
        sdf = _df(spark, s).dropDuplicates(["k"])
        post = mirror_sync(tdf, sdf, ["k"])
        assert _sorted(post) == _sorted(sdf)

    @given(t=rows, s=rows)
    @settings(**SETTINGS)
    def test_upsert_idempotent_and_source_wins(self, spark, t, s):
        from aci_export_spark.operators.mirror import upsert

        tdf = _df(spark, t).dropDuplicates(["k"])
        sdf = _df(spark, s).dropDuplicates(["k"])
        once = upsert(tdf, sdf, ["k"])
        twice = upsert(once, sdf, ["k"])
        assert _sorted(once) == _sorted(twice)
        # every source row is present verbatim
        got = dict(_sorted(once))
        for k, v in dict(_sorted(sdf)).items():
            assert got[k] == v

    @given(t=rows)
    @settings(**SETTINGS)
    def test_retain_self_is_identity(self, spark, t):
        from aci_export_spark.operators.mirror import retain

        tdf = _df(spark, t).dropDuplicates(["k"])
        assert _sorted(retain(tdf, tdf.select("k"), ["k"])) == _sorted(tdf)


class TestDedupDeterminism:
    @given(data=st.lists(st.tuples(keys, vals, st.integers(0, 99)), max_size=40))
    @settings(**SETTINGS)
    def test_priority_dedup_picks_min_priority_then_tie(self, spark, data):
        from aci_export_spark.operators.dedup import priority_dedup

        if not data:
            return
        df = spark.createDataFrame(
            pd.DataFrame(data, columns=["k", "prio", "id"]),
            schema="k long, prio long, id long",
        )
        out = priority_dedup(
            df, key=[F.col("k")], priority=F.col("prio"),
            tie_break=[F.col("id").asc()],
        )
        got = {r["k"]: (r["prio"], r["id"]) for r in out.collect()}
        pdf = pd.DataFrame(data, columns=["k", "prio", "id"])
        want = {
            k: tuple(g.sort_values(["prio", "id"]).iloc[0][["prio", "id"]])
            for k, g in pdf.groupby("k")
        }
        assert got == want
        assert out.count() == len(want)  # exactly one row per key


class TestAsofDifferential:
    ts_vals = st.integers(min_value=0, max_value=50)

    @given(
        left=st.lists(st.tuples(keys, ts_vals), min_size=1, max_size=25),
        right=st.lists(st.tuples(keys, ts_vals, vals), max_size=25),
    )
    @settings(**SETTINGS)
    def test_asof_join_matches_pandas_merge_asof(self, spark, left, right):
        """asof_join == pandas.merge_asof(direction='backward') after the
        right side is deduped per (key, ts) keeping max tie."""
        from aci_export_spark.operators.asof import asof_join, latest_per_key_ts

        lpdf = pd.DataFrame(left, columns=["k", "ts"]).assign(
            lid=lambda d: range(len(d))
        )
        rpdf = pd.DataFrame(right, columns=["k", "rts", "payload"]).astype("int64")
        ldf = spark.createDataFrame(lpdf, schema="k long, ts long, lid long")
        rdf = latest_per_key_ts(
            spark.createDataFrame(rpdf, schema="k long, rts long, payload long")
            if len(rpdf)
            else spark.createDataFrame([], schema="k long, rts long, payload long"),
            key=["k"],
            ts="rts",
            tie="payload",
        )
        got = asof_join(
            ldf, rdf, key=["k"], left_ts="ts", right_ts="rts",
            right_payload=["payload"], right_tie="payload", how="left",
        )
        got_map = {r["lid"]: r["payload"] for r in got.collect()}

        rdedup = (
            rpdf.sort_values(["k", "rts", "payload"])
            .groupby(["k", "rts"], as_index=False)
            .last()
            if len(rpdf)
            else rpdf
        )
        want = pd.merge_asof(
            lpdf.sort_values("ts", kind="mergesort"),
            rdedup.sort_values("rts", kind="mergesort"),
            left_on="ts",
            right_on="rts",
            by="k",
            direction="backward",
        )
        want_map = {
            int(r.lid): (None if pd.isna(r.payload) else int(r.payload))
            for r in want.itertuples()
        }
        assert got_map == want_map


class TestSaltedJoin:
    def test_salted_join_equals_plain_join_under_skew(self, spark):
        from aci_export_spark.operators.joins import salted_join

        # hot key: 90% of left rows share key 0
        left = spark.range(2000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k", "id AS lv"
        )
        right = spark.range(50).selectExpr("id AS k", "id * 100 AS rv")
        got = salted_join(left, right, on=["k"], salt_buckets=8)
        want = left.join(right, on=["k"])
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


class TestPagedRestSource:
    def test_pagination_covers_every_item_once(self, spark):
        from aci_export_spark.sync.rest import paged_rest_source

        total = 2357  # deliberately not a multiple of the page size

        def fetch_page(offset, count):
            return [
                {"id": i, "email": f"u{i}@x.test"}
                for i in range(offset, min(offset + count, total))
            ]

        df = paged_rest_source(
            spark, fetch_page, total_count=total,
            schema="id long, email string", page_size=300, concurrency=4,
        )
        assert df.rdd.getNumPartitions() == 4  # bounded concurrency (T3)
        rows = df.collect()
        assert len(rows) == total
        assert {r["id"] for r in rows} == set(range(total))


class TestObservedMirrorStats:
    def test_stats_come_with_the_write(self, spark, tmp_path):
        from aci_export_spark.operators.mirror import mirror_sync, mirror_sync_observed

        target = spark.range(100).selectExpr("id AS k", "id AS v")          # 0..99
        source = spark.range(50, 130).selectExpr("id AS k", "id * 2 AS v")  # 50..129
        post, obs = mirror_sync_observed(target, source, ["k"])
        post.write.mode("overwrite").parquet(str(tmp_path / "m.parquet"))  # ONE job
        got = obs.get
        assert got["upserted"] == 80   # |source|
        assert got["deleted"] == 50    # keys 0..49 vanished
        # post-state identical to the two-pass mirror_sync
        want = mirror_sync(target, source, ["k"])
        assert sorted(map(tuple, spark.read.parquet(str(tmp_path / "m.parquet")).collect())) == \
               sorted(map(tuple, want.collect()))

    def test_post_state_keeps_the_source_schema(self, spark, tmp_path):
        """A mirror whose stored key is double (a pandas integer column that
        held None, as in tests/aci_fixtures.py) synced from a bigint-keyed
        source is written with the source's types, not widened to the old
        mirror's."""
        from aci_export_spark.operators.mirror import mirror_sync_observed

        path = str(tmp_path / "old.parquet")
        spark.createDataFrame(
            [(float(k), f"old{k}") for k in range(5, 15)], "k double, v string"
        ).write.parquet(path)
        target = spark.read.parquet(path)                                  # 5..14
        source = spark.createDataFrame([(k, f"new{k}") for k in range(10)],
                                       "k bigint, v string")               # 0..9
        post, obs = mirror_sync_observed(target, source, ["k"])
        assert post.schema == source.schema
        post.write.parquet(str(tmp_path / "new.parquet"))
        assert obs.get == {"upserted": 10, "deleted": 5}

    def test_diff_reads_only_the_target_keys(self, spark, tmp_path):
        """The delete-missing diff scans the target once, for its keys only
        (reference `db/src/lib.rs:16-76` never reads target rows)."""
        from aci_export_spark.operators.mirror import mirror_sync_observed

        path = str(tmp_path / "mirror.parquet")
        spark.range(100).selectExpr(
            "id AS k", "id AS k2", "CAST(id AS string) AS wide", "id * 2 AS v"
        ).write.parquet(path)
        target = spark.read.parquet(path)
        source = spark.createDataFrame(
            [(k, k, str(k), 3 * k) for k in range(50, 130)],
            "k bigint, k2 bigint, wide string, v bigint",
        )
        post, _ = mirror_sync_observed(target, source, ["k", "k2"])
        plan = post._jdf.queryExecution().executedPlan().toString()
        scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
        assert len(scans) == 1, plan
        assert "ReadSchema: struct<k:bigint,k2:bigint>" in scans[0], scans[0]


class TestPartitionPruning:
    def test_date_partitioned_layout_prunes_scan(self, spark, tmp_path):
        """Events written partitionBy(date) are read with PartitionFilters —
        a day-scoped query touches one directory, not the table (the layout
        that keeps day-windowed queries O(day) at 100 TB)."""
        from aci_export_spark.sources import read_table
        from tests.conftest import SF_SMOKE

        ev = read_table(spark, SF_SMOKE, "events")
        path = str(tmp_path / "events_by_day")
        ev.withColumn("dt", F.to_date("ts")).write.partitionBy("dt").parquet(path)

        df = spark.read.parquet(path)
        one_day = df.filter(F.col("dt") == df.select(F.min("dt")).first()[0])
        plan = one_day._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        # the filter reached the partition level, so the row count matches
        # the batch filter without scanning other days
        import os

        n_day_dirs = len([d for d in os.listdir(path) if d.startswith("dt=")])
        assert n_day_dirs > 1  # the layout actually split by day
        assert one_day.count() > 0


class TestAsofStrictInner:
    def test_strict_and_inner_modes_match_pandas(self, spark):
        """strict=True must not see a right row at the exact left timestamp
        (merge_asof allow_exact_matches=False); inner drops unmatched."""
        import pandas as pd

        from aci_export_spark.operators.asof import asof_join

        left = pd.DataFrame({"k": [1, 1, 1, 2], "ts": [5, 10, 15, 10]}).assign(
            lid=lambda d: range(len(d))
        )
        right = pd.DataFrame(
            {"k": [1, 1, 2], "rts": [10, 14, 20], "payload": [100, 140, 200]}
        )
        ldf = spark.createDataFrame(left, schema="k long, ts long, lid long")
        rdf = spark.createDataFrame(right, schema="k long, rts long, payload long")

        for strict, how in [(True, "left"), (False, "inner"), (True, "inner")]:
            got = {
                r["lid"]: r["payload"]
                for r in asof_join(
                    ldf, rdf, key=["k"], left_ts="ts", right_ts="rts",
                    right_payload=["payload"], right_tie="payload",
                    strict=strict, how=how,
                ).collect()
            }
            want_full = pd.merge_asof(
                left.sort_values("ts", kind="mergesort"),
                right.sort_values("rts", kind="mergesort"),
                left_on="ts", right_on="rts", by="k",
                direction="backward", allow_exact_matches=not strict,
            )
            want = {
                int(r.lid): (None if pd.isna(r.payload) else int(r.payload))
                for r in want_full.itertuples()
            }
            if how == "inner":
                want = {k: v for k, v in want.items() if v is not None}
            assert got == want, (strict, how, got, want)


class TestFuzzyPairs:
    def test_deletion_blocking_equals_bruteforce(self, spark):
        """FastSS recall guarantee: blocked+verified pairs == brute-force
        levenshtein<=1 over all pairs, including insert/delete cases where
        lengths differ."""
        from pyspark.sql import functions as F

        from aci_export_spark.operators.fuzzy import edit_distance_pairs

        names = [
            (1, "smith"), (2, "smyth"),      # substitution
            (3, "smiths"), (4, "smith"),     # insertion / exact dup
            (5, "smit"),                      # deletion
            (6, "jones"), (7, "jonse"),      # 2 substitutions -> distance 2
            (8, "aa"), (9, "ab"), (10, "b"),
        ]
        df = spark.createDataFrame(names, ["uid", "name"])
        got = sorted(
            (r.id_a, r.id_b, r.distance)
            for r in edit_distance_pairs(df, "uid", "name").collect()
        )
        a = df.select(F.col("uid").alias("id_a"), F.col("name").alias("na"))
        b = df.select(F.col("uid").alias("id_b"), F.col("name").alias("nb"))
        brute = (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("distance", F.levenshtein("na", "nb"))
            .filter(F.col("distance") <= 1)
        )
        want = sorted((r.id_a, r.id_b, r.distance) for r in brute.collect())
        assert got == want
        assert (1, 2, 1) in got and (3, 4, 1) in got and (4, 5, 1) in got
        assert all(p[:2] != (6, 7) for p in got)

    def _brute(self, spark, df, k):
        from pyspark.sql import functions as F

        a = df.select(F.col("uid").alias("id_a"), F.col("name").alias("na"))
        b = df.select(F.col("uid").alias("id_b"), F.col("name").alias("nb"))
        brute = (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("distance", F.levenshtein("na", "nb"))
            .filter(F.col("distance") <= k)
        )
        return sorted((r.id_a, r.id_b, r.distance) for r in brute.collect())

    def test_k2_blocked_equals_bruteforce_both_strategies(self, spark):
        """k=2 recall guarantee for BOTH blockings (2-deletion FastSS and
        PassJoin): insert/delete/substitute x2 and mixed cases, including
        short strings below the PassJoin segment floor."""
        from aci_export_spark.operators.fuzzy import (
            edit_distance_pairs,
            passjoin_pairs,
        )

        names = [
            (1, "smith"), (2, "smyth"),        # 1 substitution
            (3, "smythe"), (4, "smith"),       # sub + insert = 2
            (5, "smt"),                        # 2 deletions from smith
            (6, "jones"), (7, "jonse"),        # transposition = 2 subs
            (8, "jnoes"),                      # another transposition
            (9, "aa"), (10, "ab"), (11, "b"),  # short strings (< k+1 chars)
            (12, ""), (13, "xy"),              # empty string edge
            (14, "washington"), (15, "washingtno"),   # tail transposition
            (16, "wshingtonx"),                # del + insert
        ]
        df = spark.createDataFrame(names, ["uid", "name"])
        want = self._brute(spark, df, 2)
        got_fastss = sorted(
            (r.id_a, r.id_b, r.distance)
            for r in edit_distance_pairs(df, "uid", "name", max_distance=2).collect()
        )
        got_passjoin = sorted(
            (r.id_a, r.id_b, r.distance)
            for r in passjoin_pairs(df, "uid", "name", k=2).collect()
        )
        assert got_fastss == want
        assert got_passjoin == want
        assert (6, 7, 2) in want  # k=2 genuinely exercised

    def test_k2_seeded_fuzz_both_strategies(self, spark):
        """Seeded random corpora (mutations = substitute/insert/delete x1-3
        off shared ancestors) must match brute force exactly for both k=2
        blockings."""
        import random

        from aci_export_spark.operators.fuzzy import (
            edit_distance_pairs,
            passjoin_pairs,
        )

        rng = random.Random(77)
        strings = []
        for _ in range(40):
            if strings and rng.random() < 0.6:
                s = list(rng.choice(strings))
                for _ in range(rng.randint(1, 3)):
                    op = rng.choice("sid")
                    if op == "s" and s:
                        s[rng.randrange(len(s))] = rng.choice("abcd")
                    elif op == "i":
                        s.insert(rng.randint(0, len(s)), rng.choice("abcd"))
                    elif op == "d" and s:
                        del s[rng.randrange(len(s))]
                strings.append("".join(s))
            else:
                strings.append(
                    "".join(rng.choice("abcd") for _ in range(rng.randint(0, 9)))
                )
        df = spark.createDataFrame(list(enumerate(strings)), ["uid", "name"])
        want = self._brute(spark, df, 2)
        got_fastss = sorted(
            (r.id_a, r.id_b, r.distance)
            for r in edit_distance_pairs(df, "uid", "name", max_distance=2).collect()
        )
        got_passjoin = sorted(
            (r.id_a, r.id_b, r.distance)
            for r in passjoin_pairs(df, "uid", "name", k=2).collect()
        )
        assert got_fastss == want
        assert got_passjoin == want

    def test_k2_full_corpus_matches_duckdb_brute(self, spark, duck):
        """Full sf0.001 customer table: FastSS-k2 pairs == DuckDB brute-force
        levenshtein <= 2 (the correctness anchor behind the nation-scoped
        registered query)."""
        from aci_export_spark.operators.fuzzy import edit_distance_pairs
        from aci_export_spark.sources import read_table
        from tests.conftest import SF_SMOKE

        cust = read_table(spark, SF_SMOKE, "customer")
        got = sorted(
            (r.id_a, r.id_b, r.distance)
            for r in edit_distance_pairs(
                cust, "c_custkey", "c_name", max_distance=2
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in duck(SF_SMOKE).execute(
                f"""
                SELECT a.c_custkey, b.c_custkey, levenshtein(a.c_name, b.c_name)
                FROM read_parquet('{SF_SMOKE}/customer.parquet') a
                JOIN read_parquet('{SF_SMOKE}/customer.parquet') b
                  ON a.c_custkey < b.c_custkey
                WHERE levenshtein(a.c_name, b.c_name) <= 2
                """
            ).fetchall()
        )
        assert got == want
        assert len(got) > 0

    def test_k3_dispatches_to_passjoin(self, spark):
        """k>=3 routes to PassJoin (deletion neighborhoods grow as L^k) and
        still matches brute force."""
        from aci_export_spark.operators.fuzzy import edit_distance_pairs

        names = [(1, "abcdef"), (2, "abxdyz"), (3, "qqqqqq"), (4, "abcde")]
        df = spark.createDataFrame(names, ["uid", "name"])
        want = self._brute(spark, df, 3)
        got = sorted(
            (r.id_a, r.id_b, r.distance)
            for r in edit_distance_pairs(df, "uid", "name", max_distance=3).collect()
        )
        assert got == want
        assert (1, 2, 3) in got


class TestDqChecks:
    def test_violations_found_and_fused_predicates(self, spark):
        from pyspark.sql import functions as F

        from aci_export_spark.operators import dq

        child = spark.createDataFrame(
            [(1, 10, "ok"), (1, 10, "dup"), (2, 99, "orphan"), (3, 20, None)],
            ["id", "fk", "status"],
        )
        parent = spark.createDataFrame([(10,), (20,)], ["pk"])

        dups = dq.unique_key_violations(child, ["id"]).collect()
        assert [(r.id, r.n_rows) for r in dups] == [(1, 2)]

        orphans = dq.fk_orphans(child, parent, "fk", "pk").collect()
        assert [r.fk for r in orphans] == [99]

        report = dq.combine_reports(
            dq.count_report("pk_unique", dq.unique_key_violations(child, ["id"])),
            dq.count_report("fk", dq.fk_orphans(child, parent, "fk", "pk")),
            dq.predicate_check_report(
                child,
                {
                    "status_nonnull": F.col("status").isNull(),
                    "status_accepted": ~F.coalesce(
                        F.col("status").isin("ok", "dup", "orphan"), F.lit(False)
                    ),
                },
            ),
        )
        got = {r.check_name: r.n_violations for r in report.collect()}
        assert got == {
            "pk_unique": 1,
            "fk": 1,
            "status_nonnull": 1,
            "status_accepted": 1,  # the NULL status fails accepted-values too
        }

    def test_profile_report_empty_and_nulls(self, spark):
        from aci_export_spark.operators import dq

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (2, "b")], ["k", "v"]
        )
        got = {r.column: r for r in dq.profile_report(df, ["k", "v"]).collect()}
        assert (got["k"].n_rows, got["k"].n_null, got["k"].n_distinct) == (3, 0, 2)
        assert (got["v"].n_null, got["v"].n_distinct) == (1, 2)
        assert got["k"].min_value == "1" and got["k"].max_value == "2"


class TestBatch3Properties:
    """Random differential tests for the batch-3 operator algebra."""

    pair_rows = st.lists(
        st.tuples(
            st.integers(0, 20),                      # id-ish
            st.integers(0, 8),                       # x (small domain → ties)
            st.integers(0, 8),                       # y
        ),
        min_size=1,
        max_size=25,
    )

    @given(data=pair_rows)
    @settings(**SETTINGS)
    def test_skyline_equals_dominance_definition(self, spark, data):
        from aci_export_spark.operators.skyline import pareto_frontier

        rows = [(i, float(x), y) for i, (_, x, y) in enumerate(data)]
        df = spark.createDataFrame(rows, "id int, x double, y int")
        got = sorted(r.id for r in pareto_frontier(df, "x", "y").select("id").collect())
        expect = sorted(
            rid
            for rid, x, y in rows
            if not any(
                ox >= x and oy >= y and (ox > x or oy > y) for _, ox, oy in rows
            )
        )
        assert got == expect

    band_vals = st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=15,
    )

    @given(lv=band_vals, rv=band_vals, eps_i=st.integers(1, 40))
    @settings(**SETTINGS)
    def test_band_join_equals_predicate(self, spark, lv, rv, eps_i):
        from aci_export_spark.operators.band_join import band_join

        eps = eps_i / 10.0
        left = spark.createDataFrame(
            [(i, v) for i, v in enumerate(lv)], "lid int, lval double"
        )
        right = spark.createDataFrame(
            [(i, v) for i, v in enumerate(rv)], "rid int, rval double"
        )
        got = sorted(
            (r.lid, r.rid)
            for r in band_join(left, right, "lval", "rval", eps=eps).collect()
        )
        expect = sorted(
            (i, j)
            for i, a in enumerate(lv)
            for j, b in enumerate(rv)
            if abs(a - b) <= eps
        )
        assert got == expect

    fact_rows = st.lists(
        st.tuples(st.integers(0, 4), st.integers(-20, 20)), max_size=25
    )

    @given(base=fact_rows, ins=fact_rows, dels=st.data())
    @settings(**SETTINGS)
    def test_ivm_merge_equals_recompute(self, spark, base, ins, dels):
        from aci_export_spark.operators.ivm import merge_partials, partial_aggregate

        # deletions retract a random subset of base facts (valid retractions
        # by construction — you can only delete what exists)
        n_del = dels.draw(st.integers(0, len(base)))
        deleted = base[:n_del]
        survivors = base[n_del:] + ins
        if not survivors and not base:
            return

        def df_of(rows, w):
            pdf = pd.DataFrame(rows or [], columns=["k", "v"])
            pdf["w"] = w
            return spark.createDataFrame(pdf, schema="k long, v long, w int")

        base_df = df_of(base, 1)
        delta_df = df_of([*ins], 1).unionByName(df_of(deleted, -1))
        spec = dict(keys=["k"], count_col="n", sum_cols={"s": "v"}, weight_col="w")
        merged = merge_partials(
            partial_aggregate(base_df, **spec),
            partial_aggregate(delta_df, **spec),
            keys=["k"],
            count_col="n",
            sum_cols=["s"],
            delta_has_retractions=True,
        )
        got = {r.k: (r.n, r.s) for r in merged.collect()}
        expect: dict = {}
        for k, v in survivors:
            n, s = expect.get(k, (0, 0))
            expect[k] = (n + 1, s + v)
        assert got == expect


# ---------------------------------------------------------------------------
# Container-parser round trips (no Spark session needed): synthesize genuine
# WAV/MP4 byte layouts from random parameters — including junk sibling
# chunks/boxes, odd-sized (padded) chunks, and 64-bit box sizes — and the
# struct parsers must recover the exact metadata or reject cleanly.
# ---------------------------------------------------------------------------


@given(
    sample_rate=st.sampled_from([8000, 11025, 16000, 22050, 44100, 48000]),
    channels=st.integers(min_value=1, max_value=8),
    n_samples=st.integers(min_value=0, max_value=500_000),
    bits=st.sampled_from([8, 16, 24, 32]),
    junk_len=st.integers(min_value=0, max_value=33),
    junk_first=st.booleans(),
)
@settings(**SETTINGS)
def test_wav_parse_roundtrip(sample_rate, channels, n_samples, bits, junk_len, junk_first):
    import struct

    from aci_export_spark.multimodal import parse_wav_meta

    block_align = channels * bits // 8
    byte_rate = sample_rate * block_align
    data = b"\x7f" * (n_samples * block_align)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, byte_rate, block_align, bits
    )
    junk = b"LIST" + struct.pack("<I", junk_len) + b"j" * junk_len
    if junk_len & 1:
        junk += b"\x00"  # RIFF chunks are word-aligned
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    chunks = junk + chunks if junk_first else chunks + junk
    wav = b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    got = parse_wav_meta(wav)
    assert got == (n_samples * block_align * 1000 // byte_rate, sample_rate, channels)


@given(
    timescale=st.sampled_from([600, 1000, 90000, 44100]),
    duration=st.integers(min_value=0, max_value=10**10),
    w=st.one_of(st.none(), st.integers(min_value=1, max_value=8192)),
    use64=st.booleans(),
    junk_len=st.integers(min_value=0, max_value=40),
)
@settings(**SETTINGS)
def test_mp4_parse_roundtrip(timescale, duration, w, use64, junk_len):
    import struct

    from aci_export_spark.multimodal import parse_mp4_meta

    h = None if w is None else max(1, w // 2)

    def box(btype, payload, force64=False):
        if force64:
            return struct.pack(">I", 1) + btype + struct.pack(">Q", 16 + len(payload)) + payload
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    if use64:
        # version-1 mvhd: 64-bit times/duration
        mvhd = box(
            b"mvhd",
            b"\x01\x00\x00\x00"
            + struct.pack(">QQ", 0, 0)
            + struct.pack(">I", timescale)
            + struct.pack(">Q", duration)
            + b"\x00" * 80,
        )
    else:
        duration &= 0xFFFFFFFF
        mvhd = box(
            b"mvhd",
            b"\x00\x00\x00\x00"
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", timescale, duration)
            + b"\x00" * 80,
        )
    children = box(b"free", b"x" * junk_len) + mvhd
    if w is not None:
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", 1)
            + b"\x00" * 4
            + struct.pack(">I", duration & 0xFFFFFFFF)
            + b"\x00" * 8
            + b"\x00" * 8
            + b"\x00" * 36
            + struct.pack(">II", w << 16, h << 16),
        )
        children += box(b"trak", tkhd)
    mp4 = (
        box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
        + box(b"moov", children, force64=use64)
    )

    got = parse_mp4_meta(mp4)
    assert got == (duration * 1000 // timescale, w, h)


@given(payload=st.binary(max_size=64))
@settings(**SETTINGS)
def test_container_parsers_never_crash_on_junk(payload):
    from aci_export_spark.multimodal import (
        parse_image_dims, parse_mp4_meta, parse_wav_meta,
    )

    # arbitrary bytes: parsers must return None or a well-formed tuple,
    # never raise
    for fn in (parse_wav_meta, parse_mp4_meta, parse_image_dims):
        out = fn(payload)
        assert out is None or isinstance(out, tuple)


# ---------------------------------------------------------------------------
# AllPairs/PPJoin prefix plan ≡ naive quadratic plan (exact-threshold
# Jaccard): the prefix filter, PPJoin size/position pruning, and the exact
# decimal ceil must never drop or invent a pair on ANY corpus/threshold —
# including pairs sitting exactly on the threshold.
# ---------------------------------------------------------------------------


@given(
    docs=st.lists(
        st.lists(st.integers(min_value=0, max_value=14), min_size=0, max_size=8),
        min_size=0,
        max_size=12,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.5000009, 2 / 3, 0.75, 0.9, 0.999999, 1.0]),
)
@settings(**SETTINGS)
def test_prefix_jaccard_equals_naive(spark, docs, threshold):
    from aci_export_spark.llm import dedup as D

    rows = [(i, [f"t{t}" for t in toks], "b") for i, toks in enumerate(docs)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "toks", "lang"])
        if rows
        else pd.DataFrame([], columns=["doc_id", "toks", "lang"]),
        schema="doc_id long, toks array<string>, lang string",
    )
    naive = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.jaccard_pairs(df, "doc_id", "toks", "lang", threshold).collect()
    }
    prefix = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in D.jaccard_pairs_prefix(
            df, "doc_id", "toks", "lang", threshold
        ).collect()
    }
    assert prefix == naive


# ---------------------------------------------------------------------------
# Pigeonhole-blocked Hamming pairs ≡ brute-force Hamming self-join, for
# random hash tables, widths, radii, and block counts — the guaranteed-recall
# claim behind SimHash near-dup and pHash image dedup, fuzzed.
# ---------------------------------------------------------------------------


@given(
    data=st.lists(
        st.integers(min_value=0, max_value=(1 << 16) - 1), min_size=0, max_size=24
    ),
    bits=st.sampled_from([16, 24, 32, 60]),
    max_hamming=st.integers(min_value=0, max_value=4),
    extra_blocks=st.integers(min_value=0, max_value=2),
)
@settings(**SETTINGS)
def test_hamming_blocked_equals_bruteforce(spark, data, bits, max_hamming, extra_blocks):
    from aci_export_spark.llm import dedup as D

    n_blocks = max_hamming + 1 + extra_blocks
    if n_blocks > bits:
        n_blocks = bits
    if n_blocks <= max_hamming:
        return  # invalid configuration, guarded by the operator itself
    rows = [(i, h) for i, h in enumerate(data)]
    df = spark.createDataFrame(
        pd.DataFrame(rows or [(0, 0)], columns=["id", "h"])
        if rows
        else pd.DataFrame([(0, 0)], columns=["id", "h"]).iloc[:0],
        schema="id long, h long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.hamming_pairs_blocked(
            df, "id", "h", max_hamming=max_hamming, bits=bits, n_blocks=n_blocks
        ).collect()
    }
    want = {}
    for i, ha in rows:
        for j, hb in rows:
            if i < j and bin(ha ^ hb).count("1") <= max_hamming:
                want[(i, j)] = bin(ha ^ hb).count("1")
    assert got == want
