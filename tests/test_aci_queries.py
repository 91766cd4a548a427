"""Semantic parity tests for the ACI-domain query library over the
deterministic fixtures — the correctness harness the reference never had
(SURVEY.md §5), focused on the §7.4 semantic traps."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import textwrap
from datetime import timedelta
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from aci_export_spark.queries import members as M
from aci_export_spark.queries import leadership as L
from aci_export_spark.queries import entities as E
from aci_export_spark.queries.catalog import load_catalog
from tests.aci_fixtures import build_fixtures, CLASS_LIFETIME_TID, TODAY

REPO = str(Path(__file__).resolve().parents[1])


@pytest.fixture(scope="session")
def aci(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aci_fixtures"))
    build_fixtures(out)
    from aci_export_spark.queries.catalog import load_catalog

    return load_catalog(spark, out)


TODAY_S = TODAY.isoformat()


class TestMembers:
    def test_partner_exclusion(self, aci):
        # uid 6 is uid 5's partner AND a primary row → excluded (P7)
        rows = {r.user_id for r in M.members(aci, today=TODAY_S).select("user_id").collect()}
        assert 6 not in rows
        assert 5 in rows

    def test_status_domain_filter(self, aci):
        # personal_status_id 999 (uid%4==3) is out of domain → excluded (P4)
        rows = M.members(aci, today=TODAY_S).select("user_id", "member_status").collect()
        ids = {r.user_id for r in rows}
        assert 3 not in ids and 7 not in ids
        by_id = {r.user_id: r.member_status for r in rows}
        assert by_id[1] == "lapsed"  # 951
        assert by_id[4] == "current"  # 947
        assert by_id[2] == "current"  # 1099

    def test_email_priority_dedup_unscoped(self, aci):
        # uid 38 (affiliate) shares uid 2's email → regular uid 2 wins (A4)
        rows = {r.user_id for r in M.members(aci, today=TODAY_S).select("user_id").collect()}
        assert 2 in rows
        assert 38 not in rows

    def test_scope_dedup_interaction(self, aci):
        # SURVEY §7.4.3: in a club-5 scope, uid 2 (same email, other club) is
        # not in the result set, so affiliate uid 38 survives
        rows = {r.user_id for r in M.members(aci, club=5, today=TODAY_S).select("user_id").collect()}
        assert 38 in rows
        assert 2 not in rows

    def test_member_type_derivation(self, aci):
        by_id = {
            r.user_id: r.member_type
            for r in M.members(aci, today=TODAY_S).select("user_id", "member_type").collect()
        }
        assert by_id[28] == "affiliate"  # affiliate-only user
        assert by_id[4] == "regular"

    def test_liveness_windows_diverge(self, aci):
        # uid 22 left 100 days ago: in the all query (1y grace), out of the
        # strict club query (SURVEY §7.4.4)
        all_ids = {r.user_id for r in M.members(aci, today=TODAY_S).select("user_id").collect()}
        club7 = {r.user_id for r in M.members(aci, club=7, today=TODAY_S).select("user_id").collect()}
        assert 22 in all_ids
        assert 22 not in club7

    def test_argmax_tie_break(self, aci):
        # uid 10 has two open memberships with the same join_date (clubs 3 and
        # 8); deterministic pick = lowest paragraph_id = the club-3 row
        row = M.members(aci, today=TODAY_S).filter(F.col("user_id") == 10).collect()[0]
        assert row.club_uid == 3

    def test_dedupe_pick_min_paragraph(self, aci):
        # uid 12 has an exact duplicate membership paragraph → history keeps 1
        hist = M.membership_history(aci, user_uid=12).collect()
        keys = [(r.user_uid, r.club_uid, str(r.join_date), r.member_type) for r in hist]
        assert len(keys) == len(set(keys))

    def test_partner_struct_and_brns(self, aci):
        rows = {r.user_id: r for r in M.members(aci, today=TODAY_S).collect()}
        assert rows[5].partner is not None and rows[5].partner.uid == 6
        assert rows[4].partner is None
        assert rows[1].brn_numbers == ["123", "456", "789"]
        assert rows[2].brn_numbers == ["200"]

    def test_member_class_decode(self, aci):
        by_id = {
            r.user_id: r.member_class
            for r in M.members(aci, today=TODAY_S).select("user_id", "member_class").collect()
        }
        # uid 13: lifetime para joined 2019 (not the latest pick → Regular);
        # picked row class defaults to Regular when tid is NULL
        assert by_id[4] == "Regular"
        assert by_id[17] in ("Regular", "Complimentary")

    def test_point_lookups(self, aci):
        assert M.member_by_uid(aci, 4, today=TODAY_S).count() == 1
        got = M.member_by_email(aci, "user4@mail.test", today=TODAY_S).collect()
        assert len(got) == 1 and got[0].user_id == 4

    @staticmethod
    def _uids(tables, **scope) -> set[int]:
        return {r.user_id for r in M.members(tables, today=TODAY_S, **scope).collect()}

    def test_region_scope(self, aci):
        # region 2 = clubs 1, 4 and 7 (region_uid = 1 + uid % 3); uid 22
        # (club 7) left 100 days ago and is outside the strict window, and
        # club 4's users all have an out-of-domain status
        assert self._uids(aci, region=2) == {8, 14, 16, 21, 24, 30, 32, 40}

    def test_club_and_region_scope_is_a_union(self, aci):
        club5 = self._uids(aci, club=5)
        region1 = self._uids(aci, region=1)  # clubs 3 and 6
        assert club5 == {4, 9, 12, 20, 33, 36, 38}
        assert region1 == {2, 5, 10, 13, 18, 21, 26, 29, 34, 37, 40}
        # the A4 email dedup runs on the union: regular uid 2 (club 3) beats
        # affiliate uid 38 (club 5), which shares its email
        assert self._uids(aci, club=5, region=1) == (club5 | region1) - {38}

    def test_club_missing_from_clubs_is_in_no_scope(self, aci):
        # club 3's paragraphs stay, its clubs row is gone: no scope reaches
        # them, and the unscoped query keeps them without club columns
        tables = dict(aci, clubs=aci["clubs"].filter(F.col("uid") != 3))
        assert self._uids(tables, club=3) == set()
        assert self._uids(tables, region=1) == {5, 13, 18, 21, 29, 37, 40}  # club 6
        row = M.members(tables, today=TODAY_S).filter(F.col("user_id") == 2).collect()[0]
        assert (row.club_uid, row.club_number, row.club_name, row.club_region) == (
            3, None, None, None)

    def test_dedupe_pick_runs_before_liveness(self, spark, aci):
        """A2 keeps the MIN paragraph_id row of a duplicate key before the
        liveness windows see it: an open duplicate with a higher id never
        stands in for a MIN row that has left, and the MIN row's class
        decides. uid 14 (club 7) and uid 26 (club 3) each get one such pair
        in place of their fixture paragraphs."""
        paras = aci["membership_paragraphs"]

        def pair(uid, club, min_leave, min_class):
            key = dict(parent_id=uid, ptype="membership", status=1, club_nid=float(club),
                       join_date="2020-03-01", link_kind="field_home_club")
            return [
                dict(key, paragraph_id=uid, leave_date=min_leave, membership_class_tid=min_class),
                dict(key, paragraph_id=10**6 + uid, leave_date=None, membership_class_tid=None),
            ]

        extra = spark.createDataFrame(
            pair(14, 7, (TODAY - timedelta(days=730)).isoformat(), None)
            + pair(26, 3, (TODAY - timedelta(days=100)).isoformat(), float(CLASS_LIFETIME_TID)),
            schema=paras.schema,
        )
        tables = dict(aci, membership_paragraphs=paras.filter(
            ~F.col("parent_id").isin(14, 26)).unionByName(extra))

        unscoped = {r.user_id: r for r in M.members(tables, today=TODAY_S).collect()}
        # uid 14's MIN row left two years ago, outside even the 1y grace window
        assert 14 not in unscoped
        # uid 26's MIN row left 100 days ago: inside the grace window, with
        # its class; outside the club query's strict window
        assert unscoped[26].member_class == "Lifetime"
        assert str(unscoped[26].join_date) == "2020-03-01"
        assert 14 not in self._uids(tables, club=7)
        assert 26 not in self._uids(tables, club=3)
        assert [r.paragraph_id for r in M.membership_history(tables, user_uid=26).collect()] == [26]

    def test_one_shuffle_per_key_and_one_read_of_clubs(self, aci):
        # AQE's initial plan, before any stage has run: one hash exchange on
        # the user (the paragraphs' partitioning, shared by the A2 and A1/A3
        # windows) and one on the email key (A4); `clubs` scanned once. A held
        # lookup extract would serve the unscoped plan from its cache.
        M.release_lookup_extract()
        for scope in ({}, {"club": 3}, {"region": 2}):
            df = M.members(aci, today=TODAY_S, **scope)
            plan = df._jdf.queryExecution().executedPlan().initialPlan().toString()
            exchanges = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
            assert len(exchanges) == 2 and "parent_id" in exchanges, (scope, exchanges)
            clubs_scans = [ln for ln in plan.splitlines()
                           if "FileScan" in ln and "/clubs.parquet" in ln]
            assert len(clubs_scans) == 1, (scope, clubs_scans)

    def test_keyed_history_sorts_in_one_partition(self, aci):
        df = M.membership_history(aci, user_uid=24)
        plan = df._jdf.queryExecution().executedPlan().initialPlan().toString()
        assert "rangepartitioning" not in plan
        rows = [(r.join_date, r.paragraph_id) for r in df.collect()]
        assert len(rows) > 1 and rows == sorted(rows)


def _rows(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture(scope="module")
def aci_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aci_lookup_fixtures"))
    build_fixtures(out)
    return out


OTHER_TODAY_S = "2021-06-01"


class TestPointLookups:
    """`member_by_uid` / `member_by_email` filter one persisted members()
    extract (`M.lookup_extract`) and must answer exactly what members() with
    the same parameters, filtered the same way, answers."""

    @staticmethod
    def _assert_lookups_match(tables, today, **scope):
        ref = _rows(M.members(tables, today=today, **scope))
        # fixture users are uids 1..60; 0 and 61 miss
        for uid in range(0, 62):
            got = _rows(M.member_by_uid(tables, uid, today=today, **scope))
            assert got == [r for r in ref if r["user_id"] == uid], uid
        raw = {r.email for r in tables["member_search"].select("email").collect()}
        keys = {e for e in raw if e is not None} | {"nobody@nowhere.test", "  USER4@MAIL.TEST"}
        for email in sorted(keys):
            key = email.strip().lower()
            want = [r for r in ref if r["email"] is not None and r["email"].strip().lower() == key]
            got = _rows(M.member_by_email(tables, email, today=today, **scope))
            if key:
                assert got == want, email
            else:  # every email-less member matches ''; the lookup returns one
                assert len(got) == min(1, len(want)) and all(r in want for r in got)
        return ref

    def test_lookups_match_members(self, spark, aci_dir):
        tables = load_catalog(spark, aci_dir)
        ref = self._assert_lookups_match(tables, TODAY_S)
        by_uid = {r["user_id"]: r for r in ref}
        # partner-is-primary (uid 6) and the shared-email loser (uid 38) miss;
        # the shared email resolves to the regular winner, uid 2
        assert M.member_by_uid(tables, 6, today=TODAY_S).count() == 0
        assert M.member_by_uid(tables, 38, today=TODAY_S).count() == 0
        assert [r["user_id"] for r in _rows(
            M.member_by_email(tables, "user2@mail.test", today=TODAY_S))] == [2]
        # argmax ties (uid % 10 == 0) and NULL / '' email members are found
        assert {10, 20, 30, 17, 34, 13, 26} <= set(by_uid)
        assert by_uid[17]["email"] is None and by_uid[13]["email"] == ""

        # identical after reopening the catalog
        reopened = load_catalog(spark, aci_dir)
        assert self._assert_lookups_match(reopened, TODAY_S) == ref
        # and correct for a second today and for a club scope, where the
        # shared-email affiliate (uid 38) survives
        assert self._assert_lookups_match(reopened, OTHER_TODAY_S) != ref
        self._assert_lookups_match(reopened, TODAY_S, club=5)
        assert [r["user_id"] for r in _rows(
            M.member_by_email(reopened, "user2@mail.test", club=5, today=TODAY_S))] == [38]
        M.release_lookup_extract()

    def test_one_extract_held_and_reopen_releases(self, spark, aci_dir):
        tables = load_catalog(spark, aci_dir)
        base = _persisted_rdds(spark)
        M.member_by_uid(tables, 4, today=TODAY_S).collect()
        assert _persisted_rdds(spark) == base + 1
        M.member_by_email(tables, "user4@mail.test", today=TODAY_S).collect()
        assert _persisted_rdds(spark) == base + 1  # same key: reused
        M.member_by_uid(tables, 4, today=OTHER_TODAY_S).collect()
        assert _persisted_rdds(spark) == base + 1  # new key: old released first
        M.member_by_uid(tables, 4, club=5, today=OTHER_TODAY_S).collect()
        assert _persisted_rdds(spark) == base + 1
        load_catalog(spark, aci_dir)
        assert _persisted_rdds(spark) == base

    def test_reopen_reads_changed_source(self, spark, tmp_path):
        """Frames opened again over the same paths are plan-equal to the
        old ones; once the source changed, reopening with `load_catalog`
        must not leave them reading the old extract."""
        import pandas as pd

        d = str(tmp_path / "aci")
        build_fixtures(d)
        tables = load_catalog(spark, d)
        assert M.member_by_uid(tables, 4, today=TODAY_S).count() == 1
        path = os.path.join(d, "member_search.parquet")
        search = pd.read_parquet(path)
        search[search["user_id"] != 4].to_parquet(path, index=False)
        reopened = load_catalog(spark, d)
        assert 4 not in {r.user_id for r in M.members(reopened, today=TODAY_S).collect()}
        assert M.member_by_uid(reopened, 4, today=TODAY_S).count() == 0
        M.release_lookup_extract()

    def test_extract_survives_a_sync_run(self, spark, aci_dir, tmp_path):
        """A sync run on the same catalog and today shares the lookup
        extract's cache entry (plan-equal members() frame) and must leave it
        cached."""
        from aci_export_spark.sync.app_sync import run_mirror_sync_and_write

        tables = load_catalog(spark, aci_dir)
        first = _rows(M.member_by_uid(tables, 4, today=TODAY_S))
        before = _persisted_rdds(spark)
        run_mirror_sync_and_write(tables, spark, str(tmp_path / "mirror"), today=TODAY_S)
        assert _persisted_rdds(spark) == before
        again = M.member_by_uid(tables, 4, today=TODAY_S)
        assert "InMemoryTableScan" in again._jdf.queryExecution().executedPlan().toString()
        assert _rows(again) == first
        M.release_lookup_extract()

    def test_lookup_after_session_restart(self, aci_dir):
        """An extract whose session was stopped is dropped without raising,
        both when a lookup prepares a new key and when the catalog is
        reopened. Runs in its own process: it stops its session."""
        script = textwrap.dedent(f"""
            from aci_export_spark.queries import members as M
            from aci_export_spark.queries.catalog import ACI_TABLES, load_catalog
            from aci_export_spark.session import get_spark

            def session():
                s = get_spark("lookup-restart", master="local[1]", shuffle_partitions=2)
                s.sparkContext.setLogLevel("ERROR")
                return s

            d, today = {aci_dir!r}, {TODAY_S!r}
            spark = session()
            want = M.member_by_uid(load_catalog(spark, d), 4, today=today).collect()
            assert len(want) == 1
            spark.stop()
            spark = session()
            fresh = {{t: spark.read.parquet(f"{{d}}/{{t}}.parquet") for t in ACI_TABLES}}
            assert M.member_by_uid(fresh, 4, today=today).collect() == want
            spark.stop()
            spark = session()
            assert M.member_by_uid(load_catalog(spark, d), 4, today=today).collect() == want
            spark.stop()
            print("restart-ok")
        """)
        env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
        done = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                              capture_output=True, text=True, timeout=600)
        assert done.returncode == 0, done.stderr[-3000:]
        assert "restart-ok" in done.stdout


class TestLeadership:
    def test_null_start_dropped_and_coalesce_person(self, aci):
        rows = L.leadership(aci).collect()
        assert all(r.start_date is not None for r in rows)
        persons = {r.person_uid for r in rows}
        assert 30 not in persons  # NULL start row dropped
        assert 6 in persons  # member_uid-only person (coalesce key)

    def test_as_of_inclusive_endpoints(self, aci):
        # closed interval 2023-01-01 → 2025-01-01: both endpoints inclusive
        at_end = L.leadership(aci, L.ENTITY_CLUB, 1, date_filter="as_of", as_of="2025-01-01")
        assert any(r.person_uid == 2 for r in at_end.collect())
        after = L.leadership(aci, L.ENTITY_CLUB, 1, date_filter="as_of", as_of="2025-01-02")
        assert not any(r.person_uid == 2 for r in after.collect())

    def test_current_filter(self, aci):
        cur = L.leadership(aci, L.ENTITY_CLUB, 1, date_filter="current").collect()
        assert {r.person_uid for r in cur} == {3}  # only the open interval

    def test_committee_implicit_chair(self, aci):
        com = L.leadership(aci, L.ENTITY_COMMITTEE, 901).collect()
        chair = [r for r in com if r.person_uid == 33]
        assert chair and chair[0].role_uid == 0 and chair[0].role_name == "Chair"

    def test_dedup_for_upsert(self, aci):
        lead = L.leadership(aci, L.ENTITY_CLUB, 2)
        deduped = L.dedup_for_upsert(lead)
        keys = [
            (r.entity_uid, r.person_uid, r.role_uid, str(r.start_date))
            for r in deduped.collect()
        ]
        assert len(keys) == len(set(keys))
        assert lead.count() > deduped.count()  # the fixture dup was dropped

    def test_fk_existence_filter(self, aci):
        lead = L.leadership(aci, L.ENTITY_CLUB)
        kept = L.filter_to_existing_entities(lead, aci["clubs"])
        assert lead.count() - kept.count() == 1  # orphan entity 777 dropped

    def test_by_number_resolves_via_semi_join(self, aci):
        # club uid=1 carries number 101; the number-resolved result must equal
        # the direct uid lookup, with no eager driver action in the plan
        by_num = L.leadership_by_number(aci, L.ENTITY_CLUB, 101)
        by_uid = L.leadership(aci, L.ENTITY_CLUB, entity_uid=1)
        assert sorted(map(tuple, by_num.collect())) == sorted(map(tuple, by_uid.collect()))
        assert by_num.count() > 0
        assert L.leadership_by_number(aci, L.ENTITY_CLUB, 99999).count() == 0


class TestEntities:
    def test_users_excludes_pass(self, aci):
        df = E.users(aci)
        assert "pass" not in df.columns and "pass_hash" not in df.columns
        row = E.users(aci, uid=1).collect()[0]
        assert row.last_login is not None and row.active

    def test_addresses_order_and_mailing(self, aci):
        rows = E.addresses(aci, user_uid=4).collect()
        assert [r.delta for r in rows] == sorted(r.delta for r in rows)
        # uid%7==0 users have no mailing address
        assert E.addresses(aci, user_uid=7, mailing_only=True).count() == 0
        assert E.addresses(aci, user_uid=4, mailing_only=True).count() == 1

    def test_airstreams_decimal(self, aci):
        df = E.airstreams(aci, user_uid=None)
        assert dict(df.dtypes)["length"] == "decimal(5,2)"

    def test_brns_roundtrip(self, aci):
        wide = {r.user_id: r.brn_numbers for r in E.brns_wide(aci).collect()}
        assert wide[1] == ["123", "456", "789"]
        rebuilt = {r.user_id: r.brns_values for r in E.brns_rebuild_csv(aci).collect()}
        assert rebuilt[1] == "123,456,789"
        assert rebuilt[2] == "200"

    def test_clubs_regions_races(self, aci):
        assert E.clubs(aci, number=103).collect()[0].uid == 3
        assert E.clubs(aci).count() == 7  # active only (club 7 inactive)
        assert E.regions(aci).count() == 3
        races = E.races(aci).collect()
        assert [r.uid for r in races] == sorted(r.uid for r in races)


class TestRoles:
    def test_user_roles_and_filter(self, aci):
        from aci_export_spark.queries import roles as R

        all_roles = R.user_roles(aci)
        assert all_roles.filter(F.col("role") == "member").count() == 30
        webmasters = R.user_roles(aci, role="webmaster")
        assert {r["user_uid"] % 6 for r in webmasters.collect()} == {0}

    def test_microsite_admin_resolution(self, aci):
        from aci_export_spark.queries import roles as R

        admins = {(r["user_uid"], r["entity_uid"]): r["is_region"]
                  for r in R.microsite_admins(aci).collect()}
        # dangling target dropped (roles.rs: no bundle matched)
        assert not any(uid == 99999 for (_, uid) in admins)
        # targets 1..3 exist in both uid spaces → region precedence
        assert all(is_region for (_, uid), is_region in admins.items() if uid <= 3)
        # club-only targets resolve with is_region=False
        assert any(not is_region for (_, uid), is_region in admins.items() if uid >= 4)
        # uid 30 (both %6 and %15) administers a club AND a region site
        assert {uid for (u, uid) in admins if u == 30} == {4 + 30 % 5, 1 + 30 % 3}
