"""End-to-end tests for the two sync pipelines (SURVEY.md §3.2/§3.3) and the
CLI over the ACI fixtures: mirror convergence/idempotence, mail-document
semantics, REST sink chunking/retry/retain, and the reference's per-run
stats."""

from __future__ import annotations

import hashlib
import io
import json
import sys

import pytest
from pyspark.sql import functions as F

from tests.aci_fixtures import build_fixtures, TODAY

TODAY_S = TODAY.isoformat()


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aci_sync_fixtures"))
    build_fixtures(out)
    return out


@pytest.fixture(scope="module")
def aci(spark, fixture_dir):
    from aci_export_spark.queries.catalog import load_catalog

    return load_catalog(spark, fixture_dir)


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class TestAppSync:
    def test_first_run_then_idempotent(self, spark, aci, tmp_path):
        import os

        from aci_export_spark.sync.app_sync import LOAD_ORDER, run_mirror_sync_and_write

        mirror = str(tmp_path / "mirror")
        os.makedirs(mirror)

        def written(name):
            return spark.read.parquet(os.path.join(mirror, f"{name}.parquet")).count()

        # first run: empty mirror → all upserts, no deletes
        stats = run_mirror_sync_and_write(aci, spark, mirror, today=TODAY_S)
        assert set(stats) == set(LOAD_ORDER)
        for name in LOAD_ORDER:
            assert stats[name]["deleted"] == 0
            assert stats[name]["upserted"] == written(name) > 0
        before = {name: written(name) for name in LOAD_ORDER}

        # second run over the already-synced mirror: converged — the
        # post-state equals the mirror, and nothing is deleted
        stats2 = run_mirror_sync_and_write(aci, spark, mirror, today=TODAY_S)
        for name in LOAD_ORDER:
            assert stats2[name]["deleted"] == 0, name
            assert written(name) == before[name], name

    def test_mirror_gc_deletes_vanished_rows(self, spark, aci, tmp_path):
        from aci_export_spark.operators.mirror import mirror_sync_observed

        src = aci["clubs"].select("uid", "name")
        # stale mirror: an extra row that no longer exists in the source
        stale = src.unionByName(
            spark.createDataFrame([(99999, "Ghost Club")], ["uid", "name"])
        )
        post, obs = mirror_sync_observed(stale, src, ["uid"])
        path = str(tmp_path / "clubs.parquet")
        post.write.parquet(path)
        assert obs.get["deleted"] == 1
        assert spark.read.parquet(path).filter(F.col("uid") == 99999).count() == 0

    def test_user_consolidation_includes_partners_and_leaders(self, aci):
        from aci_export_spark.queries.members import members
        from aci_export_spark.sync.app_sync import extract_users

        users = extract_users(aci, members(aci, today=TODAY_S))
        # synthetic id present and email-derived (db/src/user.rs:31-35)
        row = users.filter(F.col("email").isNotNull()).first()
        digest = hashlib.sha256(row["email"].strip().lower().encode()).digest()
        import base64

        assert row["id"] == base64.urlsafe_b64encode(digest).rstrip(b"=").decode()
        # uids unique
        assert users.count() == users.select("uid").distinct().count()

    def test_run_releases_its_cache(self, spark, aci, tmp_path, monkeypatch):
        """The run's persisted members and users frames are released when
        the run ends, whether it succeeds or fails."""
        from aci_export_spark.operators import mirror
        from aci_export_spark.sync.app_sync import LOAD_ORDER, run_mirror_sync_and_write

        before = _persisted_rdds(spark)
        run_mirror_sync_and_write(aci, spark, str(tmp_path / "ok"), today=TODAY_S)
        assert _persisted_rdds(spark) == before

        # make the write of the entity after `users` raise
        original = mirror.mirror_sync_observed
        calls, held = [], []

        def failing(target, source, keys):
            calls.append(keys)
            if len(calls) == LOAD_ORDER.index("users") + 2:
                held.append(_persisted_rdds(spark))
                raise RuntimeError("injected write failure")
            return original(target, source, keys)

        monkeypatch.setattr(mirror, "mirror_sync_observed", failing)
        with pytest.raises(RuntimeError, match="injected write failure"):
            run_mirror_sync_and_write(aci, spark, str(tmp_path / "fail"), today=TODAY_S)
        # the cache was in use when the run failed, and it is gone now
        assert held and held[0] > before
        assert _persisted_rdds(spark) == before


def test_today_pinned_once_per_run(spark, aci, tmp_path, monkeypatch):
    """With today=None, a sync run resolves the UTC date once at its start:
    every members() call of the run sees the same date string, even if the
    clock moves on (here: the fake clock advances a day per reading)."""
    from aci_export_spark.queries import members as M
    from aci_export_spark.sync import app_sync, mail_sync
    from aci_export_spark.sync.rest import JournalingMailchimpClient

    readings = iter(f"2026-01-{d:02d}" for d in range(1, 32))
    monkeypatch.setattr(app_sync, "utc_today", lambda: next(readings))
    monkeypatch.setattr(mail_sync, "utc_today", lambda: next(readings))
    seen: list = []
    original = M.members

    def recording(tables, *args, **kwargs):
        seen.append(kwargs.get("today"))
        return original(tables, *args, **kwargs)

    monkeypatch.setattr(M, "members", recording)

    app_sync.run_mirror_sync_and_write(aci, spark, str(tmp_path / "mirror"))
    assert seen and seen[0] is not None and set(seen) == {seen[0]}

    seen.clear()
    results = mail_sync.run_jobs(
        aci, jobs=[{"id": 1, "club": 5}, {"id": 2}],
        client_factory_for=lambda job: lambda: JournalingMailchimpClient(
            str(tmp_path / f"j{job['id']}")),
    )
    assert all("error" not in r for r in results.values()), results
    assert len(seen) == 2 and seen[0] is not None and set(seen) == {seen[0]}


class TestMailSync:
    def test_documents_partner_fanout_and_merge_fields(self, aci):
        from aci_export_spark.sync.mail_sync import documents_for_scope

        docs = documents_for_scope(aci, today=TODAY_S)
        rows = {(r["email_address"], r["is_partner"]): r for r in docs.collect()}
        # every document id is md5(lower(email)) (F8)
        for (email, _), r in rows.items():
            assert r["id"] == hashlib.md5(email.encode()).hexdigest()
        partners = [r for r in rows.values() if r["is_partner"]]
        assert partners, "fixtures include partnered members"
        for p in partners:
            # partner doc points back at its primary (members.rs:887-895)
            assert p["primary_ref"] is not None
            assert (p["primary_ref"], False) in rows
        # no placeholder domains survive the validity filter (P9)
        assert not [e for (e, _) in rows if e.endswith(("noemail.com", "example.com"))]
        # typed rendering: JOINED %Y-%m-%d, BDAY %m/%d (F11)
        with_bday = [r for r in rows.values() if r["merge_fields"].get("BDAY")]
        assert with_bday
        for r in with_bday[:5]:
            mf = r["merge_fields"]
            assert len(mf["BDAY"].split("/")) == 2
            if mf.get("JOINED"):
                assert len(mf["JOINED"].split("-")) == 3
        # the >10-char tag was rejected from the schema (merge_fields.rs:119-127)
        assert all("WAYTOOLONGTAG" not in r["merge_fields"] for r in rows.values())

    def test_rest_job_upsert_retain_tags_with_retries(self, aci, tmp_path):
        from aci_export_spark.sync.mail_sync import documents_for_scope, run_job
        from aci_export_spark.sync.rest import JournalingMailchimpClient

        base = str(tmp_path / "journal")
        stats = run_job(
            aci,
            client_factory=lambda: JournalingMailchimpClient(
                base, fail_first_n_attempts=1  # every batch fails once → retry covers it
            ),
            today=TODAY_S,
        )
        client = JournalingMailchimpClient(base)
        upserted = client.upserted_rows()
        # exactly the documents, each exactly once despite injected failures…
        docs = documents_for_scope(aci, today=TODAY_S)
        assert stats["upserted"] == docs.count()
        assert len(upserted) == docs.count()
        # journaled ids are exactly the document ids (as a multiset — a
        # partner email may legitimately collide with another member's email,
        # and the reference upserts both docs to the same remote member)
        assert sorted(r["id"] for r in upserted) == sorted(
            r["id"] for r in docs.select("id").collect()
        )
        # …retain deleted the stale remote-only subscriber but kept 'cleaned'
        gone1 = hashlib.md5(b"gone1@x.test").hexdigest()
        gone2 = hashlib.md5(b"gone2@x.test").hexdigest()
        deleted = client.deleted_ids()
        assert gone1 in deleted and gone2 not in deleted
        assert stats["deleted"] == len(deleted)
        # …tags: 4 per document, statuses are active/inactive strings
        tags = client.tag_updates()
        assert len(tags) == 4 * docs.count()
        assert {t["status"] for t in tags} <= {"active", "inactive"}
        assert stats["tag_updates"] == len(tags)

    def test_sinks_count_what_they_sent(self, aci, tmp_path):
        """Each REST sink returns the items it pushed, counted in the pushing
        pass: equal to the journaled items and calls, also when every batch
        is retried once."""
        import os

        from aci_export_spark.sync.mail import member_tags
        from aci_export_spark.sync.mail_sync import documents_for_scope
        from aci_export_spark.sync.rest import (
            JournalingMailchimpClient,
            retain_audience_sink,
            update_tags_sink,
            upsert_documents_sink,
        )

        base = str(tmp_path / "journal")

        def factory():
            return JournalingMailchimpClient(base, fail_first_n_attempts=1)

        def calls(sub):
            return len(os.listdir(os.path.join(base, sub)))

        docs = documents_for_scope(aci, today=TODAY_S)
        client = JournalingMailchimpClient(base)
        upserted = upsert_documents_sink(docs, factory, batch_size=7)
        assert upserted == len(client.upserted_rows()) == docs.count()
        assert calls("upserts") >= upserted / 7
        deleted = retain_audience_sink(aci["mailchimp_audience"], docs.select("id"), factory)
        assert deleted == len(client.deleted_ids()) == calls("deletes") > 0
        tagged = update_tags_sink(member_tags(docs), factory, batch_size=11)
        assert tagged == len(client.tag_updates()) == 4 * docs.count()
        assert calls("tags") >= tagged / 11

    def test_retain_counts_delete_404_as_already_gone(self, aci, tmp_path):
        """A delete answered with 404 (sent before by a failed attempt of a
        retried task) counts as done instead of failing the job; 401 still
        fails it."""
        from aci_export_spark.sync.rest import (
            JournalingMailchimpClient,
            PermanentError,
            retain_audience_sink,
        )

        audience = aci["mailchimp_audience"]
        keep = audience.select("id").limit(0)  # every non-cleaned member is stale
        stale = sorted(
            r["id"] for r in audience.filter(F.col("status") != "cleaned").collect()
        )
        gone = set(stale[::2])
        base = str(tmp_path / "journal")

        class GoneClient(JournalingMailchimpClient):
            def delete_member(self, member_id: str) -> None:
                if member_id in gone:
                    raise PermanentError(404, "resource not found")
                super().delete_member(member_id)

        class UnauthorizedClient(JournalingMailchimpClient):
            def delete_member(self, member_id: str) -> None:
                raise PermanentError(401, "bad api key")

        deleted = retain_audience_sink(audience, keep, lambda: GoneClient(base))
        assert deleted == len(stale) > len(gone) > 0
        assert JournalingMailchimpClient(base).deleted_ids() == set(stale) - gone
        with pytest.raises(Exception, match="permanent HTTP 401"):
            retain_audience_sink(audience, keep, lambda: UnauthorizedClient(base))

    def test_batch_item_errors_logged_and_counted(self, aci, tmp_path):
        from aci_export_spark.sync.mail_sync import documents_for_scope, run_job
        from aci_export_spark.sync.rest import JournalingMailchimpClient

        docs = documents_for_scope(aci, today=TODAY_S)
        victim = docs.select("email_address").first()["email_address"]
        base = str(tmp_path / "journal")
        stats = run_job(
            aci,
            client_factory=lambda: JournalingMailchimpClient(
                base, item_error_emails={victim}
            ),
            today=TODAY_S,
        )
        n_victim = docs.filter(F.col("email_address") == victim).count()
        assert stats["upsert_errors"] == n_victim
        assert stats["upserted"] == docs.count() - n_victim
        # the rejected item did not land in the journal
        landed = JournalingMailchimpClient(base).upserted_rows()
        assert all(r["email_address"] != victim for r in landed)
        assert len(landed) == stats["upserted"]

    def test_job_preflight_fails_fast_with_no_writes(self, aci, tmp_path):
        from aci_export_spark.sync.mail_sync import run_job
        from aci_export_spark.sync.rest import (
            JournalingMailchimpClient,
            PermanentError,
        )

        base = str(tmp_path / "journal")

        class DeadApiClient(JournalingMailchimpClient):
            def ping(self):
                raise PermanentError(401, "bad api key")

        with pytest.raises(PermanentError):
            run_job(aci, client_factory=lambda: DeadApiClient(base), today=TODAY_S)
        # the pre-flight gate held: nothing was upserted, deleted, or tagged
        client = JournalingMailchimpClient(base)
        assert client.upserted_rows() == []
        assert client.deleted_ids() == set()
        assert client.tag_updates() == []

    def test_job_fault_isolation(self, aci, tmp_path):
        from aci_export_spark.sync.mail_sync import run_jobs

        def factory_for(job):
            if job.get("boom"):
                def bad():
                    raise RuntimeError("injected job failure")
                return bad
            from aci_export_spark.sync.rest import JournalingMailchimpClient

            return lambda: JournalingMailchimpClient(str(tmp_path / f"j{job['id']}"))

        results = run_jobs(
            aci,
            jobs=[{"id": 1, "club": 5}, {"id": 2, "boom": True}, {"id": 3}],
            client_factory_for=factory_for,
            today=TODAY_S,
        )
        assert "error" in results["2"]
        assert results["1"]["upserted"] > 0
        assert results["3"]["upserted"] > results["1"]["upserted"]


class TestCli:
    def _run(self, argv):
        from aci_export_spark import cli

        buf = io.StringIO()
        old = sys.stdout
        sys.stdout = buf
        try:
            cli.main(argv)
        finally:
            sys.stdout = old
        return buf.getvalue()

    def test_ddb_members_json(self, fixture_dir):
        out = self._run(
            ["--data-dir", fixture_dir, "--today", TODAY_S, "ddb", "members", "--club", "5"]
        )
        rows = json.loads(out)
        assert rows and all("email" in r for r in rows)
        # S7 null-skipping: absent optional fields are omitted, not null
        assert all(v is not None for r in rows for v in r.values())

    def test_ddb_lookup_answers_each_stdin_key(self, spark, fixture_dir, monkeypatch):
        """`ddb lookup` prints one JSON line per stdin key, the same member
        `ddb members --uid` prints, and holds one extract for the session."""
        from aci_export_spark.queries import members as M

        M.release_lookup_extract()
        base = spark.sparkContext._jsc.getPersistentRDDs().size()
        keys = "4\n USER4@mail.test \n\n999999\nnobody@nowhere.test\n2\n"
        monkeypatch.setattr(sys, "stdin", io.StringIO(keys))
        out = self._run(["--data-dir", fixture_dir, "--today", TODAY_S, "ddb", "lookup"])
        answers = [json.loads(line) for line in out.splitlines()]
        assert [a["key"] for a in answers] == [
            "4", "USER4@mail.test", "999999", "nobody@nowhere.test", "2"]
        assert spark.sparkContext._jsc.getPersistentRDDs().size() == base + 1
        assert answers[0]["member"]["user_id"] == 4
        assert answers[1]["member"] == answers[0]["member"]
        assert answers[2]["member"] is None and answers[3]["member"] is None
        assert answers[4]["member"]["user_id"] == 2
        one = self._run(["--data-dir", fixture_dir, "--today", TODAY_S,
                         "ddb", "members", "--uid", "4"])
        assert json.loads(one) == [answers[0]["member"]]
        M.release_lookup_extract()

    def test_ddb_leadership_current(self, fixture_dir):
        out = self._run(
            ["--data-dir", fixture_dir, "ddb", "leadership",
             "--type", "club", "--date-filter", "current"]
        )
        assert isinstance(json.loads(out), list)

    def test_sync_app_run_cli(self, fixture_dir, tmp_path):
        mirror = str(tmp_path / "m")
        import os

        os.makedirs(mirror)
        out = self._run(
            ["--data-dir", fixture_dir, "--today", TODAY_S,
             "sync-app", "run", "--mirror-dir", mirror]
        )
        stats = json.loads(out)
        assert stats["users"]["upserted"] > 0
        assert os.path.exists(os.path.join(mirror, "users.parquet"))

    def test_sync_mail_run_cli(self, fixture_dir, tmp_path):
        journal = str(tmp_path / "journal")
        out = self._run(
            ["--data-dir", fixture_dir, "--today", TODAY_S,
             "sync-mail", "run", "--journal-dir", journal]
        )
        stats = json.loads(out)
        assert stats["upserted"] > 0 and stats["tag_updates"] == 4 * stats["upserted"]

    def test_sync_mail_delete_requires_confirm(self, fixture_dir, tmp_path):
        from aci_export_spark.sync.rest import JournalingMailchimpClient

        journal = str(tmp_path / "journal")
        with pytest.raises(SystemExit, match="--confirm"):
            self._run(["--data-dir", fixture_dir,
                       "sync-mail", "delete", "--journal-dir", journal])
        # guard rail held: nothing was deleted
        assert JournalingMailchimpClient(journal).deleted_ids() == set()

        out = self._run(["--data-dir", fixture_dir,
                         "sync-mail", "delete", "--journal-dir", journal,
                         "--confirm"])
        stats = json.loads(out)
        assert stats["deleted"] > 0
        deleted = JournalingMailchimpClient(journal).deleted_ids()
        assert len(deleted) == stats["deleted"]

    def test_sync_mail_fields_gates_deletes(self, fixture_dir, tmp_path):
        from aci_export_spark.sync.rest import JournalingMailchimpClient

        j1 = str(tmp_path / "j1")
        out = self._run(["--data-dir", fixture_dir,
                         "sync-mail", "fields", "--journal-dir", j1])
        stats = json.loads(out)
        # fixture diff: BDAY/JOINED/CLUBNUM create, LNAME update, OBSOLETE
        # delete — the delete is SKIPPED without the flag, and the >10-char
        # WAYTOOLONGTAG def is rejected BEFORE the diff (merge_fields.rs:
        # 119-127: the data path never populates it, so creating it remotely
        # would 400 against the real API)
        assert stats == {"created": 3, "updated": 1, "deleted": 0,
                         "deletes_skipped": 1, "defs_rejected": 1}
        ops = JournalingMailchimpClient(j1).merge_field_ops()
        assert sorted({o["op"] for o in ops}) == ["create", "update"]
        assert all(o["tag"] != "WAYTOOLONGTAG" for o in ops)

        j2 = str(tmp_path / "j2")
        out = self._run(["--data-dir", fixture_dir,
                         "sync-mail", "fields", "--journal-dir", j2,
                         "--process-deletes"])
        stats = json.loads(out)
        assert stats["deleted"] == 1 and stats["deletes_skipped"] == 0
        ops = JournalingMailchimpClient(j2).merge_field_ops()
        assert {o["tag"] for o in ops if o["op"] == "delete"} == {"OBSOLETE"}


class TestConfigAndBatchProtocol:
    def test_toml_merge_field_defs_roundtrip(self, tmp_path):
        from aci_export_spark.sync.mail import MAX_TAG_LEN, load_merge_field_defs_toml

        p = tmp_path / "fields.toml"
        p.write_text(
            '[[fields]]\ntag = "FNAME"\nname = "First Name"\ntype = "text"\n'
            '[[fields]]\ntag = "BDAY"\nname = "Birthday"\ntype = "birthday"\n'
            '[[fields]]\ntag = "WAYTOOLONGTAG"\nname = "Bad"\ntype = "text"\n'
        )
        defs = load_merge_field_defs_toml(str(p))
        assert [d["tag"] for d in defs] == ["FNAME", "BDAY", "WAYTOOLONGTAG"]
        valid = [d for d in defs if len(d["tag"]) <= MAX_TAG_LEN]
        assert [d["tag"] for d in valid] == ["FNAME", "BDAY"]

    def test_toml_missing_key_rejected(self, tmp_path):
        from aci_export_spark.sync.mail import load_merge_field_defs_toml

        p = tmp_path / "bad.toml"
        p.write_text('[[fields]]\ntag = "X"\nname = "No type"\n')
        with pytest.raises(ValueError, match="missing keys"):
            load_merge_field_defs_toml(str(p))

    def test_batch_job_submit_and_poll(self, tmp_path):
        import json as _json
        import os

        from aci_export_spark.sync.rest import BatchJob

        job = BatchJob(str(tmp_path), finish_after_polls=3)
        job.post("/lists/abc", {"id": "m1"})
        job.put("/lists/abc/members/m2", {"id": "m2"})
        job.delete("/lists/abc/members/m3")
        sleeps = []
        batch_id = job.run(sleep=sleeps.append)
        # polled until the backend reported finished (T5)
        assert len(sleeps) == 3
        ops_file = os.path.join(str(tmp_path), "batches", f"{batch_id}.jsonl")
        ops = [_json.loads(l) for l in open(ops_file)]
        assert [o["method"] for o in ops] == ["POST", "PUT", "DELETE"]


class TestPipelineCli:
    def test_pipeline_list_and_run(self):
        import io as _io
        import json as _json
        import sys as _sys

        from aci_export_spark import cli

        def run(argv):
            buf = _io.StringIO()
            old = _sys.stdout
            _sys.stdout = buf
            try:
                cli.main(argv)
            finally:
                _sys.stdout = old
            return buf.getvalue()

        listing = _json.loads(run(["pipeline", "list"]))
        assert "flagship_scoped_members" in listing and len(listing) >= 50
        rows = _json.loads(
            run(["pipeline", "run", "q1_pricing_summary",
                 "--sf-dir", "/root/testdata/sf0.001"])
        )
        assert rows and "sum_qty" in rows[0]


class TestObservedSync:
    def test_one_pass_sync_matches_two_pass(self, spark, aci, tmp_path):
        """run_mirror_sync_and_write (observe-based, one job per entity)
        writes the post-state of the mirror_sync reference algebra, with its
        stats."""
        import os
        from collections import Counter

        from aci_export_spark.operators.mirror import mirror_sync
        from aci_export_spark.queries.members import members
        from aci_export_spark.sync.app_sync import (
            LOAD_ORDER, _build_sources, extract_users, run_mirror_sync_and_write,
        )

        m1 = str(tmp_path / "m1"); os.makedirs(m1)
        stats1 = run_mirror_sync_and_write(aci, spark, m1, today=TODAY_S)
        mem = members(aci, today=TODAY_S)
        sources = _build_sources(aci, mem, extract_users(aci, mem))
        for name in LOAD_ORDER:
            src, keys = sources[name]
            want = mirror_sync(src.limit(0), src, keys)
            assert stats1[name]["upserted"] == src.count(), name
            assert stats1[name]["deleted"] == 0, name
            written = spark.read.parquet(os.path.join(m1, f"{name}.parquet"))
            assert written.count() == want.count(), name
            assert Counter(map(tuple, written.collect())) == Counter(
                map(tuple, want.select(*written.columns).collect())
            ), name
        # second one-pass run converges with zero deletes
        stats3 = run_mirror_sync_and_write(aci, spark, m1, today=TODAY_S)
        for name in LOAD_ORDER:
            assert stats3[name]["deleted"] == 0, name


def test_read_jsonl_quarantines_malformed(spark, tmp_path):
    from aci_export_spark.sources import read_jsonl

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok one"}\n'
        "this is not json\n"
        '{"doc_id": 2, "text": "ok two"}\n'
        '{"doc_id": "not-a-number", "text": "bad type"}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id long, text string")
    rows = df.collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["doc_id"] for r in good} == {1, 2}
    assert len(bad) == 2  # the non-JSON line and the type mismatch
    assert all(r["doc_id"] is None for r in bad if r["_corrupt_record"] == "this is not json")


def test_aci_runtime_imports_only_runtime_modules():
    """Importing the ACI entry points (CLI, both sync pipelines, the query
    library) loads no registry harness, `llm` or `streaming` module, nor any
    other module outside the runtime packages, so deleting a non-runtime
    family cannot break an ACI path. Runs in a fresh interpreter, no Spark."""
    import os
    import subprocess

    runtime = {"cli", "functions", "operators", "queries", "session", "sources", "sync"}
    code = (
        "import sys\n"
        "import aci_export_spark.cli, aci_export_spark.sync.app_sync\n"
        "import aci_export_spark.sync.mail_sync\n"
        "from aci_export_spark.queries import entities, leadership, members, roles\n"
        "print('\\n'.join(m for m in sys.modules if m.startswith('aci_export_spark.')))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    ).stdout.split()
    tops = {m.split(".")[1] for m in out}
    assert {"cli", "sync", "queries"} <= tops
    outside = sorted(m for m in out if m.split(".")[1] not in runtime)
    assert not outside, f"ACI runtime imports non-runtime modules: {outside}"
