"""CLI mirroring the reference's four binaries (SURVEY.md §0): the `ddb`
query surface (aci-ddb), the mirror pipeline (sync-app) and the audience
pipeline (sync-mail), over a directory of parquet tables.

    python -m aci_export_spark.cli --data-dir DIR ddb members --club 5
    python -m aci_export_spark.cli --data-dir DIR ddb lookup < keys.txt
    python -m aci_export_spark.cli --data-dir DIR ddb leadership --type club --date-filter current
    python -m aci_export_spark.cli --data-dir DIR sync-app run --mirror-dir OUT
    python -m aci_export_spark.cli --data-dir DIR sync-mail run --journal-dir OUT --club 5

Output is pretty JSON on stdout with null fields skipped — the reference's
`print_json` sink (S7, ddb/src/cmd/mod.rs:28-31).
"""

from __future__ import annotations

import argparse
import json
import sys

from aci_export_spark.session import get_spark


def _print_json(df, limit: int | None = None) -> None:
    """S7 JSON sink: collect via toJSON (Spark already skips nulls)."""
    rows = [json.loads(s) for s in df.toJSON().collect()]
    if limit is not None:
        rows = rows[:limit]
    json.dump(rows, sys.stdout, indent=2, default=str)
    print()


def _add_ddb(sub: argparse._SubParsersAction) -> None:
    ddb = sub.add_parser("ddb", help="query library (aci-ddb surface)")
    q = ddb.add_subparsers(dest="query", required=True)

    members = q.add_parser("members")
    members.add_argument("--club", type=int)
    members.add_argument("--region", type=int)
    members.add_argument("--uid", type=int)
    members.add_argument("--email")
    members.add_argument("--today")

    lookup = q.add_parser(
        "lookup", help="keyed member lookups read from stdin, one uid or email a line"
    )
    lookup.add_argument("--today")

    lead = q.add_parser("leadership")
    lead.add_argument("--type", dest="entity_type",
                      choices=["club", "region", "international", "committee"])
    lead.add_argument("--uid", type=int, dest="entity_uid")
    lead.add_argument("--date-filter", default="all",
                      choices=["all", "current", "as_of"])
    lead.add_argument("--as-of")

    users = q.add_parser("users")
    users.add_argument("--uid", type=int)
    users.add_argument("--email")
    users.add_argument("--active", action="store_true")

    clubs = q.add_parser("clubs")
    clubs.add_argument("--uid", type=int)
    clubs.add_argument("--number", type=int)
    clubs.add_argument("--region", type=int)

    q.add_parser("regions")
    q.add_parser("races")

    roles = q.add_parser("roles")
    roles.add_argument("--role")
    q.add_parser("microsite-admins")

    addr = q.add_parser("addresses")
    addr.add_argument("--uid", type=int, dest="user_uid")
    addr.add_argument("--mailing-only", action="store_true")

    air = q.add_parser("airstreams")
    air.add_argument("--uid", type=int, dest="user_uid")

    hist = q.add_parser("history")
    hist.add_argument("--uid", type=int, dest="user_uid")


def _serve_lookups(tables, lines, today: str | None) -> None:
    """Answer one keyed member lookup per input line on one opened catalog:
    digits are a uid, anything else an email; blank lines are skipped. Each
    answer is printed as one JSON line, `{"key": ..., "member": {...} or
    null}`, as soon as it is known. Every lookup after the first filters the
    extract the first one persisted (`members.lookup_extract`)."""
    from aci_export_spark.queries import members as M

    for line in lines:
        key = line.strip()
        if not key:
            continue
        if key.isdigit():
            df = M.member_by_uid(tables, int(key), today=today)
        else:
            df = M.member_by_email(tables, key, today=today)
        rows = [json.loads(s) for s in df.toJSON().collect()]
        print(json.dumps({"key": key, "member": rows[0] if rows else None}), flush=True)


def _run_ddb(args, tables) -> None:
    from aci_export_spark.queries import entities as E
    from aci_export_spark.queries import leadership as L
    from aci_export_spark.queries import members as M

    # the members subparser has its own --today; the global --today (before
    # the subcommand) lands in global_today — honor either, subcommand wins
    today = getattr(args, "today", None) or args.global_today
    if args.query == "lookup":
        _serve_lookups(tables, sys.stdin, today)
        return
    if args.query == "members":
        if args.uid is not None:
            df = M.member_by_uid(tables, args.uid, today=today)
        elif args.email is not None:
            df = M.member_by_email(tables, args.email, today=today)
        else:
            df = M.members(tables, club=args.club, region=args.region, today=today)
    elif args.query == "leadership":
        ent = {
            "club": L.ENTITY_CLUB,
            "region": L.ENTITY_REGION,
            "international": L.ENTITY_INTERNATIONAL,
            "committee": L.ENTITY_COMMITTEE,
        }.get(args.entity_type) if args.entity_type else None
        df = L.leadership(tables, ent, entity_uid=args.entity_uid,
                          date_filter=args.date_filter,
                          as_of=args.as_of or args.global_today)
    elif args.query == "users":
        df = E.users(tables, uid=args.uid, email=args.email, active_only=args.active)
    elif args.query == "clubs":
        df = E.clubs(tables, uid=args.uid, number=args.number, region=args.region)
    elif args.query == "regions":
        df = E.regions(tables)
    elif args.query == "races":
        df = E.races(tables)
    elif args.query == "roles":
        from aci_export_spark.queries import roles as R

        df = R.user_roles(tables, role=args.role)
    elif args.query == "microsite-admins":
        from aci_export_spark.queries import roles as R

        df = R.microsite_admins(tables)
    elif args.query == "addresses":
        df = E.addresses(tables, user_uid=args.user_uid, mailing_only=args.mailing_only)
    elif args.query == "airstreams":
        df = E.airstreams(tables, user_uid=args.user_uid)
    elif args.query == "history":
        df = M.membership_history(tables, user_uid=args.user_uid)
    else:  # pragma: no cover
        raise SystemExit(f"unknown query {args.query}")
    _print_json(df)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="aci-export-spark")
    p.add_argument("--data-dir",
                   help="directory of source parquet tables (catalog.ACI_TABLES); "
                   "required for ddb/sync-app/sync-mail commands")
    p.add_argument("--today", dest="global_today", default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    _add_ddb(sub)

    app = sub.add_parser("sync-app", help="mirror pipeline (sync-app surface)")
    app_sub = app.add_subparsers(dest="action", required=True)
    app_run = app_sub.add_parser("run")
    app_run.add_argument("--mirror-dir", required=True,
                         help="directory holding the target mirror parquet tables")

    pipe = sub.add_parser(
        "pipeline", help="run any registered engine query (harness registry)"
    )
    pipe_sub = pipe.add_subparsers(dest="action", required=True)
    pipe_sub.add_parser("list")
    pipe_run = pipe_sub.add_parser("run")
    pipe_run.add_argument("query_name")
    pipe_run.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pipe_run.add_argument("--limit", type=int, default=20)

    mail = sub.add_parser("sync-mail", help="audience pipeline (sync-mail surface)")
    mail_sub = mail.add_subparsers(dest="action", required=True)
    mail_run = mail_sub.add_parser("run")
    mail_run.add_argument("--journal-dir", required=True,
                          help="directory the journaling REST client writes to")
    mail_run.add_argument("--club", type=int)
    mail_run.add_argument("--region", type=int)

    # destructive audience wipe: refuses without --confirm (the reference's
    # guard rail, sync-mail/src/cmd/delete.rs:9-31)
    mail_del = mail_sub.add_parser(
        "delete", help="delete every audience member (requires --confirm)"
    )
    mail_del.add_argument("--journal-dir", required=True)
    mail_del.add_argument("--confirm", action="store_true",
                          help="actually perform the deletes")

    # merge-field schema sync: deletes are opt-in via --process-deletes
    # (sync-mail/src/cmd/fields.rs:12-14, merge_fields.rs:79-84)
    mail_fields = mail_sub.add_parser(
        "fields", help="sync merge-field schema (deletes gated)"
    )
    mail_fields.add_argument("--journal-dir", required=True)
    mail_fields.add_argument("--process-deletes", action="store_true",
                             help="apply destructive field deletes")

    args = p.parse_args(argv)
    # the destructive-wipe refusal fires at argument level, before any Spark
    # spin-up or catalog read (the reference guard is equally immediate)
    if args.cmd == "sync-mail" and args.action == "delete" and not args.confirm:
        raise SystemExit("refusing to delete the audience without --confirm")
    spark = get_spark("aci-export-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "pipeline":
        from aci_export_spark import harness

        harness._ensure_all_registered()
        if args.action == "list":
            json.dump(
                {n: s.doc for n, s in sorted(harness.REGISTRY.items())},
                sys.stdout, indent=2,
            )
            print()
        else:
            spec = harness.REGISTRY.get(args.query_name)
            if spec is None:
                raise SystemExit(
                    f"unknown query {args.query_name!r}; see `pipeline list`"
                )
            _print_json(spec.fn(spark, args.sf_dir).limit(args.limit))
        return

    if not args.data_dir:
        raise SystemExit(f"--data-dir is required for the {args.cmd} command")

    from aci_export_spark.queries.catalog import load_catalog

    tables = load_catalog(spark, args.data_dir)

    if args.cmd == "ddb":
        _run_ddb(args, tables)
    elif args.cmd == "sync-app":
        from aci_export_spark.sync.app_sync import run_mirror_sync_and_write

        stats = run_mirror_sync_and_write(
            tables, spark, args.mirror_dir, today=args.global_today
        )
        json.dump(stats, sys.stdout, indent=2, default=str)
        print()
    elif args.cmd == "sync-mail":
        from aci_export_spark.sync.rest import JournalingMailchimpClient, health_ping

        journal = args.journal_dir
        if args.action == "run":
            from aci_export_spark.sync.mail_sync import run_job

            stats = run_job(
                tables,
                client_factory=lambda: JournalingMailchimpClient(journal),
                club=args.club,
                region=args.region,
                today=args.global_today,
            )
        elif args.action == "delete":
            from aci_export_spark.sync.rest import retain_audience_sink

            # same pre-flight gate as run_job: the wipe must not start
            # against an unreachable/misconfigured API
            health_ping(JournalingMailchimpClient(journal))
            # retain-with-empty-keep-set = delete every member (the cleaned
            # skip rule still applies inside the sink)
            audience = tables["mailchimp_audience"]
            empty_keep = audience.select("id").limit(0)
            n = retain_audience_sink(
                audience, empty_keep, lambda: JournalingMailchimpClient(journal)
            )
            stats = {"deleted": n}
        else:  # fields
            from aci_export_spark.sync.mail import apply_merge_field_schema

            health_ping(JournalingMailchimpClient(journal))
            stats = apply_merge_field_schema(
                tables["merge_field_defs"],
                tables["remote_merge_fields"],
                JournalingMailchimpClient(journal),
                process_deletes=args.process_deletes,
            )
        json.dump(stats, sys.stdout, indent=2)
        print()


if __name__ == "__main__":
    main()
