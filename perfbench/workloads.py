"""The benchmark's workloads. Each one generates its inputs from the seed,
sets up, measures a closed-loop window of operations with tracing
off, checks every output, and in a traced run adds a second window with
spans and the Spark event log on, from which the per-layer metrics come.

Every workload returns (end-to-end metrics, per-layer metrics); layers a
workload does not exercise report 0.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import shutil
import statistics
import time
from collections import defaultdict
from datetime import date, datetime, timezone

import aci_gen as G
import measure
from runner import Bench, Window
from spans import span_summary, subtree_ids

#: primaries (member_search rows) of the generated catalog; README.md gives
#: the measurements behind the size
N_PRIMARIES = 3000

#: the entities of `sync.app_sync.LOAD_ORDER`, copied: the per-layer metric
#: names built from them must not change when the program's list does
LOAD_ORDER = ("regions", "clubs", "users", "members", "addresses", "brns", "leadership_club")
#: the tables `sync.app_sync` reads: the denominator of the scan amplification
SYNC_SOURCES = ("users", "member_search", "membership_paragraphs", "clubs", "regions",
                "taxonomy", "leadership", "addresses", "brns")
POINT_OPS = ("member_by_uid", "member_by_email", "users", "addresses", "membership_history")
SCOPED_OPS = ("members_club", "members_region", "leadership_as_of", "leadership_current",
              "clubs_region", "user_roles")
#: role names `user_roles` is scoped to (the catalog's "member" role, held by
#: every primary, is left out so every scoped lookup returns a few rows)
ROLES = ("webmaster", "administrator")
MISS_RATE = 0.05
#: with 11 kinds, of which 4 are slow, at least 3 rounds put the tail
#: percentile (the highest with 10 samples above it) inside the slow group;
#: 4 put it mid-group, away from the group's fastest ops
MIN_ROUNDS = 4

#: op latency is not among them: it rises with the CPU time the hypervisor
#: gives other guests, which varies from run to run (README.md); every run
#: prints it in its context line
E2E_UNITS = {"setup_s": "s", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "session.first_action_s": "s", "catalog.load_s": "s",
    "scan.input_rows": "count", "scan.input_bytes": "bytes",
    **{f"queries.{op}.{m}": "ms" for op in POINT_OPS + SCOPED_OPS for m in ("plan_ms", "exec_ms")},
    "queries.point.jobs": "count", "queries.point.tasks": "count",
    "queries.scoped.jobs": "count", "queries.scoped.tasks": "count",
    "queries.rows_examined_per_row.point": "ratio", "queries.rows_examined_per_row.scoped": "ratio",
    "queries.members_s": "s",
    **{f"queries.{c}.{m}": "ratio" for c in ("point", "scoped") for m in ("job_share", "slot_share")},
    "app.first_s": "s", "app.incr_s": "s",
    **{f"app.{run}.{e}_s": "s" for run in ("first", "incr") for e in LOAD_ORDER},
    **{f"app.incr.{e}.{c}": "count" for e in LOAD_ORDER for c in ("upserted", "deleted")},
    "app.incr.job_share": "ratio", "app.incr.slot_share": "ratio", "app.incr.write_share": "ratio",
    "app.scan_amplification": "ratio", "mirror.shuffle_write_bytes": "bytes",
    "mirror.bytes_written": "bytes", "mirror.write_amp": "ratio",
    "mail.run_s": "s", "mail.scoped_job_p50_s": "s", "mail.documents_s": "s",
    "mail.members_evals_per_job": "count",
    "rest.upsert_s": "s", "rest.retain_s": "s", "rest.tags_s": "s",
    "rest.calls.upsert": "count", "rest.calls.delete": "count", "rest.calls.tags": "count",
    "rest.items_per_call": "ratio", "rest.retries": "count", "rest.upsert_errors": "count",
    "ddb.point_p50_ms": "ms", "ddb.scoped_p50_ms": "ms", "ddb.p90_ms": "ms", "ddb.qps": "1/s",
    "pyworker.cpu_s": "s", "spark.jobs": "count", "spark.tasks": "count",
    "spark.scheduler_delay_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "error_rate": "ratio", "trace.overhead_ms": "ms",
}


@contextlib.contextmanager
def patched(module, name: str, wrap):
    """Replace `module.name` by `wrap(original)` for the block (the program's
    files are untouched; only the traced run uses this)."""
    orig = getattr(module, name)
    setattr(module, name, wrap(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


def traced_call(b: Bench, span_name: str):
    def wrap(fn):
        def inner(*args, **kwargs):
            with b.tracer.span(span_name):
                return fn(*args, **kwargs)
        return inner
    return wrap


def _write_snapshot(b: Bench, cat: G.Catalog, name: str) -> tuple[str, dict[str, int]]:
    d = os.path.join(b.tmp, name)
    return d, G.write_catalog(cat, d)


def _open(dirs: dict[str, str]):
    from aci_export_spark.queries.catalog import load_catalog

    return lambda spark: {k: load_catalog(spark, d) for k, d in dirs.items()}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _members_probe(b: Bench, tables) -> float:
    """Unscoped `queries.members` written to the noop sink."""
    from aci_export_spark.queries import members as M

    with b.tracer.span("queries.members"):
        return b.timed(lambda: _noop(M.members(tables, today=G.TODAY_S)))[1]


def _common_layer(b: Bench, w: Window, wt: Window, ev, window_span_ids, n_ops: int,
                  kinds=None) -> dict:
    """Per-layer metrics every workload reports: set-up split, engine
    counters per op of the traced window, tracing overhead (over the op
    `kinds` both windows ran)."""
    tot = ev.stats(window_span_ids).counts
    per = {k: v / max(n_ops, 1) for k, v in tot.items()}
    return {
        **{k: v for k, v in b.setup_metrics().items() if k != "setup_s"},
        "scan.input_rows": per["input_rows"], "scan.input_bytes": per["input_bytes"],
        "spark.jobs": per["jobs"], "spark.tasks": per["tasks"],
        "spark.scheduler_delay_s": per["scheduler_delay_s"],
        "spark.executor_cpu_s": per["executor_cpu_s"], "spark.gc_s": per["gc_s"],
        "spark.shuffle_read_bytes": per["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": per["shuffle_write_bytes"],
        "spark.spill_bytes": per["spill_bytes"],
        "error_rate": b.failed / max(b.attempted, 1),
        "trace.overhead_ms": (statistics.median(wt.seconds(kinds))
                              - statistics.median(w.seconds(kinds))) * 1e3,
    }


def _shares(b: Bench, ev, spans, ids) -> tuple[float, float, float]:
    """Where the time of the spans `ids` went: the share of their wall time
    during which a Spark job ran (the rest is driver-side planning, Python
    and file moves), the share of the executor slots (wall x cores) that
    tasks kept busy, and the share of task time in tasks that wrote files."""
    st = ev.stats(subtree_ids(spans, ids))
    wall = sum(s.duration for s in spans if s.id in set(ids))
    run = st.counts["task_run_s"]
    return st.job_s() / wall, run / (wall * b.n_cpus), st.counts["write_task_run_s"] / max(run, 1e-9)


def _finish(b: Bench, w: Window, layer: dict) -> tuple[dict, dict]:
    b.record_window(w)
    e2e = {"setup_s": b.setup_metrics()["setup_s"],
           "cpu_ms_per_op": w.cpu.total_s * 1e3 / len(w.latencies),
           "peak_rss_mb": measure.peak_rss_mb()}
    if b.trace:
        b.info["spans"] = span_summary(b.traced_spans)
    full = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    full.update(layer)
    return e2e, full


# ====================================================================== sync-app


def _sync_counts(stats: dict) -> dict:
    return {n: {"upserted": s["upserted"], "deleted": s["deleted"]} for n, s in stats.items()}


def _mirror_digest(spark, mirror_dir: str) -> dict:
    """Row count and order-free content hash of every mirror table."""
    from pyspark.sql import functions as F

    out = {}
    for name in LOAD_ORDER:
        df = spark.read.parquet(os.path.join(mirror_dir, f"{name}.parquet"))
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h")).first()
        out[name] = (r["n"], r["h"])
    return out


def aci_sync_app(b: Bench) -> tuple[dict, dict]:
    from aci_export_spark.operators import mirror as mirror_mod
    from aci_export_spark.sync import app_sync

    a = G.build_catalog(b.seed, N_PRIMARIES)
    bcat, churn = G.apply_churn(a, b.seed)
    dir_a, rows_a = _write_snapshot(b, a, "snap_a")
    dir_b, _ = _write_snapshot(b, bcat, "snap_b")
    exp = G.expected_sync(a, bcat)
    ka, kb = G.mirror_keys(a), G.mirror_keys(bcat)
    changed_rows = sum(len(ka[n] ^ kb[n]) for n in ka)
    b.info["churn"] = churn.counts()

    open_a, open_b = _open({"a": dir_a}), _open({"b": dir_b})
    b.phase("generate")
    # set-up opens the snapshot the first run reads; B is opened after it
    tables = b.setup(open_a, lambda t: t["a"]["member_search"].count())
    ctx = {"tables": {**tables, **open_b(b.spark)}}
    mirror_a, mirror = os.path.join(b.tmp, "mirror_a"), os.path.join(b.tmp, "mirror")
    b.phase("setup")

    def sync(snapshot: str, mirror_dir: str):
        return app_sync.run_mirror_sync_and_write(
            ctx["tables"][snapshot], b.spark, mirror_dir, today=G.TODAY_S)

    def digest_ok(mirror_dir: str, keys: dict, what: str) -> dict:
        """The mirror's digest; its row counts must equal the generator's
        key counts."""
        d = _mirror_digest(b.spark, mirror_dir)
        b.check(all(d[n][0] == len(keys[n]) for n in LOAD_ORDER), what)
        return d

    first: dict = {}
    digests: list[dict] = []
    incr_stats: list[dict] = []

    def first_run():
        # the deployed job is one-shot: the first run in a fresh process is cold
        stats, dt, cpu = b.measured(lambda: sync("a", mirror_a))
        first.update(stats)
        digest_ok(mirror_a, ka, "first-run mirror rows")
        return _sync_counts(stats) == exp["first"], dt, cpu

    def incremental():
        for k in itertools.count():
            def fn(k=k):
                # every incremental run is the same: snapshot B into a copy
                # of the first run's mirror
                shutil.rmtree(mirror, ignore_errors=True)
                shutil.copytree(mirror_a, mirror)
                with b.tracer.span("app.run", request=f"run-{k}"):
                    stats, dt, cpu = b.measured(lambda: sync("b", mirror))
                incr_stats.append(stats)
                digests.append(digest_ok(mirror, kb, "incremental mirror rows"))
                return _sync_counts(stats) == exp["incr"] and digests[-1] == digests[0], dt, cpu
            yield "sync_incr", fn

    # the ops are the first run, then incremental runs (at least one)
    w = b.window(itertools.chain([("sync_first", first_run)], incremental()), min_rounds=2)
    b.phase("window")
    b.info["entity_step_p50_ms"] = 1e3 * statistics.median(
        s[e]["duration_s"] for s in incr_stats for e in LOAD_ORDER)
    layer = {}
    if b.trace:
        layer.update({
            "app.first_s": w.seconds(["sync_first"])[0],
            "app.incr_s": statistics.median(w.seconds(["sync_incr"])),
            **{f"app.first.{e}_s": first[e]["duration_s"] for e in LOAD_ORDER},
            **{f"app.incr.{e}_s": statistics.median(s[e]["duration_s"] for s in incr_stats)
               for e in LOAD_ORDER},
            # what the program reported for its first incremental run (each
            # run's counts are also checked against the generator's)
            **{f"app.incr.{e}.{c}": incr_stats[0][e][c] for e in LOAD_ORDER
               for c in ("upserted", "deleted")},
        })
        b.start_spark(traced=True)
        ctx["tables"] = {**open_a(b.spark), **open_b(b.spark)}
        entity = iter(())

        def per_entity(fn):
            def inner(*args, **kwargs):
                b.tracer.switch(f"app.{next(entity)}")
                return fn(*args, **kwargs)
            return inner

        with patched(mirror_mod, "mirror_sync_observed", per_entity):
            def ops_traced():
                nonlocal entity
                for kind, fn in incremental():
                    entity = iter(LOAD_ORDER)
                    yield kind, fn
            # one incremental run: the run the mirror metrics describe
            wt = b.window(ops_traced(), seconds=0)
            entity = iter(LOAD_ORDER)
            with b.tracer.span("app.first_run"):
                sync("a", os.path.join(b.tmp, "mirror_fresh"))
        layer["queries.members_s"] = _members_probe(b, ctx["tables"]["a"])
        layer.update(_mail_layer(b, ctx["tables"]["a"], a))
        ev = b.event_log()
        spans = b.traced_spans
        layer.update(_mail_spans_layer(ev, spans))
        run_ids = [s.id for s in spans if s.name == "app.run"]
        runs = [ev.stats(subtree_ids(spans, [i])).counts for i in run_ids]
        first_run = ev.stats(subtree_ids(spans, [s.id for s in spans if s.name == "app.first_run"]))
        layer.update({
            "app.scan_amplification": first_run.counts["input_rows"] / sum(rows_a[t] for t in SYNC_SOURCES),
            "mirror.shuffle_write_bytes": statistics.median(r["shuffle_write_bytes"] for r in runs),
            "mirror.bytes_written": statistics.median(r["output_bytes"] for r in runs),
            "mirror.write_amp": statistics.median(r["output_rows"] for r in runs) / changed_rows,
        })
        (layer["app.incr.job_share"], layer["app.incr.slot_share"],
         layer["app.incr.write_share"]) = _shares(b, ev, spans, run_ids)
        # per incremental run; the digest checks between runs carry no span
        layer.update(_common_layer(b, w, wt, ev, subtree_ids(spans, run_ids), len(wt.latencies),
                                   kinds=["sync_incr"]))
    return _finish(b, w, layer)


# ====================================================================== sync-mail (traced only)


def _journal_counts(d: str) -> dict[str, int]:
    def lines(sub):
        n = 0
        for name in os.listdir(os.path.join(d, sub)):
            with open(os.path.join(d, sub, name)) as f:
                n += sum(1 for line in f if line.strip())
        return n
    return {
        "upserted": lines("upserts"), "deleted": len(os.listdir(os.path.join(d, "deletes"))),
        "tag_updates": lines("tags"),
        "calls.upsert": len(os.listdir(os.path.join(d, "upserts"))),
        "calls.delete": len(os.listdir(os.path.join(d, "deletes"))),
        "calls.tags": len(os.listdir(os.path.join(d, "tags"))),
        "retries": len(os.listdir(os.path.join(d, "attempts"))),
    }


def mail_jobs(cat: G.Catalog, seed: int) -> list[dict]:
    """One unscoped audience job, then one club- and one region-scoped one."""
    rng = random.Random(seed)
    return [{}, {"club": 1 + rng.randrange(cat.n_clubs)},
            {"region": 1 + rng.randrange(cat.n_regions)}]


def _mail_layer(b: Bench, tables, cat: G.Catalog) -> dict:
    """The sync-mail layers, traced: one unscoped, one club- and one
    region-scoped audience job through `sync.mail_sync.run_job` against the
    journaling client, each sink and the document build in its own span."""
    from aci_export_spark.sync import mail_sync
    from aci_export_spark.sync.rest import JournalingMailchimpClient

    jobs = mail_jobs(cat, b.seed)
    per_job, lat = [], []
    cpu0 = measure.tree_cpu()
    with contextlib.ExitStack() as stack:
        for name, span in (("documents_for_scope", "mail.documents"),
                           ("upsert_documents_sink", "rest.upsert"),
                           ("retain_audience_sink", "rest.retain"),
                           ("update_tags_sink", "rest.tags")):
            stack.enter_context(patched(mail_sync, name, traced_call(b, span)))
        for k, job in enumerate(jobs):
            d = os.path.join(b.tmp, "journal", str(k))
            with b.tracer.span("mail.job", request=f"job-{k}"):
                stats, dt = b.timed(lambda: mail_sync.run_job(
                    tables, lambda: JournalingMailchimpClient(d), today=G.TODAY_S, **job))
            got = _journal_counts(d)
            want = G.expected_mail(cat, **job)
            b.check(stats == {**want, "upsert_errors": 0}
                    and all(got[c] == want[c] for c in want), f"mail job {job}")
            per_job.append((stats, got))
            lat.append(dt)
    # the sinks run in PySpark workers (foreachPartition): their CPU apart
    # from the JVM's
    pyworker_s = measure.tree_cpu().pyworker_s - cpu0.pyworker_s
    with b.tracer.span("mail.documents_probe"):
        _, docs_s = b.timed(lambda: _noop(mail_sync.documents_for_scope(tables, today=G.TODAY_S)))
    calls = sum(g[f"calls.{c}"] for _, g in per_job for c in ("upsert", "delete", "tags"))
    items = sum(g["upserted"] + g["deleted"] + g["tag_updates"] for _, g in per_job)
    return {
        "mail.run_s": sum(lat),
        "mail.scoped_job_p50_s": statistics.median(lat[1:]),
        "mail.documents_s": docs_s,
        **{f"rest.calls.{c}": statistics.mean(g[f"calls.{c}"] for _, g in per_job)
           for c in ("upsert", "delete", "tags")},
        "rest.items_per_call": items / max(calls, 1),
        "rest.retries": sum(g["retries"] for _, g in per_job),
        "rest.upsert_errors": sum(st["upsert_errors"] for st, _ in per_job),
        "pyworker.cpu_s": pyworker_s / len(jobs),
    }


def _mail_spans_layer(ev, spans) -> dict:
    def p50(name):
        return statistics.median(s.duration for s in spans if s.name == name)

    def members_evals(span) -> float:
        # SQL executions over the members plan plus the sinks' RDD actions
        # (foreachPartition), each of which runs the whole plan again
        st = ev.stats(subtree_ids(spans, [span.id]))
        return st.counts["rdd_actions"] + sum(
            "member_search" in ev.plans.get(e, "") for e in st.executions)

    return {
        "rest.upsert_s": p50("rest.upsert"), "rest.retain_s": p50("rest.retain"),
        "rest.tags_s": p50("rest.tags"),
        "mail.members_evals_per_job": statistics.median(
            members_evals(s) for s in spans if s.name == "mail.job"),
    }


# ====================================================================== ddb


def _rows(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _bag(rows) -> list:
    return sorted((tuple(sorted(r.items())) for r in rows), key=repr)


def aci_ddb_lookup(b: Bench) -> tuple[dict, dict]:
    from aci_export_spark.queries import entities as E
    from aci_export_spark.queries import leadership as L
    from aci_export_spark.queries import members as M
    from aci_export_spark.queries import roles as R

    a = G.build_catalog(b.seed, N_PRIMARIES)
    dir_a, _ = _write_snapshot(b, a, "snap_a")
    open_tables = _open({"a": dir_a})
    b.phase("generate")
    ctx = {"tables": b.setup(open_tables, lambda t: t["a"]["member_search"].count())["a"]}
    t = ctx["tables"]
    b.phase("setup")

    # reference results, computed once outside the timed region
    mem = {r["user_id"]: r for r in _rows(M.members(t, today=G.TODAY_S))}
    b.check(set(mem) == set(G.members(a)), "unscoped members vs generator")
    by_email = {r["email"].strip().lower(): r for r in mem.values()
                if r["email"] is not None and r["email"].strip()}
    users = {r["uid"]: r for r in _rows(E.users(t))}
    addresses, history = defaultdict(list), defaultdict(list)
    for r in _rows(E.addresses(t)):
        addresses[r["user_uid"]].append(r)
    for r in _rows(M.membership_history(t)):
        history[r["user_uid"]].append(r)
    lead = _rows(L.leadership(t))
    clubs = _rows(E.clubs(t))
    roles = _rows(R.user_roles(t))
    scoped_members = {}

    def in_interval(r, d):
        return r["start_date"] <= d and (r["end_date"] is None or r["end_date"] >= d)

    rng = random.Random(b.seed)
    uids = sorted(a.primaries)
    emails = sorted(by_email)

    def key(kind):
        miss = rng.random() < MISS_RATE
        if kind in ("member_by_uid", "users", "addresses", "membership_history"):
            return uids[-1] + 10**6 if miss else rng.choice(uids)
        if kind == "member_by_email":
            return "nobody@nowhere.test" if miss else rng.choice(emails)
        if kind == "members_club":
            return 10**6 if miss else 1 + rng.randrange(a.n_clubs)
        if kind in ("members_region", "clubs_region"):
            return 10**6 if miss else 1 + rng.randrange(a.n_regions)
        if kind == "user_roles":
            return "nobody" if miss else rng.choice(ROLES)
        if kind == "leadership_as_of":
            return date(2019, 1, 1) + (date(2026, 12, 31) - date(2019, 1, 1)) * rng.random()
        return None

    def query(kind, k):
        if kind == "member_by_uid":
            return M.member_by_uid(t, k, today=G.TODAY_S)
        if kind == "member_by_email":
            return M.member_by_email(t, k, today=G.TODAY_S)
        if kind == "users":
            return E.users(t, uid=k)
        if kind == "addresses":
            return E.addresses(t, user_uid=k)
        if kind == "membership_history":
            return M.membership_history(t, user_uid=k)
        if kind == "members_club":
            return M.members(t, club=k, today=G.TODAY_S)
        if kind == "members_region":
            return M.members(t, region=k, today=G.TODAY_S)
        if kind == "leadership_as_of":
            return L.leadership(t, date_filter="as_of", as_of=k.isoformat())
        if kind == "leadership_current":
            return L.leadership(t, date_filter="current")
        if kind == "user_roles":
            return R.user_roles(t, role=k)
        return E.clubs(t, region=k)

    def expected(kind, k):
        if kind == "member_by_uid":
            return [mem[k]] if k in mem else []
        if kind == "member_by_email":
            return [by_email[k]] if k in by_email else []
        if kind == "users":
            return [users[k]] if k in users else []
        if kind == "addresses":
            return addresses.get(k, [])
        if kind == "membership_history":
            return history.get(k, [])
        if kind in ("members_club", "members_region"):
            sk = (kind, k)
            if sk not in scoped_members:
                clubs_ = G.scope_clubs(a, **({"club": k} if kind == "members_club" else {"region": k}))
                scoped_members[sk] = set(G.members(a, clubs_))
            return scoped_members[sk]
        if kind == "leadership_as_of":
            return _bag(r for r in lead if in_interval(r, k))
        if kind == "leadership_current":
            return _bag(r for r in lead if in_interval(r, datetime.now(timezone.utc).date()))
        if kind == "user_roles":
            return _bag(r for r in roles if r["role"] == k)
        return _bag(r for r in clubs if r["region"] == k)

    def same(kind, got, want) -> bool:
        if kind in ("members_club", "members_region"):
            return len(got) == len(want) and {r["user_id"] for r in got} == want
        if kind in ("leadership_as_of", "leadership_current", "clubs_region", "user_roles"):
            return _bag(got) == want
        return got == want

    returned = defaultdict(int)

    def ops():
        kinds = list(POINT_OPS + SCOPED_OPS)
        while True:
            rng.shuffle(kinds)  # every cycle runs each op kind once
            for kind in list(kinds):
                k = key(kind)

                def fn(kind=kind, k=k):
                    cpu0 = measure.tree_cpu()
                    with b.tracer.span(f"queries.{kind}", request=f"{kind}:{k}"):
                        with b.tracer.span(f"queries.{kind}.plan"):
                            t0 = time.perf_counter()
                            df = query(kind, k)
                            if b.tracer.enabled:  # planning on its own, only when traced
                                df._jdf.queryExecution().executedPlan()
                            plan_dt = time.perf_counter() - t0
                        with b.tracer.span(f"queries.{kind}.exec"):
                            got, exec_dt = b.timed(lambda: _rows(df))
                    cpu = measure.tree_cpu().minus(cpu0)
                    returned[kind] += len(got)
                    return same(kind, got, expected(kind, k)), plan_dt + exec_dt, cpu
                yield kind, fn

    # the reference queries above run every query module once: they are
    # the warm-up
    b.phase("references")
    round_size = len(POINT_OPS + SCOPED_OPS)
    loop = ops()
    w = b.window(loop, round_size=round_size, min_rounds=MIN_ROUNDS)
    b.phase("window")
    layer = {}
    if b.trace:
        pct_all = w.seconds()
        layer.update({
            "ddb.point_p50_ms": statistics.median(w.seconds(POINT_OPS)) * 1e3,
            "ddb.scoped_p50_ms": statistics.median(w.seconds(SCOPED_OPS)) * 1e3,
            "ddb.p90_ms": measure.tail_percentile(pct_all)[1] * 1e3,
            "ddb.qps": len(pct_all) / w.wall_s,
        })
        b.start_spark(traced=True)
        ctx["tables"] = t = open_tables(b.spark)["a"]
        returned.clear()
        with b.tracer.span("window") as root:  # one root span, so its jobs can be summed
            wt = b.window(loop, round_size=round_size, min_rounds=MIN_ROUNDS)
        ev = b.event_log()
        spans = b.traced_spans
        for kind in POINT_OPS + SCOPED_OPS:
            for part in ("plan", "exec"):
                d = [s.duration for s in spans if s.name == f"queries.{kind}.{part}"]
                layer[f"queries.{kind}.{part}_ms"] = statistics.median(d) * 1e3 if d else 0.0
        for cls, kinds in (("point", POINT_OPS), ("scoped", SCOPED_OPS)):
            ids = [s.id for s in spans if s.name in {f"queries.{k}" for k in kinds}]
            st = ev.stats(subtree_ids(spans, ids)).counts
            layer[f"queries.{cls}.jobs"] = st["jobs"] / max(len(ids), 1)
            layer[f"queries.{cls}.tasks"] = st["tasks"] / max(len(ids), 1)
            layer[f"queries.rows_examined_per_row.{cls}"] = st["input_rows"] / max(
                sum(returned[k] for k in kinds), 1)
            layer[f"queries.{cls}.job_share"], layer[f"queries.{cls}.slot_share"], _ = _shares(
                b, ev, spans, ids)
        layer.update(_common_layer(b, w, wt, ev, subtree_ids(spans, [root.id]), len(wt.latencies)))
    return _finish(b, w, layer)


WORKLOADS = {
    "aci_sync_app": aci_sync_app,
    "aci_ddb_lookup": aci_ddb_lookup,
}
