"""The REST edge: batch upsert / retain sinks with the reference's chunking,
bounded concurrency, and retry/backoff semantics (T2-T4, SURVEY.md §2.9).

Spark executors can't share a Python mock's memory, so the test client
journals every call to a filesystem directory (one JSONL per batch) — the
same observable surface a real HTTP client would have, minus the network.
A production client implements the same interface with `requests`.

Reference parameters preserved (BASELINE.md): 300 members/batch, bounded
concurrent batches (here: partition count bounds concurrency), retry ×3
exponential backoff factor 2 capped 5 s with jitter; 401/403/404 permanent.
A 404 on delete means the member is already gone (an earlier attempt of a
retried task sent the delete), so the retain sink counts it as done.

Each sink returns what it sent, counted by an accumulator inside its one
`foreachPartition` pass after each call succeeds. Spark applies an action's
accumulator updates once per successful task, so a retried task is not
counted twice, and no second job re-reads the input to count it.
"""

from __future__ import annotations

import json
import logging
import os
import random
import time
import uuid

log = logging.getLogger(__name__)

BATCH_SIZE = 300  # mailchimp/src/members.rs:130-134
MAX_RETRIES = 3  # mailchimp/src/lib.rs:352-363
BACKOFF_FACTOR = 2.0
BACKOFF_CAP_S = 5.0
PERMANENT_STATUSES = (401, 403, 404)  # mailchimp/src/error.rs:57-74


class PermanentError(Exception):
    def __init__(self, status: int, msg: str = ""):
        super().__init__(f"permanent HTTP {status}: {msg}")
        self.status = status


class TransientError(Exception):
    pass


class JournalingMailchimpClient:
    """Test double: journals batch upserts/deletes to `base_dir`.

    `fail_first_n_attempts` injects transient failures: each batch fails its
    first N attempts (attempt counters persisted in files so retry logic is
    exercised across executor processes).
    """

    def __init__(
        self,
        base_dir: str,
        fail_first_n_attempts: int = 0,
        item_error_emails: set[str] | frozenset[str] = frozenset(),
    ):
        self.base_dir = base_dir
        self.fail_first_n_attempts = fail_first_n_attempts
        # emails that the "API" rejects per-item (batch succeeds, the item
        # doesn't land) — models Mailchimp's HTTP-200-with-errors responses
        self.item_error_emails = set(item_error_emails)
        os.makedirs(os.path.join(base_dir, "upserts"), exist_ok=True)
        os.makedirs(os.path.join(base_dir, "deletes"), exist_ok=True)
        os.makedirs(os.path.join(base_dir, "attempts"), exist_ok=True)
        os.makedirs(os.path.join(base_dir, "tags"), exist_ok=True)

    def _maybe_fail(self, batch_key: str) -> None:
        if not self.fail_first_n_attempts:
            return
        path = os.path.join(self.base_dir, "attempts", batch_key)
        n = 0
        if os.path.exists(path):
            with open(path) as f:
                n = int(f.read() or 0)
        with open(path, "w") as f:
            f.write(str(n + 1))
        if n < self.fail_first_n_attempts:
            raise TransientError(f"injected failure #{n + 1} for {batch_key}")

    def batch_upsert(self, members: list[dict]) -> dict:
        """Returns the Mailchimp batch shape: landed ids plus per-item
        `errors` — a batch can succeed at HTTP level while individual
        members are rejected (members.rs:166-171)."""
        key = _batch_key(members)
        self._maybe_fail(key)
        landed = [m for m in members if m.get("email_address") not in self.item_error_emails]
        errors = [
            {"email_address": m.get("email_address"), "error": "injected item rejection"}
            for m in members
            if m.get("email_address") in self.item_error_emails
        ]
        path = os.path.join(self.base_dir, "upserts", f"{key}-{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for m in landed:
                f.write(json.dumps(m, sort_keys=True) + "\n")
        return {"upserted_ids": [m["id"] for m in landed], "errors": errors}

    def delete_member(self, member_id: str) -> None:
        with open(os.path.join(self.base_dir, "deletes", member_id), "w") as f:
            f.write("deleted")

    def ping(self) -> dict:
        """S15 health ping (mailchimp/src/health.rs:4-6): GET /3.0/ping.
        The journaling double answers with the API's canonical healthy
        payload; a null/absent health_status decodes to '' (the reference's
        deserialize_null_string)."""
        return {"health_status": "Everything's Chimpy!"}


    def update_tags(self, updates: list[dict]) -> None:
        key = _batch_key(updates)
        self._maybe_fail(key)
        path = os.path.join(self.base_dir, "tags", f"{key}-{uuid.uuid4().hex}.jsonl")
        with open(path, "w") as f:
            for u in updates:
                f.write(json.dumps(u, sort_keys=True) + "\n")

    def merge_field_op(self, op: str, field: dict) -> None:
        """Journal one merge-field schema operation (create/update/delete) —
        the reference's per-field POST/PATCH/DELETE calls
        (mailchimp/src/merge_fields.rs:60-101)."""
        d = os.path.join(self.base_dir, "merge_fields")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{uuid.uuid4().hex}.jsonl"), "w") as f:
            f.write(json.dumps({"op": op, **field}, sort_keys=True) + "\n")

    # -------- driver-side inspection helpers (tests / stats) --------
    def merge_field_ops(self) -> list[dict]:
        d = os.path.join(self.base_dir, "merge_fields")
        return _read_jsonl_dir(d) if os.path.isdir(d) else []

    def upserted_rows(self) -> list[dict]:
        return _read_jsonl_dir(os.path.join(self.base_dir, "upserts"))

    def deleted_ids(self) -> set[str]:
        return set(os.listdir(os.path.join(self.base_dir, "deletes")))

    def tag_updates(self) -> list[dict]:
        return _read_jsonl_dir(os.path.join(self.base_dir, "tags"))


def health_ping(client) -> dict:
    """S15: check API health before a sync run (mailchimp/src/health.rs:4-6),
    with the same transient-retry policy as the data paths."""
    status = with_retries(client.ping)
    return {"health_status": str(status.get("health_status") or "")}


def _batch_key(items: list[dict]) -> str:
    import hashlib

    h = hashlib.md5()
    for it in items:
        h.update(json.dumps(it, sort_keys=True).encode())
    return h.hexdigest()[:16]


def _read_jsonl_dir(d: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name)) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def with_retries(fn, *args, max_retries: int = MAX_RETRIES, sleep=time.sleep):
    """Retry ×3, exponential backoff factor 2 capped 5 s with jitter;
    permanent errors surface immediately (mailchimp/src/lib.rs:331-364)."""
    delay = 0.25
    for attempt in range(max_retries + 1):
        try:
            return fn(*args)
        except PermanentError:
            raise
        except Exception:
            if attempt == max_retries:
                raise
            sleep(min(delay, BACKOFF_CAP_S) * (1 + random.random() * 0.1))
            delay *= BACKOFF_FACTOR


def upsert_documents_sink(
    documents,
    client_factory,
    batch_size: int = BATCH_SIZE,
    concurrency: int = 8,
    error_counter=None,
) -> int:
    """S10: push documents to the API in chunks of `batch_size`.

    Concurrency is bounded the Spark way: coalesce to `concurrency`
    partitions — at most that many executor slots hit the API at once
    (the reference's try_for_each_concurrent(8), members.rs:151). Each
    partition chunks rows and retries per batch. Per-item rejections inside
    an otherwise-successful batch are logged individually (the reference's
    members.rs:166-171 error loop) and counted into `error_counter` (a
    Spark accumulator) when the caller passes one. Returns the number of
    documents sent, counted in the pushing pass.
    """
    docs = documents.coalesce(concurrency)
    sent = documents.sparkSession.sparkContext.accumulator(0)

    def submit(client, chunk: list[dict]) -> None:
        resp = with_retries(client.batch_upsert, chunk)
        sent.add(len(chunk))
        for e in resp.get("errors", []) if isinstance(resp, dict) else []:
            log.warning(
                "upsert item rejected: %s: %s", e.get("email_address"), e.get("error")
            )
            if error_counter is not None:
                error_counter.add(1)

    def push(rows) -> None:
        client = client_factory()
        chunk: list[dict] = []
        for row in rows:
            chunk.append(
                {
                    "id": row["id"],
                    "email_address": row["email_address"],
                    "merge_fields": dict(row["merge_fields"]) if row["merge_fields"] else {},
                    "status_if_new": "subscribed",
                }
            )
            if len(chunk) >= batch_size:
                submit(client, chunk)
                chunk = []
        if chunk:
            submit(client, chunk)

    docs.foreachPartition(push)
    return sent.value


def retain_audience_sink(audience, keep_ids, client_factory, concurrency: int = 10) -> int:
    """S11: delete audience members whose id is not in the keep set, skipping
    status='cleaned' rows (members.rs:59-97). The diff is a broadcast
    anti-join; only the stragglers reach the API. A delete answered with 404
    is already done: a retried task re-sends the deletes its failed attempt
    got through. Returns the number of members deleted, counted in the
    pushing pass (the audience has changed by the time it returns, so it is
    not read again)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    to_delete = (
        audience.filter(F.col("status") != "cleaned")
        .join(broadcast(keep_ids.select("id").distinct()), on="id", how="left_anti")
        .select("id")
        .coalesce(concurrency)
    )
    sent = audience.sparkSession.sparkContext.accumulator(0)

    def push(rows) -> None:
        client = client_factory()
        for row in rows:
            try:
                with_retries(client.delete_member, row["id"])
            except PermanentError as e:
                if e.status != 404:
                    raise
            sent.add(1)

    to_delete.foreachPartition(push)
    return sent.value


def update_tags_sink(tags, client_factory, batch_size: int = 1000, concurrency: int = 10) -> int:
    """Tag updates in chunks of 1000, bounded concurrency (members.rs:249-274).
    Returns the number of tag updates sent, counted in the pushing pass."""
    t = tags.coalesce(concurrency)
    sent = tags.sparkSession.sparkContext.accumulator(0)

    def submit(client, chunk: list[dict]) -> None:
        with_retries(client.update_tags, chunk)
        sent.add(len(chunk))

    def push(rows) -> None:
        client = client_factory()
        chunk: list[dict] = []
        for row in rows:
            chunk.append({"id": row["id"], "tag": row["tag"], "status": row["status"]})
            if len(chunk) >= batch_size:
                submit(client, chunk)
                chunk = []
        if chunk:
            submit(client, chunk)

    t.foreachPartition(push)
    return sent.value


def paged_rest_source(
    spark,
    fetch_page,
    total_count: int,
    schema,
    page_size: int = 1000,
    concurrency: int = 10,
):
    """S5/S6: distributed paged REST read (mailchimp/src/lib.rs:214-249 +
    members.rs:24-48).

    The reference asks the API for the total count, then fetches pages of
    `page_size` with bounded concurrency (10). Spark shape: one row per page
    offset, repartitioned to `concurrency` partitions, fetched inside
    mapInPandas — at most `concurrency` executor slots hit the API at once,
    each yielding an Arrow batch. `fetch_page(offset, count) -> list[dict]`
    is the REST call (a `requests` call in production, a deterministic fake
    in tests); it is serialized to executors via cloudpickle.
    """
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    n_pages = max(1, math.ceil(total_count / page_size))
    offsets = (
        spark.range(n_pages)
        .select((F.col("id") * page_size).alias("offset"))
        .repartition(min(concurrency, n_pages))
    )
    # parse DDL properly — naive split(',') breaks on parameterized/nested
    # types (decimal(18,2), struct<...>, map<...>)
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema

    def fetch(batches):
        for pdf in batches:
            for off in pdf["offset"]:
                rows = fetch_page(int(off), page_size)
                if rows:
                    yield coerce_rest_page(rows, struct)

    return offsets.mapInPandas(fetch, schema=schema)


def coerce_rest_page(rows: list[dict], struct) -> "pd.DataFrame":
    """F14/F15 tolerant REST decode (mailchimp/src/lib.rs:456-568).

    The reference deserializes API JSON into typed structs tolerantly: a
    field the payload omits becomes NULL, numeric values arriving as strings
    parse, booleans accept common spellings, unknown extra fields are
    ignored, and a genuinely malformed value nulls that field instead of
    failing the whole page. Applied per Arrow batch inside the paged source,
    so one bad record can never kill a 100 TB ingest.
    """
    import pandas as pd

    out = {}
    for field in struct.fields:
        name = field.name
        vals = [r.get(name) for r in rows]
        t = field.dataType.simpleString()
        if t in ("tinyint", "smallint", "int", "bigint"):
            s = pd.to_numeric(pd.Series(vals), errors="coerce")
            # a float like 3.7 in an int field truncates (Rust's as-cast);
            # NaN stays null via the nullable Int64 dtype
            out[name] = s.round(0).astype("Int64")
        elif t in ("float", "double") or t.startswith("decimal"):
            out[name] = pd.to_numeric(pd.Series(vals), errors="coerce")
        elif t == "boolean":
            truthy = {"true", "1", "yes", "y", True, 1}
            falsy = {"false", "0", "no", "n", False, 0}

            def to_bool(v):
                if v is None:
                    return None
                key = v.strip().lower() if isinstance(v, str) else v
                if key in truthy:
                    return True
                if key in falsy:
                    return False
                return None

            out[name] = pd.Series([to_bool(v) for v in vals], dtype="object")
        elif t == "string":
            out[name] = pd.Series(
                [None if v is None else str(v) for v in vals], dtype="object"
            )
        elif t.startswith("timestamp") or t == "date":
            s = pd.to_datetime(pd.Series(vals), errors="coerce", utc=True)
            out[name] = s.dt.tz_localize(None)
        else:  # arrays/maps/structs pass through; Arrow validates the shape
            out[name] = pd.Series(vals, dtype="object")
    return pd.DataFrame(out, columns=struct.fieldNames())


class BatchJob:
    """S12/T5: the Mailchimp batch-operations protocol against a journaling
    backend (mailchimp/src/batches.rs:15-64): accumulate operations, submit
    as one batch, poll every `poll_interval` until Finished.

    The journaling "server" finishes a batch after `finish_after_polls`
    status checks, so the polling loop is genuinely exercised in tests. A
    production implementation swaps `_submit`/`_status` for POST /3.0/batches
    and GET /3.0/batches/{id}.
    """

    def __init__(self, base_dir: str, finish_after_polls: int = 2):
        self.base_dir = base_dir
        self.finish_after_polls = finish_after_polls
        self.ops: list[dict] = []
        os.makedirs(os.path.join(base_dir, "batches"), exist_ok=True)

    def post(self, path: str, body: dict) -> None:
        self.ops.append({"method": "POST", "path": path, "body": body})

    def put(self, path: str, body: dict) -> None:
        self.ops.append({"method": "PUT", "path": path, "body": body})

    def delete(self, path: str) -> None:
        self.ops.append({"method": "DELETE", "path": path})

    def _submit(self) -> str:
        batch_id = uuid.uuid4().hex[:12]
        with open(os.path.join(self.base_dir, "batches", f"{batch_id}.jsonl"), "w") as f:
            for op in self.ops:
                f.write(json.dumps(op, sort_keys=True) + "\n")
        with open(os.path.join(self.base_dir, "batches", f"{batch_id}.polls"), "w") as f:
            f.write("0")
        return batch_id

    def _status(self, batch_id: str) -> str:
        path = os.path.join(self.base_dir, "batches", f"{batch_id}.polls")
        with open(path) as f:
            polls = int(f.read() or 0)
        with open(path, "w") as f:
            f.write(str(polls + 1))
        return "finished" if polls >= self.finish_after_polls else "pending"

    def run(self, poll_interval_s: float = 0.01, sleep=time.sleep) -> str:
        """Submit accumulated ops and poll to completion (batches.rs:56-63;
        reference interval is 5 s — injectable here so tests don't sleep)."""
        batch_id = self._submit()
        while self._status(batch_id) != "finished":
            sleep(poll_interval_s)
        return batch_id
