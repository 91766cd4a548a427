"""Tests of the benchmark's own code (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import aci_gen as G
from measure import tail_percentile
from spans import Span, Tracer, parse_event_logs, self_times, subtree_ids


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_generator_bytes_depend_only_on_seed(tmp_path):
    for name, seed in (("a1", 1), ("a2", 1), ("b", 2)):
        G.write_catalog(G.build_catalog(seed, 400), str(tmp_path / name))
    a1, a2, b = (_bytes(str(tmp_path / n)) for n in ("a1", "a2", "b"))
    assert len(a1) == 16
    assert a1 == a2
    assert a1["users.parquet"] != b["users.parquet"]
    assert a1["membership_paragraphs.parquet"] != b["membership_paragraphs.parquet"]


def test_generator_keeps_fixture_schemas(tmp_path):
    """Same tables, columns and parquet types as tests/aci_fixtures.py (a
    column that is all NULL in the small fixture has no type to compare)."""
    import importlib.util

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(os.path.dirname(__file__), "..", "tests", "aci_fixtures.py")
    spec = importlib.util.spec_from_file_location("aci_fixtures", path)
    fx = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fx)
    fx.build_fixtures(str(tmp_path / "fx"))
    G.write_catalog(G.build_catalog(3, 300), str(tmp_path / "gen"))
    assert sorted(os.listdir(tmp_path / "fx")) == sorted(os.listdir(tmp_path / "gen"))
    for name in os.listdir(tmp_path / "fx"):
        want = pq.read_schema(tmp_path / "fx" / name)
        got = pq.read_schema(tmp_path / "gen" / name)
        assert got.names == want.names, name
        for f in want:
            if not pa.types.is_null(f.type) and not pa.types.is_null(got.field(f.name).type):
                assert got.field(f.name).type == f.type, (name, f.name)


def test_churn_is_an_explicit_delta_with_exact_effect():
    a = G.build_catalog(5, 2000)
    b, churn = G.apply_churn(a, 5)
    c = churn.counts()
    assert c["removed"] == c["changed"] == c["added"] == round(0.02 * 2000 / 3)
    # untouched users are identical records in both snapshots
    kept = set(a.primaries) - set(churn.removed) - set(churn.changed)
    assert all(a.primaries[u] == b.primaries[u] for u in kept)
    exp = G.expected_sync(a, b)
    assert all(v["deleted"] == 0 for v in exp["first"].values())
    # removed and changed users each drop one users/members key
    for entity in ("users", "members"):
        assert exp["incr"][entity]["deleted"] == c["removed"] + c["changed"]
        assert exp["incr"][entity]["upserted"] == (
            exp["first"][entity]["upserted"] - c["removed"] + c["added"])
    for entity in ("regions", "clubs", "leadership_club"):
        assert exp["incr"][entity] == exp["first"][entity]


def test_every_edge_class_is_present():
    a = G.build_catalog(7, 2000)
    classes = {p.cls for p in a.primaries.values()}
    assert set(G.MEMBERSHIP_RATES) <= classes
    emails = [p.email for p in a.primaries.values()]
    assert None in emails and "" in emails
    assert any(e and e.endswith("@noemail.com") for e in emails)
    assert any(p.search_email != p.email for p in a.primaries.values())  # shared email
    assert any(p.partner_uid in a.primaries for p in a.primaries.values())  # partner is primary
    starts = [r["start_date"] for r in a.leadership]
    ends = [r["end_date"] for r in a.leadership]
    assert None in starts and None in ends
    assert {r["status"] for r in a.audience} == {"cleaned", "subscribed"}


@pytest.mark.parametrize("n", [11, 12, 27, 99, 100, 101, 250, 1000])
def test_tail_percentile_leaves_ten_samples_above(n):
    xs = list(range(n))
    pct, v = tail_percentile([float(x) for x in reversed(xs)])
    above = sum(1 for x in xs if x > v)
    assert above >= 10
    # one percentile higher would leave fewer than ten above
    nxt = int(pct) + 1
    k = -(-nxt * n // 100)  # ceil
    assert n - k < 10


def test_tail_percentile_values():
    xs = [float(i) for i in range(1, 101)]
    assert tail_percentile(xs) == (90.0, 90.0)
    assert tail_percentile(xs[:11]) == (9.0, 1.0)
    assert tail_percentile([3.0, 1.0, 2.0]) == (50.0, 2.0)  # too few: the median


def _span(i, parent, start, end):
    return Span(id=i, name=f"s{i}", parent=parent, request=None, start=start, end=end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),  # overlaps span 2: the union [1, 5] counts once
        _span(4, 1, 7.0, 8.0),
        _span(5, 1, 9.5, 12.0),  # runs past its parent: clipped at 10
        _span(6, 2, 1.5, 2.5),  # a grandchild does not count against span 1
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert st[2] == pytest.approx(1.0)
    assert st[6] == pytest.approx(1.0)
    assert subtree_ids(spans, [2]) == {2, 6}


def test_tracer_nesting_and_switch():
    t = Tracer(True)
    with t.span("run", request="r1"):
        t.switch("step.a")
        t.switch("step.b")
        with t.span("inner"):
            pass
    names = {s.name: s for s in t.spans}
    assert names["step.a"].parent == names["run"].id
    assert names["step.b"].parent == names["run"].id
    assert names["inner"].parent == names["run"].id  # a span closes the switched one
    assert all(s.request == "r1" for s in t.spans)
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer(False)
    with off.span("x"):
        off.switch("y")
    assert off.spans == []


def _task_end(stage, cpu_ns, rows, launch, finish, run_ms, written=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Deserialize Time": 10, "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns, "JVM GC Time": 5, "Result Serialization Time": 2,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 100,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30},
            "Input Metrics": {"Bytes Read": 400, "Records Read": rows},
            "Output Metrics": {"Bytes Written": 10 * written, "Records Written": written},
        },
    }


def test_event_log_parser_attributes_task_metrics_to_spans(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 900,
         "Properties": {"perfbench.span": "7", "spark.sql.execution.id": "3"}},
        _task_end(0, 2_000_000_000, 10, 1000, 1200, 150),
        _task_end(1, 1_000_000_000, 5, 2000, 2100, 50, written=4),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2200},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Submission Time": 2000, "Properties": {"perfbench.span": "7"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"callSite.short": "foreachPartition at rest.py:228"}},
        _task_end(2, 500_000_000, 1, 3000, 3010, 5),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "physicalPlanDescription": "Scan parquet member_search"},
    ]
    with open(tmp_path / "app-1", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    ev = parse_event_logs(str(tmp_path))
    st7 = ev.stats([7])
    s7 = st7.counts
    assert s7["jobs"] == 2 and s7["tasks"] == 2 and s7["rdd_actions"] == 0
    assert s7["task_run_s"] == pytest.approx(0.2)
    assert s7["write_task_run_s"] == pytest.approx(0.05)
    assert s7["output_rows"] == 4 and s7["output_bytes"] == 40
    # jobs over [900, 2200] and [2000, 2500]: the union is 1.6 s
    assert st7.job_s() == pytest.approx(1.6)
    assert s7["executor_cpu_s"] == pytest.approx(3.0)
    assert s7["input_rows"] == 15 and s7["input_bytes"] == 800
    assert s7["gc_s"] == pytest.approx(0.010)
    assert s7["shuffle_read_bytes"] == 6 and s7["shuffle_write_bytes"] == 60
    assert s7["spill_bytes"] == 200
    # wall 200 ms - run 150 - deserialize 10 - serialize 2; wall 100 - 50 - 12
    assert s7["scheduler_delay_s"] == pytest.approx((38 + 38) / 1e3)
    outside = ev.stats([""]).counts
    assert outside["rdd_actions"] == 1 and outside["tasks"] == 1
    assert ev.stats([""]).job_s() == 0.0  # its job never ended in the log
    assert ev.stats([7, ""]).counts["tasks"] == 3
    (e,) = ev.stats([7]).executions
    assert "member_search" in ev.plans[e]
