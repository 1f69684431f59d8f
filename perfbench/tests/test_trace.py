import json
import os

import pytest

from perfbench.trace import Span, Tracer, coverage, merge, parse_eventlog, self_times

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")
AQE_LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_aqe.jsonl")


def test_eventlog_groups_and_task_metrics():
    # a real, trimmed Spark 4.1 log: a pandas-UDF job in group "pairs",
    # an observed localCheckpoint in group "cluster", one ungrouped count
    st = parse_eventlog(LOG)
    assert set(st) == {"pairs", "cluster", ""}
    p = st["pairs"]
    assert (p.jobs, p.stages, p.tasks) == (1, 2, 4)
    assert p.task_ms == 7146 and p.gc_ms == 108
    assert p.shuffle_write_bytes == 269
    assert p.py_sent_bytes == 2 * 4208 and p.py_returned_bytes == 2 * 4144
    assert p.py_run_ms == 5854
    assert p.stage_max_ms == 3676 and p.stage_median_ms == 3573
    assert p.task_skew == pytest.approx(3676 / 3573)
    c = st["cluster"]
    assert (c.jobs, c.tasks, c.py_sent_bytes) == (1, 2, 0)
    assert c.observations == {"cc_step_0"}
    assert st[""].observations == set()


def test_exchanges_come_from_the_final_adaptive_plans():
    # a real, trimmed Spark 4.1 log with adaptive execution on, one group
    # per query:
    #  join  — planned as a sort-merge join over 2 shuffles (+1 for the
    #          count); adaptive execution turned it into a broadcast join,
    #          adding a BroadcastExchange over one of the shuffles
    #  reuse — the same aggregate on both sides of a union: one shuffle
    #          and a ReusedExchange of it (+1 for the count)
    #  cut   — repartition + localCheckpoint (1 shuffle), then an
    #          aggregate and count over the cut (2 more), two SQL executions
    st = parse_eventlog(AQE_LOG)
    assert {g: s.exchanges for g, s in st.items()} == {"join": 4, "reuse": 2, "cut": 3}
    assert merge(st, lambda g: True).exchanges == 9
    small = parse_eventlog(LOG)
    assert {g: s.exchanges for g, s in small.items()} == {"pairs": 1, "cluster": 0, "": 1}


def test_eventlog_skips_failed_tasks_and_merges(tmp_path):
    lines = open(LOG).read().splitlines()
    ok = next(json.loads(l) for l in lines if '"SparkListenerTaskEnd"' in l)
    bad = dict(ok, **{"Task End Reason": {"Reason": "ExceptionFailure"}})
    f = tmp_path / "log"
    f.write_text("\n".join(lines + [json.dumps(bad)]) + "\n")
    assert parse_eventlog(str(f))["pairs"].task_ms == 7146
    allq = merge(parse_eventlog(str(f)), lambda g: g != "")
    assert allq.tasks == 6 and allq.task_ms == 7146 + 250
    assert allq.observations == {"cc_step_0"}


def _spans():
    return [Span("root", 0.0, 10.0), Span("a", 1.0, 4.0, "root"),
            Span("b", 3.0, 6.0, "root"), Span("a1", 2.0, 3.0, "a"),
            Span("late", 9.0, 12.0, "root")]


def test_self_time_counts_overlapping_children_once():
    st = self_times(_spans())
    # root: children cover [1,6] and [9,10] (late is clipped to the root)
    assert st["root"] == pytest.approx(10 - 5 - 1)
    assert st["a"] == pytest.approx(3 - 1)
    assert st["b"] == pytest.approx(3)
    assert st["a1"] == pytest.approx(1)


def test_coverage_of_named_children():
    sp = _spans()
    assert coverage(sp, "root", ("a", "b")) == pytest.approx(0.5)
    assert coverage(sp, "root", ("a", "b", "late")) == pytest.approx(0.6)
    assert coverage(sp, "root", ()) == 0.0


def test_tracer_nesting_without_spark(tmp_path):
    tr = Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert tr.get("inner").parent == "outer" and tr.get("outer").parent is None
    assert tr.get("outer").duration >= tr.get("inner").duration >= 0
    out = tmp_path / "t" / "spans.json"
    tr.dump(str(out), note=1)
    d = json.loads(out.read_text())
    assert {s["name"] for s in d["spans"]} == {"outer", "inner"} and d["note"] == 1
