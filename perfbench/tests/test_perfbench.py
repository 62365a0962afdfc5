"""Unit tests of the benchmark's own arithmetic and oracles (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pandas as pd
import pytest

from arc_spark.cdc.reference import reference_replay
from perfbench import metrics, oracle
from perfbench.query_headline import python_stages
from perfbench.stats import geomean, median
from perfbench.trace import Span, Tracer, inclusive, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "step", 0.0, 10.0),
        Span(1, "epoch", 1.0, 7.0, parent=0),
        Span(2, "merge", 2.0, 5.0, parent=1),
        Span(3, "read", 7.5, 9.5, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 6.0 - 2.0)
    assert st[1] == pytest.approx(6.0 - 3.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(2.0)
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(spans[0].duration)


def test_inclusive_metrics_sum_the_subtree():
    spans = [
        Span(0, "a", 0, 1, own={"jobs": 1, "tasks": 4}),
        Span(1, "b", 0, 1, parent=0, own={"jobs": 2, "tasks": 8}),
        Span(2, "c", 0, 1, own={"jobs": 5}),
    ]
    tot = inclusive(spans, 0)
    assert tot["jobs"] == 3 and tot["tasks"] == 12 and tot["input_bytes"] == 0


def test_tracer_nesting_and_disabled_tracer():
    t = Tracer(True, "r1")
    with t.span("outer"):
        with t.span("inner") as s:
            pass
    assert [x.name for x in t.spans] == ["outer", "inner"]
    assert s.parent == 0 and s.run_id == "r1" and s.end >= s.start
    off = Tracer(False, "r2")
    with off.span("x") as s:
        assert s is None
    assert off.spans == []


def test_median_and_geomean():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    assert geomean([1, 4, 16]) == pytest.approx(4.0)
    assert geomean([2.0]) == 2.0
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        median([])


def _events() -> pd.DataFrame:
    rows = [
        (1, "insert", "r", "a", "hello  \r\nworld \t\n\n  "),
        (2, "update", "r", "a", "hello again\t\n"),
        (3, "insert", "r", "b", "bee"),
        (4, "delete", "r", "b", None),
        (5, "schema-change", "r", None, None),
        (6, "insert", "s", "c", "sea \n"),
        (7, "update", "s", "c", "sea\r\nsalt  "),
        (8, "insert", "s", "d", "dee"),
        (9, "update", "s", "d", "late"),  # beyond end_seq below
    ]
    return pd.DataFrame(rows, columns=["seq", "op", "repo", "path", "content"])


def _actual_from_reference(events: pd.DataFrame, end_seq: int) -> pd.DataFrame:
    evs = [
        {**r, "commit": "c", "path": r["path"]}
        for r in events[events.seq <= end_seq].to_dict("records")
    ]
    state = reference_replay(evs)
    return pd.DataFrame(
        [(k[0], k[1], v["sha256"]) for k, v in state.items()],
        columns=["repo", "path", "sha"],
    )


def _compare(actual: pd.DataFrame) -> dict:
    con = duckdb.connect()
    con.register("events_df", _events())
    con.execute("CREATE TABLE expected AS " + oracle.expected_state_sql("events_df", 8))
    con.register("actual_df", actual)
    return oracle.compare_digests(con, "actual_df", "expected")


def test_replay_digest_matches_reference_replay():
    res = _compare(_actual_from_reference(_events(), 8))
    assert oracle.digest_ok(res), res
    assert res["rows"] == 3  # r/a, s/c, s/d (r/b deleted)


def test_replay_digest_flags_one_altered_content_byte():
    ev = _events()
    ev.loc[ev.seq == 7, "content"] = "sea\r\nsalT  "
    res = _compare(_actual_from_reference(ev, 8))
    assert res["differ"] == 1 and not oracle.digest_ok(res)


def test_replay_digest_flags_a_duplicated_key():
    actual = _actual_from_reference(_events(), 8)
    dup = pd.concat([actual, actual.iloc[[0]]], ignore_index=True)
    res = _compare(dup)
    assert res["dup_keys"] == 1 and not oracle.digest_ok(res)


def test_replay_digest_flags_missing_and_extra_keys():
    actual = _actual_from_reference(_events(), 8)
    extra = pd.DataFrame(
        [("r", "b", hashlib.sha256(b"bee").hexdigest())], columns=["repo", "path", "sha"]
    )
    res = _compare(pd.concat([actual.iloc[1:], extra], ignore_index=True))
    assert res["missing"] == 1 and res["extra"] == 1


def test_python_stage_count_reads_the_final_plan_only():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(2) Project [pythonUDF0#6 AS h#2]
   +- ArrowEvalPython [f(x)#1], [pythonUDF0#6], 200
      +- MapInArrow <lambda>(a#1), [a#2]
+- == Initial Plan ==
   Project [pythonUDF0#6 AS h#2]
   +- ArrowEvalPython [f(x)#1], [pythonUDF0#6], 200
"""
    assert python_stages(plan) == 2


def test_benchmark_json_lists_the_harness_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["paths"] == ["perfbench"]
    assert {w["name"] for w in spec["workloads"]} == set(metrics.WORKLOADS)
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]
    } == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == metrics.PER_LAYER
