"""Property-based tests (hypothesis) for the correctness-critical kernels:
the typing coercion truth table and last-writer-wins dedup. These go
beyond the reference's hand-enumerated cases (SURVEY.md §5 notes it has no
randomized testing)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arc_spark.cdc.apply import last_writer_wins
from arc_spark.operators.typing import typing_transform
from arc_spark.schema import ColumnSpec

# one batched Spark job per example is slow; keep examples modest and feed
# whole lists per example instead of row-at-a-time
_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    values=st.lists(
        st.one_of(
            st.integers(min_value=-(2**40), max_value=2**40).map(str),
            st.text(
                alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd", "Po")),
                max_size=12,
            ),
            st.none(),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_integer_typing_matches_python_semantics(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    rows = typing_transform(df, [ColumnSpec("v", "integer")]).collect()
    # collect() order isn't guaranteed to match input order; compare by value
    def expected(raw):
        if raw is None:
            return None, 0
        # Spark cast accepts optional sign + ASCII digits only, int32
        # range. Deliberately NOT Python int()/str.isdigit(), which are
        # Unicode-aware (e.g. int('𑱐') == 0 for MARCHEN DIGIT ZERO) —
        # hypothesis found exactly that divergence. Same ASCII-pinning
        # rationale as the normalization kernels (cdc/apply.py).
        import re as _re

        if _re.fullmatch(r"-?[0-9]+", raw) and -(2**31) <= int(raw) < 2**31:
            return int(raw), 0
        return None, 1

    got = sorted(
        ((r["v"], len(r["_errors"])) for r in rows),
        key=lambda x: (x[0] is None, x[0], x[1]),
    )
    exp = sorted(
        (expected(v) for v in values), key=lambda x: (x[0] is None, x[0], x[1])
    )
    assert got == exp


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # key
            st.integers(min_value=0, max_value=10**6),  # seq (may collide)
            st.text(max_size=8),                      # payload
        ),
        min_size=1,
        max_size=60,
    ),
    strategy=st.sampled_from(["thin", "window", "sort_partitions"]),
)
@settings(**_SETTINGS)
def test_lww_picks_global_max_seq(spark, events, strategy):
    # make seq unique (the engine guarantee: seq is a total order)
    uniq = {}
    for i, (k, s, p) in enumerate(events):
        uniq[(s, i)] = (k, s * 100 + i, p)
    rows = list(uniq.values())
    df = spark.createDataFrame(rows, "k int, seq long, payload string")
    out = last_writer_wins(df, ["k"], "seq", strategy=strategy).collect()
    expected = {}
    for k, s, p in rows:
        if k not in expected or s > expected[k][0]:
            expected[k] = (s, p)
    got = {r["k"]: (r["seq"], r["payload"]) for r in out}
    assert got == expected
