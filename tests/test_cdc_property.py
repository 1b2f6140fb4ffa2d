"""Property-based tests: for ANY sequence of keyed ordered changes,
latest_state == a naive sequential replay, and merge_changes over a
base gives the replay's answer whether the changes are raw or thinned
per key first. This is the correctness heart of the engine
(max-version-wins must equal replay-in-order for every interleaving),
so it gets hypothesis coverage beyond the fixed examples in
test_cdc_streaming."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from peerdb_cdc_psql_clickhouse_spark.operators.cdc import (
    latest_state,
    merge_changes,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("_op", T.StringType()),
        T.StructField("_version", T.LongType()),
        T.StructField("_ts", T.TimestampType()),
        T.StructField("id", T.IntegerType()),
        T.StructField("val", T.IntegerType()),
    ]
)

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.integers(min_value=0, max_value=7),  # key: few keys, many collisions
        st.integers(min_value=0, max_value=1000),  # val
    ),
    min_size=1,
    max_size=40,
)


BASE_SCHEMA = T.StructType(ROW_SCHEMA.fields[3:])  # id, val

base_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=7),
    st.integers(min_value=0, max_value=1000),
    max_size=8,
)


def changes_frame(spark, events):
    return spark.createDataFrame(
        [
            (op, ver, dt.datetime(2026, 1, 1), key, val)
            for ver, (op, key, val) in enumerate(events)
        ],
        ROW_SCHEMA,
    )


def naive_replay(events, base=None):
    state = dict(base or {})
    for ver, (op, key, val) in enumerate(events):
        if op == "delete":
            state.pop(key, None)
        else:
            state[key] = val
    return state


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(events_strategy)
def test_latest_state_equals_replay(spark, events):
    df = changes_frame(spark, events)
    got = {
        r["id"]: r["val"]
        for r in latest_state(df, ["id"]).select("id", "val").collect()
    }
    assert got == naive_replay(events)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(base_strategy, events_strategy)
def test_merge_of_raw_changes_equals_merge_of_thinned(spark, base, events):
    """The Mirror's apply writes each micro-batch raw, several versions
    of a key included; merge_changes over the raw rows must give what
    it gives over the per-key thinned rows (deletes kept, so they still
    outrank the base), and both must equal the replay."""
    base_df = spark.createDataFrame(sorted(base.items()), BASE_SCHEMA)
    raw = changes_frame(spark, events)
    thinned = latest_state(raw, ["id"], keep_deletes=True)

    def merged(changes):
        out = merge_changes(base_df, changes, ["id"]).collect()
        return {r["id"]: r["val"] for r in out}

    expect = naive_replay(events, base)
    assert merged(raw) == expect
    assert merged(thinned) == expect
