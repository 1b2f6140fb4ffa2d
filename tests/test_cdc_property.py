"""Property-based tests: for ANY sequence of keyed ordered changes,
latest_state == a naive sequential replay, and merge_changes over a
base gives the replay's answer whether the changes are raw or thinned
per key first, and the Mirror's apply/compact/re-run interleavings
converge to the replay. This is the correctness heart of the engine
(max-version-wins must equal replay-in-order for every interleaving),
so it gets hypothesis coverage beyond the fixed examples in
test_cdc_streaming."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
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


MIRROR_ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("val", T.IntegerType()),
    ]
)

steps_strategy = st.lists(
    st.one_of(
        st.just(("apply", 0)),
        st.just(("compact", 0)),
        st.tuples(st.just("rerun"), st.integers(min_value=0, max_value=3)),
    ),
    max_size=8,
)


@settings(
    max_examples=3,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@example(
    base={1: 1, 2: 2},
    batches=[[("update", 1, 15), ("update", 2, 26)], [("update", 1, 19), ("delete", 2, 0)]],
    steps=[("apply", 0), ("apply", 0), ("compact", 0), ("rerun", 0)],
)
@example(
    base={},
    batches=[[("insert", 3, 1)], [("delete", 3, 0)], [("insert", 3, 7)]],
    steps=[("apply", 0), ("apply", 0), ("compact", 0), ("rerun", 1), ("compact", 0), ("rerun", 0)],
)
@given(
    base=base_strategy,
    batches=st.lists(events_strategy.map(lambda e: e[:6]), min_size=1, max_size=4),
    steps=steps_strategy,
)
def test_mirror_apply_compact_rerun_equals_replay(
    spark, tmp_path_factory, base, batches, steps
):
    """Any interleaving of Mirror._apply_batch, compact() and a re-run
    of an already-applied batch id (what Structured Streaming does
    after a failure) converges to the naive replay. Versions rise with
    the batch id, as they do in a feed; the batches not yet applied
    when the steps run out are applied at the end."""
    from peerdb_cdc_psql_clickhouse_spark.streaming.mirror import Mirror

    m = Mirror(
        spark,
        name="prop_mirror",
        schema="public",
        table="prop",
        key_cols=["id"],
        row_schema=MIRROR_ROW_SCHEMA,
        target_root=str(tmp_path_factory.mktemp("wh")),
        checkpoint_root=str(tmp_path_factory.mktemp("ckpt")),
    )
    m.snapshot(spark.createDataFrame(sorted(base.items()), MIRROR_ROW_SCHEMA))
    frames, first = [], 0
    for events in batches:
        frames.append(
            spark.createDataFrame(
                [
                    (op, first + i, dt.datetime(2026, 1, 1), key, val)
                    for i, (op, key, val) in enumerate(events)
                ],
                ROW_SCHEMA,
            )
        )
        first += len(events)
    applied = 0
    for step, arg in steps:
        if step == "apply" and applied < len(frames):
            m._apply_batch(frames[applied], applied)
            applied += 1
        elif step == "compact":
            m.compact()
        elif step == "rerun" and applied:
            m._apply_batch(frames[arg % applied], arg % applied)
    for i in range(applied, len(frames)):
        m._apply_batch(frames[i], i)
    got = {r["id"]: r["val"] for r in m.read_target().collect()}
    assert got == naive_replay([e for b in batches for e in b], base)
