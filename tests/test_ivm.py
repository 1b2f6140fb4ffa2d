"""Incremental aggregate maintenance == from-scratch aggregation after
every micro-batch, for randomized change sequences (the materialized-
view invariant)."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_cdc_psql_clickhouse_spark.operators.cdc import merge_changes
from peerdb_cdc_psql_clickhouse_spark.operators.ivm import (
    aggregate_of,
    maintain_aggregate,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)
EV_SCHEMA = T.StructType(
    [
        T.StructField("_op", T.StringType()),
        T.StructField("_version", T.LongType()),
        T.StructField("_ts", T.TimestampType()),
    ]
    + list(ROW_SCHEMA.fields)
)


def _agg_dict(df):
    return {
        r["grp"]: (r["agg_sum"], r["agg_cnt"]) for r in df.collect()
    }


def test_ivm_matches_rescan_over_random_batches(spark):
    rng = random.Random(11)
    t = dt.datetime(2026, 1, 1)
    version = 0
    target = spark.createDataFrame([], ROW_SCHEMA)
    agg = None

    for _ in range(4):  # 4 sequential micro-batches
        batch_rows = []
        for _ in range(25):
            version += 1
            op = rng.choice(["insert", "update", "update", "delete"])
            batch_rows.append(
                (
                    op,
                    version,
                    t,
                    rng.randrange(12),               # key
                    rng.choice(["a", "b", "c"]),     # group
                    rng.randrange(100),              # value
                )
            )
        batch = spark.createDataFrame(batch_rows, EV_SCHEMA)
        agg = maintain_aggregate(
            agg, target, batch, ["id"], "grp", "v"
        ).localCheckpoint()
        target = merge_changes(target, batch, ["id"]).localCheckpoint()
        # invariant: incremental == from-scratch at every step
        assert _agg_dict(agg) == _agg_dict(
            aggregate_of(target, "grp", "v")
        )


def test_ivm_delete_to_empty_group(spark):
    t = dt.datetime(2026, 1, 1)
    target = spark.createDataFrame([(1, "a", 10)], ROW_SCHEMA)
    batch = spark.createDataFrame(
        [("delete", 5, t, 1, "a", 10)], EV_SCHEMA
    )
    agg = maintain_aggregate(None, target, batch, ["id"], "grp", "v")
    assert agg.count() == 0  # group fully drained drops out


def test_ivm_group_migration(spark):
    """An update that MOVES a key between groups must debit the old
    group and credit the new one."""
    t = dt.datetime(2026, 1, 1)
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5)], ROW_SCHEMA
    )
    batch = spark.createDataFrame(
        [("update", 5, t, 1, "b", 7)], EV_SCHEMA
    )
    agg = maintain_aggregate(None, target, batch, ["id"], "grp", "v")
    assert _agg_dict(agg) == {"a": (5, 1), "b": (7, 1)}


def test_ivm_through_streaming_mirror(spark, tmp_path):
    """The materialized-view loop in the real streaming apply: each
    foreachBatch tick maintains the aggregate from the PRE-batch
    mirror state, then applies the batch. Final aggregate equals a
    from-scratch rollup of the converged target."""
    from peerdb_cdc_psql_clickhouse_spark.sources.changes import (
        write_change_batches,
    )
    from peerdb_cdc_psql_clickhouse_spark.streaming.mirror import Mirror

    rng = random.Random(5)
    t = dt.datetime(2026, 1, 1)
    rows = []
    for v in range(1, 61):
        rows.append(
            (
                rng.choice(["insert", "update", "update", "delete"]),
                v,
                t,
                rng.randrange(10),
                rng.choice(["a", "b", "c"]),
                rng.randrange(100),
            )
        )
    feed = str(tmp_path / "feed")
    write_change_batches(
        spark.createDataFrame(rows, EV_SCHEMA), feed, rows_per_batch=15
    )
    mirror = Mirror(
        spark,
        name="ivm_mirror",
        schema="public",
        table="t",
        key_cols=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    state = {"agg": None}

    def apply_and_maintain(batch, batch_id):
        state["agg"] = maintain_aggregate(
            state["agg"],
            mirror.read_target(),
            batch,
            ["id"],
            "grp",
            "v",
        ).localCheckpoint()
        mirror._apply_batch(batch, batch_id)

    from peerdb_cdc_psql_clickhouse_spark.catalog import (
        change_event_schema,
    )
    from peerdb_cdc_psql_clickhouse_spark.sources.changes import (
        read_changes_stream,
    )

    q = (
        read_changes_stream(
            spark, feed, change_event_schema(ROW_SCHEMA),
            max_files_per_trigger=1,
        )
        .writeStream.foreachBatch(apply_and_maintain)
        .option("checkpointLocation", str(tmp_path / "q_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _agg_dict(state["agg"]) == _agg_dict(
        aggregate_of(mirror.read_target(), "grp", "v")
    )
    assert state["agg"].count() > 0
