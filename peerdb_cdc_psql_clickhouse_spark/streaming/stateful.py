"""Custom stateful streaming operators (applyInPandasWithState).

The reference's flow-worker keeps durable per-mirror state in Temporal
(docker-compose.yml:98-149): how far each table has replicated and
what was applied. The Spark-native carrier for such per-key mutable
state is applyInPandasWithState: state lives in the state store
(checkpointed, O-C8), updates arrive as Arrow batches, and timeouts
evict idle keys so state stays bounded (the WAL-bound analog,
SURVEY §4).

entity_progress() tracks, per entity key: ops applied, latest version
seen, and insert/update/delete counts — the per-key streaming version
of the monitor's CDC-operations analysis (monitor.ps1:796-851).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "entity_id LONG, n_ops LONG, max_version LONG, "
    "n_insert LONG, n_update LONG, n_delete LONG"
)
STATE_SCHEMA = (
    "n_ops LONG, max_version LONG, n_insert LONG, n_update LONG, "
    "n_delete LONG"
)


_EMPTY = (0, -1, 0, 0, 0)


def _fold(counters: tuple, pdf: pd.DataFrame) -> tuple:
    """Fold one batch of a key's change events into its counters
    (n_ops, max_version, n_insert, n_update, n_delete)."""
    n, mx, ni, nu, nd = counters
    ops = pdf["_op"].value_counts()
    return (
        n + len(pdf),
        max(mx, int(pdf["_version"].max())),
        ni + int(ops.get("insert", 0)),
        nu + int(ops.get("update", 0)),
        nd + int(ops.get("delete", 0)),
    )


def _row(key: tuple[Any, ...], counters: tuple, **extra) -> pd.DataFrame:
    """One output row: the key's counters plus any extra columns."""
    names = ("n_ops", "max_version", "n_insert", "n_update", "n_delete")
    return pd.DataFrame(
        {
            "entity_id": [key[0]],
            **{c: [v] for c, v in zip(names, counters)},
            **{c: [v] for c, v in extra.items()},
        }
    )


def _update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    counters = tuple(state.get) if state.exists else _EMPTY
    for pdf in pdfs:
        counters = _fold(counters, pdf)
    state.update(counters)
    yield _row(key, counters)


try:  # Spark 4.x state API; fall back silently where absent
    # the TWS runner speaks protobuf to the JVM — probe it up front,
    # otherwise the query crashes at plan time, not import time
    from google.protobuf import descriptor as _descriptor  # noqa: F401

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _ProgressProcessor(StatefulProcessor):
        """transformWithStateInPandas flavor of entity_progress: the
        same per-key counters kept in a named ValueState on the
        RocksDB state store (required by this API). Richer than
        applyInPandasWithState: multiple named states, timers, and
        TTL are available per key."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("progress", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            counters = (
                tuple(self._state.get()) if self._state.exists() else _EMPTY
            )
            for pdf in rows:
                counters = _fold(counters, pdf)
            self._state.update(counters)
            yield _row(key, counters)

        def close(self) -> None:
            pass

    def entity_progress_tws(changes: DataFrame) -> DataFrame:
        """entity_progress on the transformWithStateInPandas API.
        Needs the RocksDB state store provider
        (spark.sql.streaming.stateStore.providerClass)."""
        return changes.groupBy("entity_id").transformWithStateInPandas(
            statefulProcessor=_ProgressProcessor(),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )

except ImportError:  # pragma: no cover
    entity_progress_tws = None


def entity_progress(changes: DataFrame) -> DataFrame:
    """Per-entity replication progress over a change stream. Emits the
    updated state row for every key touched in each micro-batch
    (update semantics). State is per-key-partitioned — the one shuffle
    keyed on entity, same minimum as the apply itself. State grows
    with the number of LIVE keys forever; for sources with unbounded
    key churn use entity_progress_with_eviction."""
    return changes.groupBy("entity_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


OUTPUT_SCHEMA_EVICT = OUTPUT_SCHEMA + ", evicted BOOLEAN"


def entity_progress_with_eviction(
    changes: DataFrame,
    ts_col: str = "_ts",
    watermark: str = "10 seconds",
    idle_horizon_ms: int = 60_000,
) -> DataFrame:
    """entity_progress with bounded state: a key idle for
    idle_horizon_ms of EVENT time is evicted from the state store via
    GroupStateTimeout.EventTimeTimeout, emitting one final row flagged
    evicted=true (the WAL-bound analog the module docstring promises —
    state is O(keys active within the horizon), not O(keys ever
    seen)). Event-time, not processing-time, so eviction is
    deterministic and replay-safe: a checkpoint restart re-derives the
    same timeouts from the same data."""

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            counters = tuple(state.get)
            state.remove()
            yield _row(key, counters, evicted=True)
            return
        counters = tuple(state.get) if state.exists else _EMPTY
        max_ts = None
        for pdf in pdfs:
            counters = _fold(counters, pdf)
            bt = pdf[ts_col].max()
            max_ts = bt if max_ts is None else max(max_ts, bt)
        state.update(counters)
        # timeout fires when the WATERMARK passes this instant — idle
        # keys are reaped as event time advances, never by wall clock.
        # Clamp above the current watermark: a batch of very-late
        # events (delivered to the operator even when behind the
        # watermark) would otherwise set a timeout Spark rejects.
        want = int(pd.Timestamp(max_ts).timestamp() * 1000) + idle_horizon_ms
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(want, wm + 1))
        yield _row(key, counters, evicted=False)

    return (
        changes.withWatermark(ts_col, watermark)
        .groupBy("entity_id")
        .applyInPandasWithState(
            update,
            outputStructType=OUTPUT_SCHEMA_EVICT,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
