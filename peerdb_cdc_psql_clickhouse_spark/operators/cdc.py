"""CDC semantics re-implemented natively in Spark (SURVEY.md §2.3).

The reference configures PeerDB to do: initial snapshot
(docker-compose.yml:167-175), continuous ordered capture of
INSERT/UPDATE/DELETE from logical WAL (docker-compose.yml:66-67,
monitor.ps1:833-835), ordered apply with table-rename mapping
public.orders -> public_orders (monitor.ps1:648-651), and
ReplacingMergeTree-style convergence on the target (monitor.ps1:722-763).

Spark re-expression:
- a change stream is a DataFrame with envelope (_op, _version, _ts) +
  the row columns (catalog.change_event_schema);
- ordered apply NEVER relies on arrival order (Spark shuffles are
  unordered) — convergence is max-version-wins: row_number() over
  (partition by pk order by _version desc) = 1, drop _op='delete';
- this is shuffle-minimal: one hash partition by pk, which at 100 TB
  is the unavoidable minimum for keyed upsert. AQE handles pk skew.

The streaming wrapper (foreachBatch incremental merge) lives in
streaming/mirror.py; this module is the batch core it calls.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import dsum, dsum_sql
from ..registry import declare

# Version sentinel for snapshot rows merged against a change feed: must
# sort strictly below every real change version. Long.MIN, not -1 — a
# change event carrying _version <= -1 would otherwise tie with the
# base row and win/lose nondeterministically under row_number.
BASE_VERSION = -(2**63)

CDC_OPS = ("insert", "update", "delete")


def target_table_name(schema: str, table: str) -> str:
    """O-C3 rename mapping: public.orders -> public_orders
    (monitor.ps1:648-651)."""
    return f"{schema}_{table}"


def latest_state(
    changes: DataFrame,
    key_cols: Sequence[str],
    version_col: str = "_version",
    op_col: str = "_op",
    keep_deletes: bool = False,
) -> DataFrame:
    """O-C3/O-C4 ordered apply + ReplacingMergeTree-style dedup view:
    max-version-wins per key, deletes dropped (soft-delete filter).

    Equivalent SQL (the DuckDB oracle uses exactly this):
      SELECT ... FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY pk
      ORDER BY _version DESC) rn) WHERE rn = 1 AND _op <> 'delete'
    """
    w = Window.partitionBy(*key_cols).orderBy(F.desc(version_col))
    ranked = changes.withColumn("_rn", F.row_number().over(w))
    out = ranked.filter(F.col("_rn") == 1).drop("_rn")
    if not keep_deletes:
        out = out.filter(F.col(op_col) != "delete")
    return out


def merge_changes(
    base: DataFrame | None,
    changes: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """The one base ∪ changes merge: max-version-wins per key, deletes
    dropped. Returns the winning rows WITH their _version, so a caller
    that persists the result (Mirror.compact) keeps each row's real
    version: an already-applied older batch replayed over it must lose,
    never regress the key to a stale value. A base without a _version
    column (a plain current-state table) ranks at BASE_VERSION, below
    every change."""
    meta = ("_op", "_version", "_ts")
    data_cols = [c for c in changes.columns if c not in meta]
    parts = changes.select(*meta, *data_cols)
    if base is not None:
        version = (
            F.col("_version")
            if "_version" in base.columns
            else F.lit(BASE_VERSION)
        )
        parts = base.select(
            F.lit("insert").alias("_op"),
            version.cast("long").alias("_version"),
            F.lit(None).cast("timestamp").alias("_ts"),
            *data_cols,
        ).unionByName(parts)
    return latest_state(parts, key_cols).select(*data_cols, "_version")


def validate_changes(
    changes: DataFrame,
    key_cols: Sequence[str],
    version_col: str = "_version",
    op_col: str = "_op",
) -> tuple[DataFrame, DataFrame]:
    """Split a change feed into (valid, quarantined) — the dead-letter
    pattern for CDC ingestion. A malformed event must never reach
    apply, where an unknown _op would silently survive the soft-delete
    filter or a NULL key/version would corrupt max-version-wins
    grouping. Quarantined rows carry a `_reject_reason` so the DLQ is
    actionable.

    One row-local predicate pass; both outputs share the single scan
    (no shuffle). Reasons checked in order: unknown op, null version,
    negative-sentinel collision (_version <= BASE_VERSION is reserved),
    null key column(s).
    """
    reason = (
        F.when(
            # NULL-safe: `~isin` is NULL (not TRUE) for a NULL op, which
            # would classify the row as valid and let latest_state's
            # null-unsafe `_op != 'delete'` filter silently drop it after
            # it wins max-version — a phantom delete. Check NULL first.
            F.col(op_col).isNull() | ~F.col(op_col).isin(*CDC_OPS),
            F.lit("unknown_op"),
        )
        .when(F.col(version_col).isNull(), F.lit("null_version"))
        .when(
            F.col(version_col) <= F.lit(BASE_VERSION).cast("long"),
            F.lit("reserved_version"),
        )
    )
    for k in key_cols:
        reason = reason.when(
            F.col(k).isNull(), F.lit(f"null_key:{k}")
        )
    flagged = changes.withColumn("_reject_reason", reason)
    valid = flagged.filter(F.col("_reject_reason").isNull()).drop(
        "_reject_reason"
    )
    quarantined = flagged.filter(F.col("_reject_reason").isNotNull())
    return valid, quarantined


# ---------------------------------------------------------------------------
# Declared queries: the change stream is derived deterministically from
# the driver's `events` table (FIXTURES.md A4 recipe):
#   entity_id = event_id % 257          (keyed entity with many versions)
#   _op       = error->delete, signup->insert, else update
#   _version  = event_id                (total order; LSN analog)
# ---------------------------------------------------------------------------

_CHANGES_SQL_CTE = """
WITH changes AS (
  SELECT event_id % 257 AS entity_id,
         CASE WHEN event_type = 'error' THEN 'delete'
              WHEN event_type = 'signup' THEN 'insert'
              ELSE 'update' END AS _op,
         event_id AS _version,
         ts AS _ts,
         value
  FROM events
)
"""


def events_as_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "error", "delete")
        .when(F.col("event_type") == "signup", "insert")
        .otherwise("update")
    )
    return ev.select(
        (F.col("event_id") % 257).alias("entity_id"),
        op.alias("_op"),
        F.col("event_id").alias("_version"),
        F.col("ts").alias("_ts"),
        F.col("value"),
    )


@declare(
    "c1_snapshot_parity",
    "SELECT COUNT(*) AS src_cnt, COUNT(*) AS tgt_cnt, 0 AS lag FROM events",
    doc="O-C1 initial snapshot (flow-snapshot-worker analog, "
    "docker-compose.yml:167-175): full copy to a target dir, read "
    "back, count parity — the reference's own verification "
    "(monitor.ps1:722-763) against a live snapshot",
)
def c1_snapshot_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.sql import Observation

    work = tempfile.mkdtemp(prefix="snap_")
    try:
        src = events_as_changes(spark, sf_dir)
        # src_cnt rides the snapshot WRITE itself via observe(): the
        # copy already touches every source row, so a separate count()
        # of the source would be an extra pass (rows written == rows
        # observed). Overwrite = idempotent re-snapshot.
        obs = Observation("c1_src_cnt")
        src.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{work}/target")
        src_cnt = int(obs.get["n"])
        tgt = spark.read.parquet(f"{work}/target")
        tgt_cnt = int(tgt.count())
        from ..functions.values import values_frame

        return values_frame(
            spark,
            [(src_cnt, tgt_cnt, src_cnt - tgt_cnt)],
            "src_cnt bigint, tgt_cnt bigint, lag int",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@declare(
    "c2_change_feed",
    _CHANGES_SQL_CTE + "SELECT * FROM changes",
    doc="O-C2 continuous capture feed: the ordered change envelope "
    "(_op, _version, _ts, cols) as derived from the WAL analog "
    "(wal_level=logical docker-compose.yml:66-67; ops "
    "monitor.ps1:833-835)",
)
def c2_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_as_changes(spark, sf_dir)


@declare(
    "c3_rename_mapping",
    """
SELECT * FROM (VALUES
  ('public', 'customers', 'target', 'public_customers'),
  ('public', 'orders', 'target', 'public_orders'),
  ('public', 'products', 'target', 'public_products')
) AS t(src_schema, src_table, tgt_database, tgt_table)
""",
    doc="O-C3 table rename mapping public.orders -> target."
    "public_orders (monitor.ps1:648-651; expected tables "
    "peerdb_config.yaml:47-53)",
)
def c3_rename_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = [
        ("public", t, "target", target_table_name("public", t))
        for t in ("customers", "orders", "products")
    ]
    from ..functions.values import values_frame

    return values_frame(
        spark, rows, "src_schema string, src_table string, "
        "tgt_database string, tgt_table string"
    )


@declare(
    "c4_cdc_apply_latest",
    _CHANGES_SQL_CTE
    + """
SELECT entity_id, _version AS version, value FROM (
  SELECT entity_id, _op, _version, value,
         ROW_NUMBER() OVER (PARTITION BY entity_id
                            ORDER BY _version DESC) AS rn
  FROM changes
) WHERE rn = 1 AND _op <> 'delete'
""",
    doc="O-C3/O-C4 ordered apply + key/version dedup (max-version-wins, "
    "delete drops the key) — ReplacingMergeTree convergence "
    "(monitor.ps1:722-763)",
)
def c4_cdc_apply_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes = events_as_changes(spark, sf_dir)
    return latest_state(changes, ["entity_id"]).select(
        "entity_id", F.col("_version").alias("version"), "value"
    )


@declare(
    "c5_microbatch_sizes",
    _CHANGES_SQL_CTE
    + """
SELECT _version // 500 AS batch_id,
       COUNT(*) AS batch_rows,
       CAST(SUM(CASE WHEN _op = 'insert' THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
       CAST(SUM(CASE WHEN _op = 'update' THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
       CAST(SUM(CASE WHEN _op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_delete
FROM changes GROUP BY batch_id
""",
    doc="O-C5 micro-batching with bounded batch size (insert.ps1:11-13 "
    "BatchSize=500; peerdb_config.yaml:34-35) + per-op I/U/D counts "
    "(monitor.ps1:833-835)",
)
def c5_microbatch_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes = events_as_changes(spark, sf_dir)
    return changes.groupBy(
        F.expr("_version div 500").alias("batch_id")
    ).agg(
        F.count(F.lit(1)).alias("batch_rows"),
        F.sum(F.when(F.col("_op") == "insert", 1).otherwise(0)).alias("n_insert"),
        F.sum(F.when(F.col("_op") == "update", 1).otherwise(0)).alias("n_update"),
        F.sum(F.when(F.col("_op") == "delete", 1).otherwise(0)).alias("n_delete"),
    )


# r4 s3: c10/c11/c12 merged into one op-labeled union (c10_windows)
# to free two declared slots for x1h_line_dedup + x8_heavy_hitters —
# the d13-d15 / d16-d18 consolidation pattern. The three builders stay
# as the API surface; their oracle SQL is composed into the union's.

_C11_ORACLE = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, user_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 10 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sess_id
"""


def c11_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-C10 session windows (gap 10 min) per user — Spark
    session_window vs a gaps-and-islands SQL oracle; the stateful
    streaming carrier for per-entity activity sessions."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id"),
            F.session_window("ts", "10 minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


_C12_ORACLE = f"""
WITH starts AS (
  SELECT event_type, value, ts,
         unnest([
           CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP),
           CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800 - 1800)
                AS TIMESTAMP)
         ]) AS window_start
  FROM events
)
SELECT window_start, event_type,
       COUNT(*) AS cnt,
       {dsum_sql('value')} AS total_value
FROM starts
WHERE ts < window_start + INTERVAL 1 HOUR
GROUP BY window_start, event_type
"""


def c12_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-C10 sliding window (1 h window, 30 min slide): each event
    lands in 2 overlapping windows — Spark's window() duplication
    reproduced in SQL by unnesting the two candidate starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes")
            .getField("start")
            .alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("value").alias("total_value"),
        )
    )


_C10_ORACLE = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS cnt,
       {dsum_sql('value')} AS total_value
FROM events GROUP BY window_start, event_type
"""


def c10_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-C10 tumbling event-time window aggregation — the idiomatic
    Spark carrier for lag/catch-up analytics (peerdb_config.yaml:36-37);
    streaming variant with watermark in streaming/mirror.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum("value").alias("total_value"),
        )
    )


_C10_WINDOWS_ORACLE = f"""
SELECT 'tumbling' AS op, window_start AS win_start,
       CAST(NULL AS TIMESTAMP) AS win_end, event_type AS k,
       cnt, total_value
FROM ({_C10_ORACLE})
UNION ALL
SELECT 'session', session_start, session_end,
       CAST(user_id AS VARCHAR), n_events, CAST(NULL AS DOUBLE)
FROM ({_C11_ORACLE})
UNION ALL
SELECT 'sliding', window_start, CAST(NULL AS TIMESTAMP), event_type,
       cnt, total_value
FROM ({_C12_ORACLE})
"""


@declare(
    "c10_windows",
    _C10_WINDOWS_ORACLE,
    doc="O-C10 tumbling + session + sliding event-time windows merged "
    "into one op-labeled union (r4 s3: freed two declared slots for "
    "x1h/x8 — the d13-d15 / d16-d18 consolidation pattern). Each "
    "branch keeps its pre-merge plan: tumbling/sliding are one "
    "grouped agg each, session is Spark session_window vs a "
    "gaps-and-islands oracle.",
)
def c10_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    null_ts = F.lit(None).cast("timestamp")
    null_d = F.lit(None).cast("double")
    t = c10_tumbling_window(spark, sf_dir).select(
        F.lit("tumbling").alias("op"),
        F.col("window_start").alias("win_start"),
        null_ts.alias("win_end"),
        F.col("event_type").alias("k"),
        F.col("cnt"),
        F.col("total_value"),
    )
    s = c11_session_window(spark, sf_dir).select(
        F.lit("session").alias("op"),
        F.col("session_start").alias("win_start"),
        F.col("session_end").alias("win_end"),
        F.col("user_id").cast("string").alias("k"),
        F.col("n_events").alias("cnt"),
        null_d.alias("total_value"),
    )
    sl = c12_sliding_window(spark, sf_dir).select(
        F.lit("sliding").alias("op"),
        F.col("window_start").alias("win_start"),
        null_ts.alias("win_end"),
        F.col("event_type").alias("k"),
        F.col("cnt"),
        F.col("total_value"),
    )
    return t.unionByName(s).unionByName(sl)
