"""Dataflow analytics the reference computes client-side in PowerShell
(SURVEY.md §2.2) — re-expressed as distributed DataFrame computations.

The reference parses psql/docker stdout with regexes and loops over the
rows in PowerShell (monitor.ps1 §§1-10, insert.ps1 Show-Results); here
the same computations run inside Spark: joins instead of dict lookups,
window functions instead of array slicing, F.when chains instead of
if/else ladders. All declared queries run on the driver's testdata —
`events` plays the per-batch metrics log, `documents` plays file/log
inventories, `nation`/`customer` play expected-vs-actual inventories.

Determinism: doubles are aggregated via decimal casts (functions.numeric),
every LIMIT has a total ORDER BY, ratios are rounded then cast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import davg, davg_sql, dsum, dsum_sql, fround, fround_sql, isum_sql
from ..registry import declare

# ---------------------------------------------------------------------------
# O-D1..O-D4 — parity / sync-status / sync-% / efficiency banding
# (monitor.ps1:743,745-755,691,770,775-786)
#
# Source/target pair simulated deterministically from `events`: the
# "target" replica is missing every row whose event_id % 97 == 0
# (a fixed, reproducible lag). Per-group counts by event_type stand in
# for per-table counts.
# ---------------------------------------------------------------------------

_PARITY_SQL_CTE = """
WITH src AS (
  SELECT event_type AS table_name, COUNT(*) AS src_cnt
  FROM events GROUP BY event_type
), tgt AS (
  SELECT event_type AS table_name, COUNT(*) AS tgt_cnt
  FROM events WHERE event_id % 97 <> 0 GROUP BY event_type
), parity AS (
  SELECT src.table_name,
         src.src_cnt,
         COALESCE(tgt.tgt_cnt, 0) AS tgt_cnt,
         src.src_cnt - COALESCE(tgt.tgt_cnt, 0) AS lag
  FROM src LEFT JOIN tgt ON src.table_name = tgt.table_name
)
"""


def sync_status() -> F.Column:
    """The sync-status policy over a `lag` column (monitor.ps1:745-755):
    SYNCED at zero lag, NEAR_SYNC within 5 rows either way, else LAG.
    Shared by d1_parity_report and MirrorSet.parity_report; d1's
    oracle SQL spells the same thresholds as the reference does."""
    return (
        F.when(F.col("lag") == 0, "SYNCED")
        .when(F.abs("lag") <= 5, "NEAR_SYNC")
        .otherwise("LAG")
    )


def _parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    src = ev.groupBy(F.col("event_type").alias("table_name")).agg(
        F.count(F.lit(1)).alias("src_cnt")
    )
    tgt = (
        ev.filter(F.col("event_id") % 97 != 0)
        .groupBy(F.col("event_type").alias("table_name"))
        .agg(F.count(F.lit(1)).alias("tgt_cnt"))
    )
    # per-table counts are tiny aggregates; the join after them is
    # broadcast-able by AQE regardless of source size
    return (
        src.join(tgt, "table_name", "left")
        .withColumn("tgt_cnt", F.coalesce("tgt_cnt", F.lit(0)))
        .withColumn("lag", F.col("src_cnt") - F.col("tgt_cnt"))
    )


@declare(
    "d1_parity_report",
    _PARITY_SQL_CTE
    + f"""
SELECT table_name, src_cnt, tgt_cnt, lag,
       CASE WHEN lag = 0 THEN 'SYNCED'
            WHEN ABS(lag) <= 5 THEN 'NEAR_SYNC'
            ELSE 'LAG' END AS status,
       CASE WHEN src_cnt > 0
            THEN {fround_sql('CAST(tgt_cnt AS DOUBLE) / src_cnt * 100', 1)}
            ELSE 0.0 END AS sync_pct,
       CASE WHEN src_cnt > 0
             AND CAST(tgt_cnt AS DOUBLE) / src_cnt * 100 >= 95 THEN 'green'
            WHEN src_cnt > 0
             AND CAST(tgt_cnt AS DOUBLE) / src_cnt * 100 >= 80 THEN 'yellow'
            ELSE 'red' END AS band
FROM parity
""",
    doc="O-D1 parity lag (monitor.ps1:743) + O-D2 sync-status "
    "thresholds (:745-755) + O-D3 sync percentage with zero-guard "
    "(:691,770) + O-D4 efficiency banding (:775-786,911-912). One "
    "report, one scan: the three derived columns are row-local "
    "expressions over the same per-table parity aggregate, so merging "
    "them removes three redundant source scans the split queries paid",
)
def d1_parity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    pct_raw = F.col("tgt_cnt").cast("double") / F.col("src_cnt") * 100
    pct_ok = F.col("src_cnt") > 0
    return _parity(spark, sf_dir).select(
        "table_name",
        "src_cnt",
        "tgt_cnt",
        "lag",
        sync_status().alias("status"),
        F.when(pct_ok, fround(pct_raw, 1)).otherwise(F.lit(0.0)).alias("sync_pct"),
        F.when(pct_ok & (pct_raw >= 95), "green")
        .when(pct_ok & (pct_raw >= 80), "yellow")
        .otherwise("red")
        .alias("band"),
    )


# ---------------------------------------------------------------------------
# O-D5..O-D7 — throughput / success rate / batch-duration stats
# (insert.ps1:359-372)
# ---------------------------------------------------------------------------


def ntile_by_rank(
    rank: F.Column, total: F.Column, n_tiles: int
) -> F.Column:
    """NTILE(n_tiles) over a UNIQUE order key as a map-side expression
    of (1-based global rank, total row count) — the distributed twin
    of `Window.orderBy(...)` + `F.ntile` (which funnels the whole
    input through ONE task). ANSI NTILE semantics: the first
    total % n_tiles tiles get floor(total/n_tiles)+1 rows, the rest
    floor(total/n_tiles); with fewer rows than tiles, row r is alone
    in tile r. Closed form: ranks up to rem*(base+1) fall in the
    big tiles (tile = ceil(rank/(base+1))), the rest continue in
    base-sized tiles. The base == 0 case never reaches the else
    branch (rem == total there, so every rank is a big-tile rank)."""
    base = F.floor(total / n_tiles)
    rem = total % n_tiles
    big_span = rem * (base + 1)
    return F.when(
        rank <= big_span, F.ceil(rank / (base + 1))
    ).otherwise(rem + F.ceil((rank - big_span) / base)).cast("int")


@declare(
    "d5_run_summary",
    f"""
WITH tiled AS (
  SELECT event_id, event_type, value, ts,
         NTILE(3) OVER (ORDER BY event_id) AS tile
  FROM events
), agg AS (
  SELECT
    {fround_sql(
        "CAST(COUNT(*) AS DOUBLE) / "
        "NULLIF(date_diff('second', MIN(ts), MAX(ts)), 0)", 2)}
      AS ops_per_sec,
    {fround_sql(
        "100.0 * CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)"
        " AS BIGINT) / NULLIF(COUNT(*), 0)", 2)} AS success_pct,
    {davg_sql('CASE WHEN tile = 1 THEN value END')} AS early_avg,
    {davg_sql('CASE WHEN tile = 3 THEN value END')} AS late_avg
  FROM tiled
), peak AS (
  SELECT event_id AS peak_event_id, value AS peak_value
  FROM events ORDER BY value DESC, event_id ASC LIMIT 1
)
SELECT agg.ops_per_sec, agg.success_pct,
       peak.peak_event_id, peak.peak_value,
       agg.early_avg, agg.late_avg,
       agg.late_avg - agg.early_avg AS trend
FROM agg CROSS JOIN peak
""",
    doc="O-D5 throughput ops/duration (insert.ps1:364-366) + O-D6 "
    "success rate with zero-guard (:359-362) + O-D8 peak batch "
    "(monitor.ps1:1203-1204, min_by-struct argmax with event_id "
    "tiebreak) + O-D9 early-vs-late thirds trend (:1215-1224, NTILE "
    "window). All four are aggregates over the same events log, so one "
    "pass computes the whole run summary the reference assembles over "
    "four separate loops",
)
def d5_run_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_bytes
    from ..plans.layout import global_rank, reuse

    ev = load_table(spark, sf_dir, "events")
    # NTILE(3) OVER (ORDER BY event_id) semantics, distributed
    # (VERDICT r11 #3): the previous unpartitioned ntile window was a
    # single-partition sort of the full events log at 100 TB.
    # global_rank computes the rank via range-bucket + local rank +
    # offset join (the shuffle_corpus pattern) and rides n along, so
    # the ntile_by_rank tile assignment is map-side.
    # reuse() (r13, VERDICT r12 #3): global_rank's bounds job plus the
    # main job's two legs (ranking window + counts broadcast subtree)
    # reference this projection three times — share one scan. Size
    # hint = on-disk events bytes x3 (4 of 6 columns, decompressed),
    # so a corpus-scale events log takes the materialize path per
    # layout policy instead of pinning executor storage memory.
    ev_bytes = table_bytes(sf_dir, "events")
    # known_bounds from parquet footer stats (r18 opt): drops the
    # bounds agg + broadcast-cross-join from the ranking plan; exact
    # same min/max the agg would compute, so ranks are byte-identical
    from ..catalog import table_column_minmax

    ranked = global_rank(
        reuse(
            ev.select("event_id", "event_type", "value", "ts"),
            size_hint_bytes=ev_bytes * 3 if ev_bytes else None,
        ),
        "event_id",
        rank_col="_grk",
        total_col="_n",
        known_bounds=table_column_minmax(sf_dir, "events", "event_id"),
    )
    tiled = ranked.select(
        "event_id",
        "event_type",
        "value",
        "ts",
        ntile_by_rank(F.col("_grk"), F.col("_n"), 3).alias("tile"),
    )
    secs = F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
    ok = F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0))
    summary = tiled.agg(
        fround(
            F.count(F.lit(1)).cast("double") / F.nullif(secs, F.lit(0)), 2
        ).alias("ops_per_sec"),
        fround(
            100.0 * ok / F.nullif(F.count(F.lit(1)), F.lit(0)), 2
        ).alias("success_pct"),
        # argmax with deterministic tiebreak: lexicographic min of
        # (-value, event_id) = max value, then smallest event_id
        F.expr(
            "min_by(event_id, struct(-value, event_id))"
        ).alias("peak_event_id"),
        F.max("value").alias("peak_value"),
        davg(F.when(F.col("tile") == 1, F.col("value"))).alias("early_avg"),
        davg(F.when(F.col("tile") == 3, F.col("value"))).alias("late_avg"),
    )
    return summary.select(
        "ops_per_sec",
        "success_pct",
        "peak_event_id",
        "peak_value",
        "early_avg",
        "late_avg",
        (F.col("late_avg") - F.col("early_avg")).alias("trend"),
    )


@declare(
    "d7_batch_stats",
    f"""
SELECT event_type,
       {davg_sql('value')} AS avg_val,
       MAX(value) AS max_val,
       MIN(value) AS min_val
FROM events GROUP BY event_type
""",
    doc="O-D7 AVG/MAX/MIN of batch durations (insert.ps1:370-372); "
    "decimal-sum average for cross-engine determinism",
)
def d7_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        davg("value").alias("avg_val"),
        F.max("value").alias("max_val"),
        F.min("value").alias("min_val"),
    )


# ---------------------------------------------------------------------------
# O-D8..O-D11 — rankings, trends, rollups, running aggregates
# (monitor.ps1:1203-1224,1153-1197; insert.ps1:328-334)
# ---------------------------------------------------------------------------


@declare(
    "d10_batch_rollup",
    f"""
SELECT event_id // 100 AS batch,
       {dsum_sql('value')} AS total_cpu,
       COUNT(*) AS n_containers,
       {davg_sql('value')} AS avg_cpu
FROM events GROUP BY batch
""",
    doc="O-D10 per-batch grouped resource rollup: sum CPU / count / avg "
    "per container (monitor.ps1:1153-1197); batch = event_id div 100",
)
def d10_batch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.expr("event_id div 100").alias("batch"))
        .agg(
            dsum("value").alias("total_cpu"),
            F.count(F.lit(1)).alias("n_containers"),
            davg("value").alias("avg_cpu"),
        )
    )


@declare(
    "d11_running_avg",
    f"""
SELECT event_id, user_id,
       {fround_sql(
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)"
        " / ROW_NUMBER() OVER w", 4)} AS running_avg
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    doc="O-D11 running average every batch (insert.ps1:328-334). "
    "Decimal running sum / row_number keeps it order-insensitive; "
    "partitioned by user so the window parallelizes at scale",
)
def d11_running_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running_sum = F.sum(F.col("value").cast("decimal(18,2)")).over(w)
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy("event_id")
    )
    return ev.select(
        "event_id",
        "user_id",
        fround(running_sum.cast("double") / rn, 4).alias("running_avg"),
    )


# ---------------------------------------------------------------------------
# O-D13..O-D15 — date arithmetic, regex parsing, unit normalization
# (insert.ps1:284; monitor.ps1:15-64,1167-1180). O-D12 (synthetic
# generation) is relational.synth_batch, declared via r11_batched_insert.
# ---------------------------------------------------------------------------


def date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-D13 date arithmetic today - rand(0..30) days formatted
    yyyy-MM-dd (insert.ps1:284); offset made deterministic (key % 30)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(
            F.date_sub(
                F.to_date("o_orderdate"), (F.col("o_orderkey") % 30).cast("int")
            ),
            "yyyy-MM-dd",
        ).alias("back_date"),
    )


def regex_extract_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-D14 regex extraction from log-ish text (insert.ps1:98-99,296;
    monitor.ps1:354,395,811-818): parse the props JSON-ish string with
    a capture group, log-as-table pattern."""
    ev = load_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    return ev.select(
        "event_id",
        F.nullif(k, F.lit("")).cast("int").alias("k_val"),
    )


# Unit-normalization CASE ladder (monitor.ps1:15-49 Convert-ToKiB).
# Factors are exact powers of two so double arithmetic is exact.
_UNIT_FACTORS = {"B": 1.0 / 1024, "KiB": 1.0, "MiB": 1024.0, "GiB": 1048576.0}


def to_kib(num: F.Column, unit: F.Column) -> F.Column:
    """Normalize (numeric, unit-string) to KiB — engine analog of
    Convert-ToKiB (monitor.ps1:15-49)."""
    expr = F.lit(None).cast("double")
    chain = None
    for u, f in _UNIT_FACTORS.items():
        cond = unit == u
        chain = F.when(cond, num * f) if chain is None else chain.when(cond, num * f)
    return chain.otherwise(expr)


def unit_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-D15 unit normalization to KiB: string parse + CASE ladder
    (monitor.ps1:15-64,1175-1180). mem strings synthesized
    deterministically from documents(n_chars, lang), then parsed
    back."""
    docs = load_table(spark, sf_dir, "documents")
    unit = (
        F.when(F.col("lang") == "es", "MiB")
        .when(F.col("lang") == "de", "KiB")
        .when(F.col("lang") == "zh", "GiB")
        .otherwise("B")
    )
    mem = docs.select(
        "doc_id",
        F.concat(F.col("n_chars").cast("string"), unit).alias("mem_str"),
    )
    num = F.regexp_extract("mem_str", r"([0-9.]+)", 1).cast("double")
    parsed_unit = F.regexp_extract("mem_str", r"[0-9.]+([A-Za-z]+)", 1)
    return mem.select(
        "doc_id",
        "mem_str",
        fround(to_kib(num, parsed_unit), 3).alias("mem_kib"),
    )


_D13_SQL = r"""
SELECT 'date_arith' AS op, o_orderkey AS id, back_date AS s,
       CAST(NULL AS DOUBLE) AS v
FROM (
  SELECT o_orderkey,
         strftime(CAST(CAST(o_orderdate AS DATE)
                       - (o_orderkey % 30) * INTERVAL 1 DAY AS DATE),
                  '%Y-%m-%d') AS back_date
  FROM orders
)
UNION ALL
SELECT 'regex_extract' AS op, event_id AS id, CAST(NULL AS VARCHAR) AS s,
       CAST(CAST(NULLIF(regexp_extract(props, '"k":\s*(\d+)', 1), '')
            AS INT) AS DOUBLE) AS v
FROM events
UNION ALL
SELECT 'unit_normalize' AS op, doc_id AS id, mem_str AS s, {mem_kib} AS v
FROM (
  SELECT doc_id,
         CONCAT(CAST(n_chars AS VARCHAR),
                CASE WHEN lang = 'es' THEN 'MiB'
                     WHEN lang = 'de' THEN 'KiB'
                     WHEN lang = 'zh' THEN 'GiB'
                     ELSE 'B' END) AS mem_str
  FROM documents
)
""".format(
    mem_kib=fround_sql(
        '''CAST(regexp_extract(mem_str, '([0-9.]+)', 1) AS DOUBLE) *
            CASE regexp_extract(mem_str, '[0-9.]+([A-Za-z]+)', 1)
                 WHEN 'B'   THEN 1.0/1024
                 WHEN 'KiB' THEN 1.0
                 WHEN 'MiB' THEN 1024.0
                 WHEN 'GiB' THEN 1048576.0
            END''',
        3,
    )
)


@declare(
    "d13_transforms",
    _D13_SQL,
    doc="O-D13 + O-D14 + O-D15 (merged late r4 to free declared slots "
    "for the x7c/x7d pipeline promotions; the d16 merge pattern): "
    "date arithmetic (orders), regex extraction (events props), and "
    "unit normalization to KiB (documents), as one op-labeled union "
    "with schema (op, id, s, v). All three are row-local single-scan "
    "transforms; each branch keeps its exact pre-merge expressions.",
)
def d13_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d13 = date_arith(spark, sf_dir).select(
        F.lit("date_arith").alias("op"),
        F.col("o_orderkey").alias("id"),
        F.col("back_date").alias("s"),
        F.lit(None).cast("double").alias("v"),
    )
    d14 = regex_extract_kv(spark, sf_dir).select(
        F.lit("regex_extract").alias("op"),
        F.col("event_id").alias("id"),
        F.lit(None).cast("string").alias("s"),
        F.col("k_val").cast("double").alias("v"),
    )
    d15 = unit_normalize(spark, sf_dir).select(
        F.lit("unit_normalize").alias("op"),
        F.col("doc_id").alias("id"),
        F.col("mem_str").alias("s"),
        F.col("mem_kib").alias("v"),
    )
    return d13.unionByName(d14).unionByName(d15)


# ---------------------------------------------------------------------------
# O-D16..O-D20 — dedup-first-seen, latest-by-rank, head/tail sampling,
# expected-vs-actual classification, error top-N
# (monitor.ps1:449-450,141-145,375-379,867-913; insert.ps1:379-384)
# ---------------------------------------------------------------------------


def first_seen(df: DataFrame, key_col: str, order_col: str) -> DataFrame:
    """O-D16: deterministic dropDuplicates — first row per key by an
    explicit order (monitor.ps1:449-450,487-490)."""
    rn = F.row_number().over(Window.partitionBy(key_col).orderBy(order_col))
    return df.withColumn("_rn", rn).filter(F.col("_rn") == 1).drop("_rn")


@declare(
    "d16_rank_ops",
    """
SELECT 'first_seen' AS op, user_id AS id1, event_id AS id2,
       event_type AS tag
FROM (
  SELECT user_id, event_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
) WHERE rn = 1
UNION ALL
SELECT 'latest_file' AS op, doc_id AS id1, n_chars AS id2,
       CAST(NULL AS VARCHAR) AS tag
FROM (
  SELECT doc_id, n_chars FROM documents
  ORDER BY n_chars DESC, doc_id ASC LIMIT 1
)
UNION ALL
SELECT 'head_tail' AS op, event_id AS id1, CAST(NULL AS BIGINT) AS id2,
       event_type AS tag
FROM (
  SELECT event_id, event_type,
         ROW_NUMBER() OVER (ORDER BY event_id ASC) AS rn_head,
         ROW_NUMBER() OVER (ORDER BY event_id DESC) AS rn_tail
  FROM events
) WHERE rn_head <= 5 OR rn_tail <= 5
""",
    doc="O-D16 + O-D17 + O-D18 (merged r4 to free declared slots for "
    "the substring-dedup / LM-perplexity promotions; same op-labeled "
    "union pattern as r11): first-seen dedup via row_number==1 "
    "(monitor.ps1:449-450,487-490), file ranking by mtime desc head-1 "
    "(monitor.ps1:141-145,215-216; n_chars plays mtime), and "
    "head-and-tail sampling first-5 + last-5 (monitor.ps1:375-379). "
    "All three are rank/window ops; each branch keeps its exact "
    "pre-merge plan shape.",
)
def d16_rank_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    fs = first_seen(
        ev.select("user_id", "event_id", "event_type"),
        "user_id",
        "event_id",
    ).select(
        F.lit("first_seen").alias("op"),
        F.col("user_id").alias("id1"),
        F.col("event_id").alias("id2"),
        F.col("event_type").alias("tag"),
    )
    latest = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .limit(1)
        .select(
            F.lit("latest_file").alias("op"),
            F.col("doc_id").alias("id1"),
            F.col("n_chars").cast("long").alias("id2"),
            F.lit(None).cast("string").alias("tag"),
        )
    )
    # Head/tail via distributed top-k (VERDICT r11 #1): orderBy+limit
    # compiles to TakeOrderedAndProject — each partition keeps a local
    # 5, only 5 rows per partition move — where the previous pair of
    # UNPARTITIONED row_number windows was two single-partition sorts
    # of the full events log at 100 TB. A row can be in both head and
    # tail when the table has <=10 rows (the original OR-filter emits
    # it once), so the union is de-duplicated — over <=10 rows.
    ht_cols = ev.select("event_id", "event_type")
    head = ht_cols.orderBy(F.asc("event_id")).limit(5)
    tail = ht_cols.orderBy(F.desc("event_id")).limit(5)
    ht = (
        head.unionByName(tail)
        .distinct()
        .select(
            F.lit("head_tail").alias("op"),
            F.col("event_id").alias("id1"),
            F.lit(None).cast("long").alias("id2"),
            F.col("event_type").alias("tag"),
        )
    )
    return fs.unionByName(latest).unionByName(ht)


def d19_container_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    present = (
        load_table(spark, sf_dir, "customer").select("c_nationkey").distinct()
    )
    joined = nation.join(
        F.broadcast(present),
        nation.n_nationkey == present.c_nationkey,
        "left",
    )
    health = joined.agg(
        fround(
            100.0 * F.count("c_nationkey") / F.count(F.lit(1)), 1
        ).alias("health_pct")
    )
    return joined.crossJoin(F.broadcast(health)).select(
        F.col("n_name").alias("container"),
        F.when(F.col("c_nationkey").isNull(), "DOWN")
        .otherwise("RUNNING")
        .alias("status"),
        "health_pct",
    )


def d20_error_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select("event_id", "event_type", "value")
        .orderBy(F.asc("event_id"))
        .limit(3)
    )


@declare(
    "d19_monitor_ops",
    f"""
WITH health AS (
  SELECT n.n_name AS name,
         CASE WHEN c.c_nationkey IS NULL THEN 'DOWN'
              ELSE 'RUNNING' END AS tag,
         {fround_sql(
          '100.0 * COUNT(c.c_nationkey) OVER () / COUNT(*) OVER ()', 1)}
           AS val
  FROM nation n
  LEFT JOIN (SELECT DISTINCT c_nationkey FROM customer) c
    ON n.n_nationkey = c.c_nationkey
), errors AS (
  SELECT event_id, event_type, value FROM events
  WHERE event_type = 'error' ORDER BY event_id ASC LIMIT 3
)
SELECT 'container_health' AS op, name, tag, val,
       CAST(NULL AS BIGINT) AS id1
FROM health
UNION ALL
SELECT 'error_top3', CAST(NULL AS VARCHAR), event_type,
       CAST(value AS DOUBLE), event_id
FROM errors
""",
    doc="O-D19 + O-D20 monitor ops, op-labeled union (r6 merge — "
    "frees a declared slot for the x9b search promotion; same "
    "consolidation pattern as d13-d15/d16-d18/c10-c12): "
    "op='container_health' is the expected-vs-actual existence "
    "check — per-container RUNNING/DOWN (monitor.ps1:867-913) with "
    "the fleet health percentage riding along as a column (Spark: "
    "broadcast 1-row aggregate crossed onto the rows, DuckDB: "
    "COUNT() OVER ()); op='error_top3' is the first-3-errors view "
    "(insert.ps1:379-384), total ORDER BY event_id under the LIMIT",
)
def d19_monitor_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    health = d19_container_health(spark, sf_dir).select(
        F.lit("container_health").alias("op"),
        F.col("container").alias("name"),
        F.col("status").alias("tag"),
        F.col("health_pct").alias("val"),
        F.lit(None).cast("long").alias("id1"),
    )
    errors = d20_error_top3(spark, sf_dir).select(
        F.lit("error_top3").alias("op"),
        F.lit(None).cast("string").alias("name"),
        F.col("event_type").alias("tag"),
        F.col("value").cast("double").alias("val"),
        F.col("event_id").alias("id1"),
    )
    return health.unionByName(errors)
