"""The Mirror: snapshot + continuous change apply, natively in Spark.

Collapses the reference's 10-container pipeline (UI → flow-api →
Temporal → flow-snapshot-worker → flow-worker → MinIO staging →
ClickHouse, SURVEY §3.3; docker-compose.yml:98-238) into one API:

    m = Mirror(spark, name="mirror_orders", schema="public",
               table="orders", key_cols=["id"],
               row_schema=ORDERS_SCHEMA, target_root=..., checkpoint_root=...)
    m.snapshot(source_df)                  # O-C1 initial load
    q = m.start(changes_dir)               # O-C2/C3/C5 streaming apply
    q.awaitTermination(); m.read_target()  # converged state

Target layout is ClickHouse-ReplacingMergeTree-shaped (monitor.ps1:664
system.parts; convergence :722-763) and is the right shape at 100 TB
because apply never does read-modify-write:

    <target_root>/<schema>_<table>/manifest/m-<v>.json  {base, folded}
    <target_root>/<schema>_<table>/base_g<v>/           base generation
    <target_root>/<schema>_<table>/delta/_batch=N/      appended change parts

- The manifest commits through commit.py, the protocol the text index
  uses: a record names the base generation dir and `folded`, the
  highest delta batch id folded into that base. snapshot() and
  compact() are its writers (writer lease, new generation dir, one
  compare-and-swap commit, one-cycle retention), so a published base
  is never renamed or deleted under a reader of the current record.
- foreachBatch writes each raw micro-batch (several versions of a key
  included) to its own delta part dir in one job, overwriting that dir
  alone → re-running a failed batch is idempotent (exactly-once per
  batch on top of checkpointed offsets, O-C8). As with
  ReplacingMergeTree inserts, dedup happens at read and compaction.
- read_target() merges on read: the record's base ∪ the delta batches
  above its folded id → max-version-wins, deletes filtered
  (operators.cdc.merge_changes) — the FINAL-query analog. One shuffle
  on the key, the unavoidable minimum for keyed upsert; AQE handles
  key skew. A re-run of a batch at or below `folded` is ignored: its
  events are already in the base.
- compact() folds the delta into a new base generation (the MergeTree
  background merge analog) so read amplification stays bounded.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import change_event_schema
from ..commit import (
    _commit_manifest,
    _read_manifest,
    _writer_lease,
    kept_manifests,
)
from ..operators.cdc import BASE_VERSION, merge_changes, target_table_name
from ..operators.metrics import sync_status
from ..session import hadoop_fs
from ..sources.changes import read_changes_stream


def _listed_ids(spark: SparkSession, path: str, prefix: str) -> list[int]:
    """Ascending ids N of the entries named `<prefix>N` directly under
    `path` ([] when it is absent). The listing crosses py4j as ONE
    string (a Scala ArraySeq's mkString) rather than three calls per
    entry: every read lists delta/."""
    fs, p, jvm = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(fs.listStatus(p))
    listing = jvm.scala.collection.mutable.ArraySeq.make(paths).mkString("\n")
    names = [q.rsplit("/", 1)[-1][len(prefix):] for q in listing.split("\n")]
    return sorted(int(n) for n in names if n.isdigit())


class Mirror:
    """One named CDC mirror for one table (README.md:85-121 create-mirror)."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        schema: str,
        table: str,
        key_cols: Sequence[str],
        row_schema: T.StructType,
        target_root: str,
        checkpoint_root: str,
        n_buckets: int = 0,
    ) -> None:
        self.spark = spark
        self.name = name
        self.key_cols = list(key_cols)
        self.row_schema = row_schema
        self.target_table = target_table_name(schema, table)
        self.target_dir = f"{target_root}/{self.target_table}"
        self.checkpoint = f"{checkpoint_root}/{name}"
        self._data_cols = [f.name for f in row_schema.fields]
        # n_buckets > 0: base/delta are dir-partitioned by a pk-hash
        # bucket, so point lookups and the merge shuffle prune to one
        # bucket's files (the SURVEY §4 pk-bucket layout)
        self.n_buckets = n_buckets

    def _bucket(self, keys):
        """The pk-hash bucket of `keys` — columns when writing, typed
        literals (hash(int32) != hash(int64)) when looking up, which
        Catalyst folds to a constant in the scan's PartitionFilters."""
        return F.pmod(F.hash(*keys), F.lit(self.n_buckets))

    # -- commit protocol (commit.py) ---------------------------------------
    def _manifest(self) -> dict:
        """The current commit record. Before the first commit there is
        no base and nothing is folded."""
        return _read_manifest(self.spark, self.target_dir) or {"v": 0, "folded": -1}

    def _commit_base(self, df: DataFrame, m: dict, folded: int) -> None:
        """Write `df` as the next base generation, commit a record
        naming it with `folded`, then prune. Caller holds the writer
        lease; the next writer overwrites or prunes an orphan left by a
        crash before the commit."""
        gen = f"base_g{int(m['v']) + 1}"
        self._write_base(df, f"{self.target_dir}/{gen}")
        _commit_manifest(
            self.spark, self.target_dir, dict(m, base=gen, folded=folded)
        )
        self._prune()

    def _prune(self) -> None:
        """Delete the base generations and the delta batches that
        neither of the two newest records reads: a batch is retired
        once the OLDER kept record has folded it, so a reader holding
        that record still finds every dir it reads."""
        kept = kept_manifests(self.spark, self.target_dir)
        if not kept:
            return
        keep = {r["base"] for r in kept}
        retired = int(kept[0]["folded"]) if len(kept) == 2 else -1
        fs, root, jvm = hadoop_fs(self.spark, self.target_dir)
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if name.startswith("base_g") and name not in keep:
                fs.delete(st.getPath(), True)
        for n in self._delta_batches():
            if n <= retired:
                d = f"{self.target_dir}/delta/_batch={n}"
                fs.delete(jvm.org.apache.hadoop.fs.Path(d), True)

    def _delta_batches(self) -> list[int]:
        """The batch ids that have a dir under delta/, ascending."""
        return _listed_ids(self.spark, f"{self.target_dir}/delta", "_batch=")

    # -- O-C1 snapshot -----------------------------------------------------
    def snapshot(self, source: DataFrame) -> None:
        """Initial full copy (flow-snapshot-worker analog): commits the
        source as a new base generation, leaving delta and the folded
        id as they are, so a re-snapshot is an idempotent overwrite.
        Snapshot rows carry the BASE_VERSION sentinel: every change
        event (which by mirror contract postdates the snapshot point)
        beats them."""
        with _writer_lease(self.spark, self.target_dir):
            m = self._manifest()
            self._commit_base(
                source.select(*self._data_cols).withColumn(
                    "_version", F.lit(BASE_VERSION).cast("long")
                ),
                m,
                int(m["folded"]),
            )

    def _write_base(self, df: DataFrame, path: str) -> None:
        if self.n_buckets:
            keys = [F.col(c) for c in self.key_cols]
            (
                df.select("*", self._bucket(keys).alias("_bucket"))
                .repartition("_bucket")
                .write.mode("overwrite")
                .partitionBy("_bucket")
                .parquet(path)
            )
        else:
            df.write.mode("overwrite").parquet(path)

    def _typed_lit(self, col: str, value):
        return F.lit(value).cast(self.row_schema[col].dataType)

    # -- pruned point lookup over the bucketed base ------------------------
    def lookup(self, **key_values) -> DataFrame:
        """Point lookup on the converged state. With n_buckets set, the
        base scan carries an explicit _bucket predicate, so it is
        partition-pruned to one bucket dir (PartitionFilters in the
        plan — verified by tests)."""
        return self._read_merged(key_values).select(*self._data_cols)

    # -- O-C2/C3/C5/C7/C8 streaming apply ---------------------------------
    def start(
        self,
        changes_dir: str,
        available_now: bool = True,
        processing_time: str | None = None,
        max_files_per_trigger: int | None = 1,
        on_batch=None,
    ):
        """Start the named streaming apply query. availableNow drains
        the backlog then stops (test/batch-catchup mode); a
        processing_time trigger gives the reference's paced continuous
        mode (insert.ps1:13 1 s delay).

        on_batch: optional callable(batch_df, batch_id) invoked AFTER
        the delta append of each micro-batch — the composition point
        for downstream maintenance driven by the same ordered feed
        (e.g. operators.search.text_index_apply_changes keeps a text
        index's membership converged with the mirror; pinned
        end-to-end in tests/test_mirror_index.py). It runs inside
        foreachBatch, so a raised error fails the batch and the
        checkpoint replays BOTH halves — the delta re-write is
        idempotent (deterministic path, per-dir overwrite) and the
        hook must be idempotent the same way (index apply is:
        tombstone + generation-ranked re-insert converges on
        replay).

        Raises RuntimeError when compaction has folded a batch id the
        checkpoint has not reached (a deleted or replaced checkpoint):
        the stream would restart at batch 0, and readers ignore every
        batch id at or below the folded one. resync() is the way back."""
        folded = int(self._manifest()["folded"])
        offsets = _listed_ids(self.spark, f"{self.checkpoint}/offsets", "")
        reached = max(offsets, default=-1)
        if folded > reached:
            raise RuntimeError(
                f"mirror {self.name!r} has folded delta batch {folded} but "
                f"its checkpoint has reached batch {reached}; its new "
                "batches would be ignored — run resync()"
            )
        stream = read_changes_stream(
            self.spark,
            changes_dir,
            change_event_schema(self.row_schema),
            max_files_per_trigger=max_files_per_trigger,
        )

        def _apply(batch, batch_id):
            self._apply_batch(batch, batch_id)
            if on_batch is not None:
                on_batch(batch, batch_id)

        writer = (
            stream.writeStream.queryName(self.name)
            .option("checkpointLocation", self.checkpoint)
            .foreachBatch(_apply)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time is not None:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body: write this micro-batch as it arrived to
        its own delta part, in one job. Deterministic per-batch path +
        per-dir overwrite = idempotent replay after failure. The part
        may hold several versions of a key; merge_changes ranks them
        at read and at compaction, as ReplacingMergeTree dedups only
        at merge and FINAL time."""
        batch.write.mode("overwrite").parquet(
            f"{self.target_dir}/delta/_batch={batch_id}"
        )

    def max_version(self) -> int:
        """Highest applied _version across base + delta (two bounded
        1-row aggs) — BASE_VERSION if only the snapshot exists. The
        sweeps stamp their synthetic events above it (and above their
        shared stamp floor) so they beat every already-applied row
        under max-version-wins."""
        m = self._manifest()
        parts = [
            df.select("_version")
            for df in (self._read_base(m), self._read_delta(m))
            if df is not None
        ]
        if not parts:
            return int(BASE_VERSION)
        allv = parts[0]
        for p in parts[1:]:
            allv = allv.unionByName(p)
        row = allv.agg(F.max("_version").alias("v")).collect()[0]
        return int(row["v"]) if row["v"] is not None else int(BASE_VERSION)

    # -- merged view (FINAL analog) ---------------------------------------
    def read_target(self) -> DataFrame:
        """Current converged state: base ∪ delta, max-version-wins."""
        return self._read_merged().select(*self._data_cols)

    def _read_merged(
        self,
        key_values: dict | None = None,
        m: dict | None = None,
        through: int | None = None,
    ) -> DataFrame:
        """The one read path behind read_target, lookup and compact:
        the base and unfolded delta of ONE commit record (the current
        one unless `m` is given) under operators.cdc.merge_changes,
        rows WITH their winning _version. key_values filters both sides
        to one key (and the base to its bucket dir); `through` caps the
        delta at a batch id."""
        m = m or self._manifest()
        cond = None
        for k, v in (key_values or {}).items():
            c = F.col(k) == self._typed_lit(k, v)
            cond = c if cond is None else cond & c
        base = self._read_base(m)
        if base is not None and cond is not None:
            if self.n_buckets:
                keys = [self._typed_lit(c, key_values[c]) for c in self.key_cols]
                base = base.filter(F.col("_bucket") == self._bucket(keys))
            base = base.filter(cond)
        if base is not None:
            base = base.select(*self._data_cols, "_version")
        delta = self._read_delta(m, through)
        if delta is None:
            if base is not None:
                return base
            return self.spark.createDataFrame(
                [],
                T.StructType(
                    list(self.row_schema.fields)
                    + [T.StructField("_version", T.LongType())]
                ),
            )
        if cond is not None:
            delta = delta.filter(cond)
        return merge_changes(base, delta, self.key_cols)

    def _refuse_while_active(self, action: str) -> None:
        """resync, evolve and compact rewrite what the apply stream
        reads or writes, so each refuses while that stream runs."""
        for q in self.spark.streams.active:
            if q.name == self.name:
                raise RuntimeError(
                    f"{action}() while streaming apply {self.name!r} is "
                    "active; stop the query first"
                )

    def resync(self, source: DataFrame) -> None:
        """Full mirror re-sync — the engine analog of the reference's
        'Reset Complete Environment' + recreate-mirror lifecycle
        (README.md:252-262) and PeerDB's resync: drop the converged
        target state AND the stream checkpoint, then re-snapshot.

        The next start() begins at batch 0 against the fresh base, so
        the change feed replays from its earliest retained offset;
        max-version-wins makes the replay converge regardless of how
        much of it predates the new snapshot. Refuses while the apply
        stream is active."""
        self._refuse_while_active("resync")
        for d in (self.target_dir, self.checkpoint):
            fs, p, _jvm = hadoop_fs(self.spark, d)
            fs.delete(p, True)
        self.snapshot(source)

    def evolve(self, new_row_schema: T.StructType) -> None:
        """Schema evolution WITHOUT resync: accept a
        widened row schema — every existing column keeps its name and
        type, new columns append as nullable — and keep all converged
        state and the stream checkpoint.

        Why this is enough: base/delta parquet on disk is never
        rewritten; reads go through the widened schema, so
        pre-evolution rows surface the new columns as NULL (the
        standard add-column semantics the reference's Postgres →
        ClickHouse pair would produce). The checkpoint's file offsets
        stay valid, so the next start() resumes exactly where the
        stream stopped and only new change files — which carry the new
        columns — are processed. The one restart is forced by Spark
        itself (a file source pins its schema at query start), which
        is why this refuses while the apply stream is active; the
        reference workflow (README.md:265-273 recreate-mirror) remains
        the cited behavior baseline for anything narrower than a
        superset (dropped/retyped columns still require resync)."""
        self._refuse_while_active("evolve")
        old = {f.name: f.dataType for f in self.row_schema.fields}
        new = {f.name: f.dataType for f in new_row_schema.fields}
        dropped = [n for n in old if n not in new]
        if dropped:
            raise ValueError(
                f"schema evolution cannot drop columns {dropped}; "
                "use resync() for narrowing changes"
            )
        retyped = [
            n for n, t in old.items() if n in new and new[n] != t
        ]
        if retyped:
            raise ValueError(
                f"schema evolution cannot retype columns {retyped}; "
                "use resync() for type changes"
            )
        # Appended columns MUST be nullable: pre-evolution
        # base/delta rows surface them as NULL, so a non-null
        # declaration would lie to every downstream consumer. Coerce
        # rather than reject — the VALUES are unchanged either way and
        # nullable=True is the only truthful declaration.
        appended_nonnull = [
            f.name
            for f in new_row_schema.fields
            if f.name not in old and not f.nullable
        ]
        if appended_nonnull:
            new_row_schema = T.StructType(
                [
                    T.StructField(f.name, f.dataType, True, f.metadata)
                    if f.name in appended_nonnull
                    else f
                    for f in new_row_schema.fields
                ]
            )
        self.row_schema = new_row_schema
        self._data_cols = [f.name for f in new_row_schema.fields]

    def compact(self) -> None:
        """Fold the delta into a new base generation (MergeTree
        background-merge analog). Refuses while this mirror's apply
        stream runs (a batch mid-write would be folded partially, and
        its completion ignored). Under the writer lease it lists the delta batch
        ids FIRST and folds exactly those up to the highest, so a batch
        landing later stays above `folded`. The new base keeps each
        row's winning _version, and one manifest commit publishes
        {base, folded}: readers see the old record or the new one. A
        crash at any step leaves a state the current record reads
        correctly; the next compact() finishes the prune."""
        self._refuse_while_active("compact")
        with _writer_lease(self.spark, self.target_dir):
            m = self._manifest()
            folded = max([int(m["folded"]), *self._delta_batches()])
            self._commit_base(
                self._read_merged(m=m, through=folded), m, folded
            )

    # -- content-checksum parity (beyond-reference hardening) ---------------
    def checksum_parity(self, source: DataFrame) -> DataFrame:
        """One row: row-count AND content-checksum comparison between
        the source and the converged target — the monitor's count-only
        parity (monitor.ps1:743) upgraded to catch value drift that
        leaves counts equal (a corrupted apply, a missed update).

        Checksum = DECIMAL sum over rows of the portable 60-bit md5
        hash of the canonicalized row (columns joined in declared
        order, nulls marked) — order-insensitive by construction, so
        it needs no sort and distributes as one partial-agg scan per
        side. Engine-portable like every declared hash: an external
        system (e.g. the real ClickHouse side) can compute the same
        sum with its own md5."""
        from ..functions.hashing import row_checksum

        def side_sum(df: DataFrame, alias: str):
            cs = row_checksum(self._data_cols)
            return df.agg(
                F.count(F.lit(1)).alias(f"{alias}_cnt"),
                F.coalesce(
                    F.sum(cs.cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias(f"{alias}_sum"),
            )

        src = side_sum(source.select(*self._data_cols), "src")
        tgt = side_sum(self.read_target(), "tgt")
        return src.crossJoin(tgt).select(
            F.lit(self.target_table).alias("table_name"),
            "src_cnt",
            "tgt_cnt",
            (
                (F.col("src_cnt") == F.col("tgt_cnt"))
                & (F.col("src_sum") == F.col("tgt_sum"))
            ).alias("in_sync"),
            F.col("src_sum").cast("string").alias("src_checksum"),
            F.col("tgt_sum").cast("string").alias("tgt_checksum"),
        )

    # -- O-D1 parity (monitor.ps1:743) -------------------------------------
    def parity(self, source: DataFrame) -> DataFrame:
        src = source.agg(F.count(F.lit(1)).alias("src_cnt"))
        tgt = self.read_target().agg(F.count(F.lit(1)).alias("tgt_cnt"))
        return (
            src.crossJoin(tgt)
            .select(
                F.lit(self.target_table).alias("table_name"),
                "src_cnt",
                "tgt_cnt",
                (F.col("src_cnt") - F.col("tgt_cnt")).alias("lag"),
            )
        )

    def _read_base(self, m: dict) -> DataFrame | None:
        if "base" not in m:
            return None
        fields = list(self.row_schema.fields) + [
            # per-row winning version (BASE_VERSION for snapshot rows)
            T.StructField("_version", T.LongType())
        ]
        if self.n_buckets:
            fields.append(T.StructField("_bucket", T.IntegerType()))
        return self.spark.read.schema(T.StructType(fields)).parquet(
            f"{self.target_dir}/{m['base']}"
        )

    def _read_delta(
        self, m: dict | None = None, through: int | None = None
    ) -> DataFrame | None:
        """The delta batches above the record's folded id (and at or
        below `through`), or None when there are none. delta/ is read
        as one dir partitioned by _batch, so the bounds are partition
        filters and folded batches are never opened. _batch is in the
        schema so the filter resolves even while the only batch dir is
        still being written. A read error raises."""
        m = m or self._manifest()
        lo = int(m["folded"])
        if not any(
            lo < n and (through is None or n <= through)
            for n in self._delta_batches()
        ):
            return None
        batch = F.col("_batch")
        keep = batch > lo if through is None else (batch > lo) & (batch <= through)
        schema = change_event_schema(self.row_schema).add("_batch", T.LongType())
        return (
            self.spark.read.schema(schema)
            .parquet(f"{self.target_dir}/delta")
            .filter(keep)
            .drop("_batch")
        )


class MirrorSet:
    """Multi-table mirror (README.md:120: table selection in one
    mirror; the reference replicates customers/products/orders
    together). One Mirror per table, shared warehouse/checkpoint
    roots, combined parity report — the monitor's per-table flow
    analysis (monitor.ps1:703-794)."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        schema: str,
        tables: dict[str, tuple[Sequence[str], T.StructType]],
        target_root: str,
        checkpoint_root: str,
        n_buckets: int = 0,
    ) -> None:
        self.mirrors = {
            table: Mirror(
                spark,
                name=f"{name}_{table}",
                schema=schema,
                table=table,
                key_cols=key_cols,
                row_schema=row_schema,
                target_root=target_root,
                checkpoint_root=checkpoint_root,
                n_buckets=n_buckets,
            )
            for table, (key_cols, row_schema) in tables.items()
        }

    def snapshot_all(self, sources: dict[str, DataFrame]) -> None:
        for table, df in sources.items():
            self.mirrors[table].snapshot(df)

    def start_all(self, changes_dirs: dict[str, str], **kw) -> list:
        return [
            self.mirrors[t].start(d, **kw) for t, d in changes_dirs.items()
        ]

    def parity_report(self, sources: dict[str, DataFrame]) -> DataFrame:
        """Per-table lag + classification (monitor.ps1:743-755)."""
        out = None
        for table, src in sources.items():
            p = self.mirrors[table].parity(src)
            out = p if out is None else out.unionByName(p)
        assert out is not None
        return out.select("*", sync_status().alias("status"))


# -- O-C9 stream status introspection (README.md:238-241; monitor §4) ------

STATUS_SCHEMA = T.StructType(
    [
        T.StructField("slot_name", T.StringType()),
        T.StructField("query_id", T.StringType()),
        T.StructField("active", T.BooleanType()),
        T.StructField("last_batch_id", T.LongType()),
        T.StructField("input_rows", T.LongType()),
        T.StructField("batches_seen", T.LongType()),
        # stateful-operator observability (ClickHouse system.metrics /
        # pg_stat_replication analog): current state-store rows and
        # rows discarded as too-late across the query's progress
        T.StructField("state_rows", T.LongType()),
        T.StructField("late_rows_dropped", T.LongType()),
    ]
)


def stream_status(spark: SparkSession, queries=None) -> DataFrame:
    """pg_replication_slots analog (README.md:240, O-R14/O-C9): one row
    per streaming query with its durable progress. Pass explicit query
    handles to include finished (drained availableNow) queries."""
    qs = list(queries) if queries is not None else list(spark.streams.active)
    rows = []
    for q in qs:
        prog = q.recentProgress
        last = prog[-1] if prog else None
        state_rows = sum(
            int(op.get("numRowsTotal", 0))
            for op in (last or {}).get("stateOperators", [])
        )
        late = sum(
            int(op.get("numRowsDroppedByWatermark", 0))
            for p in prog
            for op in p.get("stateOperators", [])
        )
        rows.append(
            (
                q.name,
                str(q.id),
                q.isActive,
                int(last["batchId"]) if last else -1,
                int(sum(p["numInputRows"] for p in prog)),
                len(prog),
                int(state_rows),
                int(late),
            )
        )
    from ..functions.values import values_frame

    return values_frame(spark, rows, STATUS_SCHEMA)


# -- O-C10 watermarked windowed aggregation over the change stream ---------

def windowed_op_counts(
    stream: DataFrame,
    ts_col: str = "_ts",
    watermark: str = "10 seconds",
    window: str = "1 minute",
) -> DataFrame:
    """Late-data-tolerant per-op throughput over event time — the
    streaming carrier for the monitor's lag/catch-up analytics
    (peerdb_config.yaml:36-37). Watermark bounds state (SURVEY §4 WAL
    bound analog)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col("_op"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("window_start"), "_op", "cnt")
    )
