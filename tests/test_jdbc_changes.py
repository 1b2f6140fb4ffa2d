"""Incremental JDBC change source: poll a versioned change table
(Derby — the container's only real JDBC peer) into the change-feed
spool and converge it into a Mirror target through the streaming
apply, exactly-once across poller AND stream restarts.

This closes the engine's last semantic gap vs the reference: tailing
an ordered WAL-shaped feed from a live relational peer
(postgresql.conf:9-14 wal_level=logical; README.md:265-273) instead
of only reading pre-spooled files.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import write_jdbc
from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
    JdbcChangePoller,
)
from peerdb_cdc_psql_clickhouse_spark.streaming.mirror import Mirror

ROW_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)

ENVELOPE = "(_op string, _version long, _ts timestamp, entity_id long, val string)"

T0 = dt.datetime(2026, 1, 1)


@pytest.fixture()
def derby_url(spark, tmp_path):
    url = f"jdbc:derby:{tmp_path}/srcdb;create=true"
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.derby.iapi.jdbc.AutoloadedDriver"
        )
    except Exception:
        pytest.skip("Derby embedded JDBC driver not on the classpath")
    return url


def _events(spark, rows):
    schema = T.StructType(
        [
            T.StructField("_op", T.StringType()),
            T.StructField("_version", T.LongType()),
            T.StructField("_ts", T.TimestampType()),
            T.StructField("entity_id", T.LongType()),
            T.StructField("val", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _mirror(spark, tmp_path) -> Mirror:
    return Mirror(
        spark,
        name="jdbc_poll_mirror",
        schema="public",
        table="outbox_t",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "warehouse"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )


def _poller(derby_url, tmp_path) -> JdbcChangePoller:
    return JdbcChangePoller(
        url=derby_url,
        table="outbox",
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "spool"),
        cursor_path=str(tmp_path / "cursor.json"),
    )


def _drain(mirror: Mirror, spool: str) -> None:
    q = mirror.start(spool)
    q.awaitTermination(120)


def _state(mirror: Mirror) -> dict[int, str]:
    return {
        int(r["entity_id"]): r["val"]
        for r in mirror.read_target().collect()
    }


def test_poll_convergence_and_restart_exactly_once(spark, derby_url, tmp_path):
    """Insert → poll → stream-apply converges; more inserts + a FRESH
    poller instance (process restart: cursor read back from disk) only
    transfers the suffix; the mirror converges to the latest state and
    no batch is applied twice."""
    write_jdbc(
        _events(
            spark,
            [
                ("insert", 1, T0, 1, "a"),
                ("insert", 2, T0, 2, "b"),
                ("update", 3, T0, 1, "a2"),
            ],
        ),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    poller = _poller(derby_url, tmp_path)
    m = _mirror(spark, tmp_path)
    spool = str(tmp_path / "spool")

    assert poller.poll_once(spark) == 3
    _drain(m, spool)
    assert _state(m) == {1: "a2", 2: "b"}
    assert poller.state() == {"cursor": 3, "batch_seq": 1}

    # source grows; a NEW poller (restart) resumes from the persisted
    # cursor and fetches only the 2-row suffix
    write_jdbc(
        _events(
            spark,
            [("delete", 4, T0, 2, ""), ("insert", 5, T0, 3, "c")],
        ),
        derby_url,
        "outbox",
    )
    poller2 = _poller(derby_url, tmp_path)
    assert poller2.poll_once(spark) == 2
    _drain(m, spool)  # same checkpoint: only the new batch is applied
    assert _state(m) == {1: "a2", 3: "c"}
    assert poller2.state() == {"cursor": 5, "batch_seq": 2}

    # idle poll: nothing fetched, cursor/seq unmoved, state stable
    assert poller2.poll_once(spark) == 0
    assert poller2.state() == {"cursor": 5, "batch_seq": 2}
    _drain(m, spool)
    assert _state(m) == {1: "a2", 3: "c"}


def test_poll_once_runs_one_job_per_poll(spark, derby_url, tmp_path):
    """A poll's count and cursor are observed on the stage write, so a
    non-empty poll and an empty one each run ONE Spark job (the write)
    and leave exactly the rows, cursor and batch dirs a read-back of
    the stage would: the full batch in slot 0, then nothing."""
    import glob

    from bench import timed

    write_jdbc(
        _events(
            spark,
            [("insert", 7, T0, 1, "a"), ("update", 9, T0, 1, "a2")],
        ),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    poller = _poller(derby_url, tmp_path)
    spool = str(tmp_path / "spool")
    rec = timed(spark, lambda: poller.poll_once(spark), "poll")
    assert (rec["value"], rec["jobs"]) == (2, 1)
    assert poller.state() == {"cursor": 9, "batch_seq": 1}
    assert glob.glob(f"{spool}/_batch=*") == [f"{spool}/_batch=0"]
    assert spark.read.parquet(f"{spool}/_batch=0").count() == 2

    rec = timed(spark, lambda: poller.poll_once(spark), "poll")
    assert (rec["value"], rec["jobs"]) == (0, 1)
    assert poller.state() == {"cursor": 9, "batch_seq": 1}
    assert glob.glob(f"{spool}/_batch=*") == [f"{spool}/_batch=0"]
    assert glob.glob(f"{spool}/.poll_stage") == []


def test_pump_drains_backlog_across_polls(spark, derby_url, tmp_path):
    """pump() is the catchup loop: polls until one empty poll, each
    poll its own spool batch; total equals the backlog exactly."""
    write_jdbc(
        _events(
            spark,
            [("insert", v, T0, v % 3, f"v{v}") for v in range(1, 7)],
        ),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    poller = _poller(derby_url, tmp_path)
    assert poller.pump(spark) == 6
    assert poller.state()["cursor"] == 6
    # nothing new: pump returns 0 and moves nothing
    assert poller.pump(spark) == 0
    assert poller.state()["cursor"] == 6


def test_poll_predicate_pushed_to_remote(spark, derby_url, tmp_path):
    """The incremental read must push `_version > cursor` into the
    remote JDBC scan — each poll is an indexed range scan of the new
    suffix, not a full-table transfer filtered Spark-side."""
    write_jdbc(
        _events(spark, [("insert", 1, T0, 1, "a")]),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    poller = _poller(derby_url, tmp_path)
    assert poller.poll_once(spark) == 1
    plan = poller.poll_plan(spark)
    assert "PushedFilters" in plan
    assert "_VERSION" in plan.upper() and "GreaterThan" in plan


def test_crash_window_replay_converges(spark, derby_url, tmp_path):
    """r7 brief #6 — the poller's stage-then-rename protocol. The
    worst crash window (batch renamed in, cursor persist lost): the
    committed batch is consumed, the retry re-fetches a superset into
    a FRESH slot (claim probing never rewrites the possibly-consumed
    dir), and max-version-wins apply absorbs the duplicates —
    duplicate storage, never duplicate state."""
    import json

    write_jdbc(
        _events(
            spark,
            [("insert", 1, T0, 1, "a"), ("update", 2, T0, 1, "a2")],
        ),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    poller = _poller(derby_url, tmp_path)
    m = _mirror(spark, tmp_path)
    spool = str(tmp_path / "spool")

    # full poll, then simulate losing ONLY the final cursor persist:
    # state rolls back to {cursor: None, batch_seq: 1} — exactly what
    # a crash between the rename and the cursor write leaves behind
    assert poller.poll_once(spark) == 2
    with open(poller.cursor_path, "w") as f:
        json.dump({"cursor": None, "batch_seq": 1}, f)
    _drain(m, spool)  # stream consumes the committed-but-unacked batch
    assert _state(m) == {1: "a2"}

    # source grows, then the poller retries from the stale cursor:
    # the superset (versions 1..3) lands in slot 1, never slot 0
    write_jdbc(
        _events(spark, [("insert", 3, T0, 2, "b")]), derby_url, "outbox"
    )
    assert poller.poll_once(spark) == 3
    assert poller.state() == {"cursor": 3, "batch_seq": 2}
    _drain(m, spool)  # applies the new batch; dups absorbed
    assert _state(m) == {1: "a2", 2: "b"}


def test_poll_crash_before_claim_leaves_nothing_visible(
    spark, derby_url, tmp_path
):
    """The OTHER crash window (stage written, slot never claimed):
    the old protocol's torn-batch orphan (ADVICE r7) is impossible —
    the stage dir is hidden from Spark's file listing, no `_batch`
    dir exists, and the retry simply overwrites the stage."""
    import glob

    write_jdbc(
        _events(spark, [("insert", 1, T0, 1, "a")]),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    poller = _poller(derby_url, tmp_path)
    spool = str(tmp_path / "spool")
    # simulate the crash: stage lands, nothing claimed, cursor unmoved
    poller._new_rows(spark, None).write.mode("overwrite").parquet(
        f"{spool}/.poll_stage"
    )
    assert glob.glob(f"{spool}/_batch=*") == []
    assert poller.state() == {"cursor": None, "batch_seq": 0}
    # retry: normal poll, slot 0, no duplicate batch
    assert poller.poll_once(spark) == 1
    assert poller.state() == {"cursor": 1, "batch_seq": 1}
    assert sorted(glob.glob(f"{spool}/_batch=*")) == [f"{spool}/_batch=0"]


def test_ledger_point_probe_is_pushed(spark, derby_url, tmp_path):
    """JdbcMirrorSink replay detection is a point probe with the
    batch_id predicate pushed to the remote ledger (VERDICT r2: the
    old full-ledger collect grew O(#batches) per trigger)."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import (
        JdbcMirrorSink,
    )

    sink = JdbcMirrorSink(derby_url, "probe_t", ["entity_id"])
    batch = _events(spark, [("insert", 1, T0, 1, "a")])
    sink.writer(batch, 0)
    assert sink._is_applied(spark, 0) is True
    assert sink._is_applied(spark, 99) is False
    plan = sink.ledger_probe_plan(spark, 0)
    assert "PushedFilters" in plan
    assert "BATCH_ID" in plan.upper() and "EqualTo" in plan


def test_hard_delete_sweep_converges(spark, derby_url, tmp_path):
    """VERDICT r5 #7: a PLAIN Derby table (no outbox, no envelope
    columns) takes hard DELETEs; the snapshot-diff sweep emits
    synthetic delete events into the normal change spool and the
    mirror converges through its unchanged streaming apply. A second
    sweep is idempotent (no events, no batch dir advance)."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    plain = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (40, "d"), (41, "e")], ROW_SCHEMA
    )
    write_jdbc(plain, derby_url, "plain_t")
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_t"))
    assert _state(mirror) == {1: "a", 2: "b", 3: "c", 40: "d", 41: "e"}

    conn = spark._jvm.java.sql.DriverManager.getConnection(derby_url)
    stmt = conn.createStatement()
    stmt.executeUpdate(
        'DELETE FROM plain_t WHERE "entity_id" IN (2, 41)'
    )
    stmt.close()
    conn.close()

    sweeper = SnapshotDiffDeleteSweeper(
        url=derby_url,
        table="plain_t",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "dspool"),
        state_path=str(tmp_path / "dstate.json"),
        n_buckets=4,
    )
    assert sweeper.sweep_once(spark, mirror) == 2
    _drain(mirror, str(tmp_path / "dspool"))
    assert _state(mirror) == {1: "a", 3: "c", 40: "d"}
    # idempotent second sweep: target and source now agree
    assert sweeper.sweep_once(spark, mirror) == 0


def test_sweep_never_deletes_mid_sweep_inserts(spark, derby_url, tmp_path):
    """A row inserted at the source AFTER the mirror snapshot is
    absent from the target, so the anti-join can never emit a false
    delete for it — and the sweep's own spool leaves it alone for the
    next poll to pick up."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    write_jdbc(
        spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA),
        derby_url,
        "plain_u",
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_u"))
    # new source row the mirror has not seen yet
    write_jdbc(
        spark.createDataFrame([(9, "z")], ROW_SCHEMA), derby_url, "plain_u"
    )
    sweeper = SnapshotDiffDeleteSweeper(
        url=derby_url,
        table="plain_u",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "uspool"),
        state_path=str(tmp_path / "ustate.json"),
        n_buckets=2,
    )
    assert sweeper.sweep_once(spark, mirror) == 0
    assert _state(mirror) == {1: "a", 2: "b"}

def test_zero_delete_sweep_leaves_no_batch_dir(spark, derby_url, tmp_path):
    """r6 review: the first cut always wrote a batch dir (empty on a
    zero-delete sweep) and its docstring claimed otherwise. Events are
    now staged hidden and only a non-empty batch is moved in — an
    idle sweep leaves the spool untouched (no _batch dirs, no visible
    files at all)."""
    import glob
    import os

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    write_jdbc(
        spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA),
        derby_url,
        "plain_z",
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_z"))
    spool = str(tmp_path / "zspool")
    sweeper = SnapshotDiffDeleteSweeper(
        url=derby_url,
        table="plain_z",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        state_path=str(tmp_path / "zstate.json"),
        n_buckets=2,
    )
    assert sweeper.sweep_once(spark, mirror) == 0
    assert glob.glob(f"{spool}/_batch=*") == []
    # nothing Spark's listing would see either (staging is deleted)
    visible = [
        p
        for p in glob.glob(f"{spool}/*")
        if not os.path.basename(p).startswith((".", "_"))
    ]
    assert visible == []


def test_sweeper_composes_with_poller_on_shared_spool(
    spark, derby_url, tmp_path
):
    """r6 review: sharing ONE spool between a poller and a sweeper
    used to collide _batch=N across their independent counters, and
    mode('overwrite') destroyed the other writer's batch. With a
    SHARED state file the batch numbers interleave, slot claiming
    prevents any overwrite, and the poller's cursor survives the
    sweeper's persist."""
    import glob
    import json

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    # outbox feeds the poller; the same logical table also exists as a
    # plain table the sweeper diffs (outbox-for-upserts + sweep-for-
    # deletes is exactly the documented composition)
    write_jdbc(
        _events(
            spark, [("insert", 1, T0, 1, "a"), ("insert", 2, T0, 2, "b")]
        ),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    write_jdbc(
        spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA),
        derby_url,
        "plain_s",
    )
    poller = _poller(derby_url, tmp_path)
    spool = poller.spool_dir
    assert poller.poll_once(spark) == 2  # writes _batch=0, seq -> 1
    mirror = _mirror(spark, tmp_path)
    _drain(mirror, spool)
    assert _state(mirror) == {1: "a", 2: "b"}

    # hard DELETE on the plain table; sweeper SHARES the poller state
    conn = spark._jvm.java.sql.DriverManager.getConnection(derby_url)
    stmt = conn.createStatement()
    stmt.executeUpdate('DELETE FROM plain_s WHERE "entity_id" = 2')
    stmt.close()
    conn.close()
    sweeper = SnapshotDiffDeleteSweeper(
        url=derby_url,
        table="plain_s",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        state_path=poller.cursor_path,  # the shared counter
        n_buckets=2,
    )
    assert sweeper.sweep_once(spark, mirror) == 1
    # poller's batch 0 untouched; sweep landed in the NEXT slot
    dirs = sorted(glob.glob(f"{spool}/_batch=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "1"]
    with open(poller.cursor_path) as f:
        st = json.load(f)
    # cursor preserved; the sweep adds its ordered stamp floor (r9)
    assert st == {"cursor": 2, "batch_seq": 2, "sweep_stamp": 3}
    _drain(mirror, spool)
    assert _state(mirror) == {1: "a"}
    # and the next poll writes _batch=2, not a collision
    write_jdbc(
        _events(spark, [("insert", 3, T0, 5, "c")]), derby_url, "outbox"
    )
    assert poller.poll_once(spark) == 1
    assert sorted(
        int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{spool}/_batch=*")
    ) == [0, 1, 2]


def test_sweep_never_overwrites_existing_batch_dir(
    spark, derby_url, tmp_path
):
    """r6 review: crash between rename and persist leaves a batch dir
    the state file does not know about — possibly already consumed by
    the stream. The retry must claim the NEXT free slot, never rewrite
    the orphan's files."""
    import os

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    write_jdbc(
        spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA),
        derby_url,
        "plain_o",
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_o"))
    conn = spark._jvm.java.sql.DriverManager.getConnection(derby_url)
    stmt = conn.createStatement()
    stmt.executeUpdate('DELETE FROM plain_o WHERE "entity_id" = 2')
    stmt.close()
    conn.close()

    spool = str(tmp_path / "ospool")
    # orphan from a "crashed predecessor": exists on disk, state says 0
    orphan = f"{spool}/_batch=0"
    os.makedirs(orphan)
    with open(f"{orphan}/sentinel", "w") as f:
        f.write("consumed-batch stand-in")
    sweeper = SnapshotDiffDeleteSweeper(
        url=derby_url,
        table="plain_o",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        state_path=str(tmp_path / "ostate.json"),
        n_buckets=2,
    )
    assert sweeper.sweep_once(spark, mirror) == 1
    with open(f"{orphan}/sentinel") as f:
        assert f.read() == "consumed-batch stand-in"  # untouched
    assert os.path.isdir(f"{spool}/_batch=1")
    assert sweeper._state()["batch_seq"] == 2


# ---------------------------------------------------------------------------
# r7 brief items #1/#4/#5/#6: update capture, composite keys, plan
# gates, and the composed sweep+poll race.
# ---------------------------------------------------------------------------


def _exec_sql(spark, derby_url, sql):
    conn = spark._jvm.java.sql.DriverManager.getConnection(derby_url)
    stmt = conn.createStatement()
    stmt.executeUpdate(sql)
    stmt.close()
    conn.close()


def test_update_sweep_converges_plain_table(spark, derby_url, tmp_path):
    """r7 brief #1: an in-place UPDATE on an envelope-less Derby table
    (plus a missed INSERT) converges through the unchanged Mirror via
    the checksum sweep's synthetic upserts. A second sweep is
    idempotent (no events, no batch dir)."""
    import glob

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
    )

    write_jdbc(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (40, "d")], ROW_SCHEMA
        ),
        derby_url,
        "plain_up",
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_up"))

    # invisible to any poll tail: no version column moves
    _exec_sql(
        spark, derby_url, "UPDATE plain_up SET \"val\" = 'b9' WHERE \"entity_id\" = 2"
    )
    _exec_sql(
        spark, derby_url, "INSERT INTO plain_up VALUES (9, 'z')"
    )

    sweeper = ChecksumDiffUpdateSweeper(
        url=derby_url,
        table="plain_up",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "upspool"),
        state_path=str(tmp_path / "upstate.json"),
        n_buckets=4,
    )
    assert sweeper.sweep_once(spark, mirror) == 2
    _drain(mirror, str(tmp_path / "upspool"))
    assert _state(mirror) == {1: "a", 2: "b9", 3: "c", 40: "d", 9: "z"}
    # converged: idempotent second sweep, no batch dir
    before = sorted(glob.glob(str(tmp_path / "upspool" / "_batch=*")))
    assert sweeper.sweep_once(spark, mirror) == 0
    assert sorted(glob.glob(str(tmp_path / "upspool" / "_batch=*"))) == before


def test_update_sweep_spool_passes_validation(spark, derby_url, tmp_path):
    """The update sweep speaks the engine's one `_op` vocabulary:
    reading its spool back through read_changes + validate_changes
    quarantines nothing (an `upsert` op would land every event in the
    dead-letter output as unknown_op)."""
    from peerdb_cdc_psql_clickhouse_spark.catalog import change_event_schema
    from peerdb_cdc_psql_clickhouse_spark.operators.cdc import (
        validate_changes,
    )
    from peerdb_cdc_psql_clickhouse_spark.sources.changes import read_changes
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
    )

    write_jdbc(
        spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA),
        derby_url,
        "plain_val",
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_val"))
    _exec_sql(
        spark, derby_url, "UPDATE plain_val SET \"val\" = 'b9' WHERE \"entity_id\" = 2"
    )
    _exec_sql(spark, derby_url, "INSERT INTO plain_val VALUES (9, 'z')")
    spool = str(tmp_path / "valspool")
    sweeper = ChecksumDiffUpdateSweeper(
        url=derby_url,
        table="plain_val",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        state_path=str(tmp_path / "valstate.json"),
        n_buckets=2,
    )
    assert sweeper.sweep_once(spark, mirror) == 2
    valid, quarantined = validate_changes(
        read_changes(spark, spool, change_event_schema(ROW_SCHEMA)),
        ["entity_id"],
    )
    assert quarantined.count() == 0
    assert sorted(r["entity_id"] for r in valid.collect()) == [2, 9]


def test_update_sweep_remote_screen_prunes_buckets(
    spark, derby_url, tmp_path
):
    """The 100 TB path: with a remote checksum screen, phase 1 is one
    pushed GROUP-BY-bucket aggregation (n_buckets rows transferred)
    and only MISMATCHED buckets pay the row fetch + diff. The screen
    pair here is Derby-computable; the result must equal the default
    path's."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
    )

    rows = [(i, f"v{i}") for i in range(1, 33)]
    write_jdbc(
        spark.createDataFrame(rows, ROW_SCHEMA), derby_url, "plain_rs"
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_rs"))

    _exec_sql(
        spark, derby_url, "UPDATE plain_rs SET \"val\" = 'X' WHERE \"entity_id\" = 5"
    )

    screen = (
        (F.col("entity_id") * F.length("val")).cast("long"),
        '"entity_id" * LENGTH("val")',
    )
    sweeper = ChecksumDiffUpdateSweeper(
        url=derby_url,
        table="plain_rs",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "rsspool"),
        state_path=str(tmp_path / "rsstate.json"),
        n_buckets=8,
        remote_screen=screen,
    )
    assert sweeper.sweep_once(spark, mirror) == 1
    # the screen isolated the one dirty bucket out of 8
    assert sweeper.last_stats["buckets"] == 8
    assert len(sweeper.last_stats["mismatched"]) == 1
    _drain(mirror, str(tmp_path / "rsspool"))
    got = _state(mirror)
    assert got[5] == "X" and len(got) == 32
    # converged: the screen reports NO mismatched buckets and the
    # sweep fetches zero source rows beyond the n_buckets screen rows
    assert sweeper.sweep_once(spark, mirror) == 0
    assert sweeper.last_stats["mismatched"] == []


def test_remote_screen_survives_bigint_sum_overflow(
    spark, derby_url, tmp_path
):
    """Checksums are 60-bit, so a bucket's SUM overflows BIGINT at
    ~16 rows — Spark would wrap silently while the remote raises
    (Derby) or promotes to numeric that a long cast nulls out
    (Postgres), falsely mismatching every bucket at scale. The screen
    therefore sums in DECIMAL on both engines; this pins it with
    2^59-magnitude screen values and 16 rows/bucket (sum > Long.Max)."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
    )

    big = 576460752303423488  # 2^59 — the md5 screen's magnitude
    rows = [(i, f"v{i}") for i in range(1, 33)]
    write_jdbc(
        spark.createDataFrame(rows, ROW_SCHEMA), derby_url, "plain_ov"
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_ov"))

    screen = (
        (F.lit(big) + F.col("entity_id") * F.length("val")).cast("long"),
        f'({big} + "entity_id" * LENGTH("val"))',
    )
    sweeper = ChecksumDiffUpdateSweeper(
        url=derby_url,
        table="plain_ov",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "ovspool"),
        state_path=str(tmp_path / "ovstate.json"),
        n_buckets=2,
        remote_screen=screen,
    )
    # in sync: every bucket sum exceeds Long.Max yet none mismatch
    assert sweeper.sweep_once(spark, mirror) == 0
    assert sweeper.last_stats["buckets"] == 2
    assert sweeper.last_stats["mismatched"] == []
    # one in-place update is still isolated to its bucket
    _exec_sql(
        spark,
        derby_url,
        "UPDATE plain_ov SET \"val\" = 'XX' WHERE \"entity_id\" = 30",
    )
    assert sweeper.sweep_once(spark, mirror) == 1
    assert len(sweeper.last_stats["mismatched"]) == 1
    _drain(mirror, str(tmp_path / "ovspool"))
    assert _state(mirror)[30] == "XX"


COMPOSITE_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType()),
        T.StructField("sub_id", T.LongType()),
        T.StructField("val", T.StringType()),
    ]
)


def _composite_mirror(spark, tmp_path) -> Mirror:
    return Mirror(
        spark,
        name="jdbc_comp_mirror",
        schema="public",
        table="comp_t",
        key_cols=["entity_id", "sub_id"],
        row_schema=COMPOSITE_SCHEMA,
        target_root=str(tmp_path / "cwh"),
        checkpoint_root=str(tmp_path / "cckpt"),
    )


def _comp_state(mirror) -> dict:
    return {
        (int(r["entity_id"]), int(r["sub_id"])): r["val"]
        for r in mirror.read_target().collect()
    }


def test_composite_key_delete_and_update_sweeps(spark, derby_url, tmp_path):
    """r7 brief #4: a two-column-pk Derby table sweeps cleanly —
    bucketing rides the FIRST key column's range (pushable BETWEEN),
    the diff joins carry BOTH key columns, and the emitted events
    converge through a composite-key Mirror."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
        SnapshotDiffDeleteSweeper,
    )

    rows = [(i, s, f"v{i}{s}") for i in range(1, 9) for s in (0, 1)]
    write_jdbc(
        spark.createDataFrame(rows, COMPOSITE_SCHEMA), derby_url, "comp_src"
    )
    mirror = _composite_mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="comp_src"))
    assert len(_comp_state(mirror)) == 16

    # same first key, different sub keys: (3,0) deleted, (3,1) kept
    _exec_sql(
        spark,
        derby_url,
        'DELETE FROM comp_src WHERE "entity_id" = 3 AND "sub_id" = 0',
    )
    _exec_sql(
        spark,
        derby_url,
        "UPDATE comp_src SET \"val\" = 'UP' "
        'WHERE "entity_id" = 5 AND "sub_id" = 1',
    )

    dsw = SnapshotDiffDeleteSweeper(
        url=derby_url,
        table="comp_src",
        key_cols=["entity_id", "sub_id"],
        row_schema=COMPOSITE_SCHEMA,
        spool_dir=str(tmp_path / "cspool"),
        state_path=str(tmp_path / "cstate.json"),
        n_buckets=4,
    )
    usw = ChecksumDiffUpdateSweeper(
        url=derby_url,
        table="comp_src",
        key_cols=["entity_id", "sub_id"],
        row_schema=COMPOSITE_SCHEMA,
        spool_dir=str(tmp_path / "cspool"),
        state_path=str(tmp_path / "cstate.json"),  # shared counter
        n_buckets=4,
    )
    assert dsw.sweep_once(spark, mirror) == 1
    assert usw.sweep_once(spark, mirror) == 1
    _drain(mirror, str(tmp_path / "cspool"))
    got = _comp_state(mirror)
    assert (3, 0) not in got and got[(3, 1)] == "v31"
    assert got[(5, 1)] == "UP" and len(got) == 15
    assert dsw.sweep_once(spark, mirror) == 0
    assert usw.sweep_once(spark, mirror) == 0


def test_sweep_plans_push_range_predicate(spark, derby_url, tmp_path):
    """ADVICE r7: the O(keys/bucket) claim is now plan-gated like the
    poller's — the per-bucket range predicate must reach the remote
    scan's PushedFilters for BOTH sweepers (a non-pushing dialect
    would silently degrade each sweep to n_buckets full scans)."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
        SnapshotDiffDeleteSweeper,
    )

    write_jdbc(
        spark.createDataFrame([(1, "a")], ROW_SCHEMA), derby_url, "plain_pp"
    )
    common = dict(
        url=derby_url,
        table="plain_pp",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "ppspool"),
        state_path=str(tmp_path / "ppstate.json"),
        n_buckets=2,
    )
    for cls in (SnapshotDiffDeleteSweeper, ChecksumDiffUpdateSweeper):
        plan = cls(**common).sweep_plan(spark)
        assert "PushedFilters" in plan
        up = plan.upper()
        assert "ENTITY_ID" in up
        assert "GreaterThanOrEqual" in plan and "LessThanOrEqual" in plan


def test_sweep_then_reinsert_then_poll_converges(spark, derby_url, tmp_path):
    """r7 brief #6 (composed race): a hard delete is swept, the same
    key is later re-inserted at the source with a version above the
    sweep stamp, and the next poll re-captures it — the documented
    composition contract (sweep stamps at max_version()+1; later
    genuine events must carry higher versions, which an ordered
    outbox does by construction)."""
    import glob

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    write_jdbc(
        _events(
            spark, [("insert", 1, T0, 1, "a"), ("insert", 2, T0, 2, "b")]
        ),
        derby_url,
        "outbox",
        mode="overwrite",
    )
    write_jdbc(
        spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA),
        derby_url,
        "plain_rr",
    )
    poller = _poller(derby_url, tmp_path)
    spool = poller.spool_dir
    mirror = _mirror(spark, tmp_path)
    assert poller.poll_once(spark) == 2
    _drain(mirror, spool)
    assert _state(mirror) == {1: "a", 2: "b"}

    # hard delete; sweep shares the poller's state file (one counter)
    _exec_sql(spark, derby_url, 'DELETE FROM plain_rr WHERE "entity_id" = 2')
    sweeper = SnapshotDiffDeleteSweeper(
        url=derby_url,
        table="plain_rr",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        state_path=poller.cursor_path,
        n_buckets=2,
    )
    assert sweeper.sweep_once(spark, mirror) == 1
    _drain(mirror, spool)
    assert _state(mirror) == {1: "a"}
    sweep_stamp = mirror.max_version()

    # re-insert at the source: plain table row returns AND the outbox
    # records it at a version above the sweep stamp
    _exec_sql(spark, derby_url, "INSERT INTO plain_rr VALUES (2, 'b2')")
    write_jdbc(
        _events(spark, [("insert", sweep_stamp + 1, T0, 2, "b2")]),
        derby_url,
        "outbox",
    )
    assert poller.poll_once(spark) == 1
    _drain(mirror, spool)
    assert _state(mirror) == {1: "a", 2: "b2"}
    # and the follow-up sweep agrees: nothing to delete
    assert sweeper.sweep_once(spark, mirror) == 0
    # batch slots interleaved without collision across both writers
    assert sorted(
        int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{spool}/_batch=*")
    ) == [0, 1, 2]


def test_full_iud_convergence_on_plain_table(spark, derby_url, tmp_path):
    """The README's composition claim, pinned end-to-end: a PLAIN
    table (no envelope) takes one INSERT + one in-place UPDATE + one
    hard DELETE at the source; the update sweep and the delete sweep
    share one state file and one spool, and a SINGLE drain converges
    the mirror to the source exactly. The shared state file also
    orders the two sweeps' version stamps (_next_stamp, r9), so even
    a key caught by both batches would resolve deterministically —
    the adversarial interleaving is pinned separately in
    test_interleaved_sweeps_order_stamps_deterministically."""
    import glob

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
        SnapshotDiffDeleteSweeper,
    )

    rows = [(i, f"v{i}") for i in range(1, 9)]
    write_jdbc(
        spark.createDataFrame(rows, ROW_SCHEMA), derby_url, "plain_iud"
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_iud"))
    assert _state(mirror) == {i: f"v{i}" for i in range(1, 9)}

    _exec_sql(
        spark, derby_url, "INSERT INTO plain_iud VALUES (20, 'new')"
    )
    _exec_sql(
        spark,
        derby_url,
        "UPDATE plain_iud SET \"val\" = 'CHANGED' WHERE \"entity_id\" = 3",
    )
    _exec_sql(
        spark, derby_url, 'DELETE FROM plain_iud WHERE "entity_id" = 6'
    )

    spool = str(tmp_path / "iudspool")
    state = str(tmp_path / "iudstate.json")
    common = dict(
        url=derby_url,
        table="plain_iud",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        state_path=state,
        n_buckets=4,
    )
    assert ChecksumDiffUpdateSweeper(**common).sweep_once(spark, mirror) == 2
    assert SnapshotDiffDeleteSweeper(**common).sweep_once(spark, mirror) == 1
    # interleaved slots from the shared counter, then ONE drain
    assert sorted(
        int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{spool}/_batch=*")
    ) == [0, 1]
    _drain(mirror, spool)
    want = {i: f"v{i}" for i in range(1, 9) if i not in (3, 6)}
    want.update({3: "CHANGED", 20: "new"})
    assert _state(mirror) == want
    # converged: a second full cycle is a no-op (no new batch dirs)
    assert ChecksumDiffUpdateSweeper(**common).sweep_once(spark, mirror) == 0
    assert SnapshotDiffDeleteSweeper(**common).sweep_once(spark, mirror) == 0
    assert sorted(
        int(d.rsplit("=", 1)[1]) for d in glob.glob(f"{spool}/_batch=*")
    ) == [0, 1]


def test_bucket_case_sql_truncates_on_float_division_dialects(spark):
    """The screen's remote bucket expression must assign exactly like
    Spark's integral `div` under EVERY dialect's division: Derby and
    Postgres divide integers integrally, but DuckDB-style dialects
    return a DOUBLE whose CAST(... AS INT) ROUNDS — without the FLOOR
    wrap, key 5 of bucket-span 10 lands in bucket 1 remotely and
    bucket 0 locally, falsely mismatching half of every bucket."""
    import duckdb

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
    )

    sweeper = ChecksumDiffUpdateSweeper(
        url="jdbc:unused",
        table="t",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir="unused",
        state_path="unused",
    )
    lo, span, n = 0, 10, 4
    sql = sweeper._bucket_case_sql(lo, span, n)
    con = duckdb.connect()
    con.execute('CREATE TABLE t ("entity_id" BIGINT)')
    keys = list(range(-3, 55))
    con.executemany("INSERT INTO t VALUES (?)", [(k,) for k in keys])
    got = dict(
        con.execute(f'SELECT "entity_id", {sql} FROM t').fetchall()
    )
    want = {
        k: 0 if k < lo else min(n - 1, (k - lo) // span) for k in keys
    }
    assert got == want


def test_md5_checksum_screen_matches_remote_sql(spark):
    """The provided screen pair (r8): the Spark checksum column and
    the generated remote SQL agree value-for-value on the same rows —
    nulls, empty strings, and separator bytes included — evaluated
    here on DuckDB (the md5-capable stand-in for a remote engine).
    Unsupported column types raise instead of shipping a screen that
    mismatches every bucket."""
    import duckdb

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        md5_checksum_screen,
    )

    rows = [
        (1, "a"),
        (2, None),
        (3, "x\x1fy"),  # a value containing the separator itself
        (None, "q"),
        (4, ""),
        (5, "\x01null"),  # a value colliding with the null marker text
    ]
    df = spark.createDataFrame(rows, ROW_SCHEMA)
    spark_cs, remote_sql = md5_checksum_screen(ROW_SCHEMA)
    got = {
        (r["entity_id"], r["val"]): int(r["cs"])
        for r in df.select("*", spark_cs.alias("cs")).collect()
    }

    con = duckdb.connect()
    con.execute('CREATE TABLE t ("entity_id" BIGINT, "val" VARCHAR)')
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        (r[0], r[1]): int(r[2])
        for r in con.execute(
            f'SELECT "entity_id", "val", {remote_sql} FROM t'
        ).fetchall()
    }
    assert got == want
    # the postgres variant shares the canonical form; only the
    # hex->bigint idiom differs
    _, pg_sql = md5_checksum_screen(ROW_SCHEMA, dialect="postgres")
    assert "::bit(60)::bigint" in pg_sql

    with pytest.raises(ValueError, match="unsupported"):
        md5_checksum_screen(
            T.StructType([T.StructField("x", T.DoubleType())])
        )
    with pytest.raises(ValueError, match="dialect"):
        md5_checksum_screen(ROW_SCHEMA, dialect="oracle")


PRODUCTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("weight", T.DecimalType(10, 2)),
        T.StructField("order_date", T.DateType()),
    ]
)

_SCREEN_ROWS = [
    (1, "scooter", "Small 2-wheel", __import__("decimal").Decimal("3.14"), dt.date(2024, 1, 5)),
    (2, "car battery", "12V battery", __import__("decimal").Decimal("8.10"), dt.date(2023, 12, 31)),
    (3, "hammer", None, __import__("decimal").Decimal("0.75"), dt.date(2024, 2, 29)),
    (4, "rocks", "assortment", __import__("decimal").Decimal("-5.30"), None),
    (5, "jacket", "water resistant", None, dt.date(1999, 7, 1)),
    (6, "spare tire", "24 inch", __import__("decimal").Decimal("22.20"), dt.date(2026, 8, 15)),
]


def test_md5_checksum_screen_decimal_date_matches_remote(spark):
    """VERDICT r8 #1: the reference's own mirrored schemas carry
    NUMERIC(10,2) and DATE (quickstart_prepare_peers.sh:37,43), which
    the r8 screen refused. The pinned renderings — DECIMAL as its
    unscaled integer, DATE as explicit ISO text — make the Spark
    column and the generated remote SQL value-equal on a
    products/orders-shaped schema, negatives, NULLs, and leap days
    included (DuckDB executes the 'ansi' SQL as the md5-capable
    remote stand-in)."""
    import duckdb

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        md5_checksum_screen,
    )

    df = spark.createDataFrame(_SCREEN_ROWS, PRODUCTS_SCHEMA)
    spark_cs, remote_sql = md5_checksum_screen(PRODUCTS_SCHEMA)
    got = {
        r["id"]: int(r["cs"])
        for r in df.select("id", spark_cs.alias("cs")).collect()
    }

    con = duckdb.connect()
    con.execute(
        'CREATE TABLE t ("id" INTEGER, "name" VARCHAR, "description" '
        'VARCHAR, "weight" DECIMAL(10,2), "order_date" DATE)'
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", _SCREEN_ROWS)
    want = dict(con.execute(f'SELECT "id", {remote_sql} FROM t').fetchall())
    assert got == {k: int(v) for k, v in want.items()}

    # precision >18 would overflow the unscaled BIGINT rendering
    with pytest.raises(ValueError, match="unsupported"):
        md5_checksum_screen(
            T.StructType([T.StructField("x", T.DecimalType(19, 2))])
        )


def test_postgres_screen_dialect_pinned_values(spark):
    """VERDICT r8 #2: the postgres dialect branch was shipped
    reconciliation SQL no engine had executed. No Postgres lives in
    this container, so the idiom is pinned against ground truth
    computed from Postgres' documented semantics: TO_CHAR(date,
    'YYYY-MM-DD') renders ISO, md5() yields lowercase hex,
    ('x'||<15 hex chars>)::bit(60)::bigint interprets the hex digits
    as a 60-bit integer. The emulator below REPARSES the substring
    bounds and bit width out of the generated SQL, so any drift in
    the idiom (different slice, different width, a rendering change)
    breaks the value match against the Spark column."""
    import hashlib
    import re

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        md5_checksum_screen,
    )

    spark_cs, pg_sql = md5_checksum_screen(PRODUCTS_SCHEMA, dialect="postgres")
    m = re.search(
        r"\('x' \|\| SUBSTR\(md5\((.+)\), (\d+), (\d+)\)\)"
        r"::bit\((\d+)\)::bigint",
        pg_sql,
    )
    assert m, pg_sql
    start, ln, bits = int(m.group(2)), int(m.group(3)), int(m.group(4))
    assert ln * 4 == bits  # each hex digit is 4 bits
    # the date rendering must be the DateStyle-independent TO_CHAR
    assert "TO_CHAR(\"order_date\", 'YYYY-MM-DD')" in pg_sql

    def pg_render(v, field):
        if v is None:
            return "\x01null"
        if isinstance(field.dataType, T.DecimalType):
            return str(int(v * (10**field.dataType.scale)))
        if isinstance(field.dataType, T.DateType):
            return v.strftime("%Y-%m-%d")
        return str(v)

    def pg_value(row):
        canon = "\x1f".join(
            pg_render(v, f) for v, f in zip(row, PRODUCTS_SCHEMA.fields)
        )
        hexs = hashlib.md5(canon.encode()).hexdigest()
        return int(hexs[start - 1 : start - 1 + ln], 16)

    want = {row[0]: pg_value(row) for row in _SCREEN_ROWS}
    df = spark.createDataFrame(_SCREEN_ROWS, PRODUCTS_SCHEMA)
    got = {
        r["id"]: int(r["cs"])
        for r in df.select("id", spark_cs.alias("cs")).collect()
    }
    assert got == want


def test_update_sweep_converges_products_shaped_table(
    spark, derby_url, tmp_path
):
    """VERDICT r8 #1's sweep half: a products-shaped Derby table
    (DECIMAL(10,2) + DATE) update-sweeps end to end WITH a remote
    screen built from the same pinned renderings (Derby has no md5,
    so the screen hashes the rendered values arithmetically — the
    DECIMAL unscaled-integer rendering is exercised on a real JDBC
    dialect, not just DuckDB). An in-place weight UPDATE and a date
    UPDATE are both caught, applied through the unchanged Mirror, and
    the screen reports zero mismatched buckets once converged."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
    )

    dec = __import__("decimal").Decimal
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("weight", T.DecimalType(10, 2)),
            T.StructField("order_date", T.DateType()),
        ]
    )
    rows = [
        (i, dec(i * 100 + 25) / 100, dt.date(2024, 1, 1 + (i % 28)))
        for i in range(1, 17)
    ]
    write_jdbc(spark.createDataFrame(rows, schema), derby_url, "products_t")
    mirror = Mirror(
        spark,
        name="products_mirror",
        schema="public",
        table="products_t",
        key_cols=["id"],
        row_schema=schema,
        target_root=str(tmp_path / "pwh"),
        checkpoint_root=str(tmp_path / "pckpt"),
    )
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="products_t"))

    _exec_sql(
        spark,
        derby_url,
        'UPDATE products_t SET "weight" = 9.99 WHERE "id" = 5',
    )
    _exec_sql(
        spark,
        derby_url,
        "UPDATE products_t SET \"order_date\" = DATE('2025-06-30') "
        'WHERE "id" = 11',
    )

    # Derby-computable screen over the SAME pinned renderings: the
    # DECIMAL piece is the unscaled integer, the DATE piece is exact
    # calendar arithmetic — value-sensitive to both updates above
    screen = (
        (F.col("weight") * 100).cast("long") * F.lit(517)
        + F.year("order_date") * 372
        + F.month("order_date") * 31
        + F.dayofmonth("order_date"),
        'CAST("weight" * 100 AS BIGINT) * 517 + YEAR("order_date") * 372 '
        '+ MONTH("order_date") * 31 + DAY("order_date")',
    )
    sweeper = ChecksumDiffUpdateSweeper(
        url=derby_url,
        table="products_t",
        key_cols=["id"],
        row_schema=schema,
        spool_dir=str(tmp_path / "pspool"),
        state_path=str(tmp_path / "pstate.json"),
        n_buckets=8,
        remote_screen=screen,
    )
    assert sweeper.sweep_once(spark, mirror) == 2
    assert sweeper.last_stats["buckets"] == 8
    assert len(sweeper.last_stats["mismatched"]) == 2
    q = mirror.start(str(tmp_path / "pspool"))
    q.awaitTermination(120)
    got = {
        int(r["id"]): (r["weight"], r["order_date"])
        for r in mirror.read_target().collect()
    }
    assert got[5][0] == dec("9.99")
    assert got[11][1] == dt.date(2025, 6, 30)
    assert len(got) == 16
    # converged: zero mismatched buckets, zero events
    assert sweeper.sweep_once(spark, mirror) == 0
    assert sweeper.last_stats["mismatched"] == []


def test_interleaved_sweeps_order_stamps_deterministically(
    spark, derby_url, tmp_path
):
    """VERDICT r8 #8's adversarial ordering: the update sweep runs,
    its batch sits SPOOLED BUT UNDRAINED, the source then loses the
    same key, and the delete sweep runs against the same stale mirror.
    Both sweeps read max_version() from the same undrained target, so
    without stamp ordering both batches would carry equal versions for
    the SAME key and max-version-wins would break the tie on batch
    order. With _next_stamp riding the shared state file, the delete
    (the LATER source snapshot — the fresher truth) outranks the
    upsert by construction, and one drain converges to the source."""
    import glob

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
        SnapshotDiffDeleteSweeper,
    )

    rows = [(i, f"v{i}") for i in range(1, 7)]
    write_jdbc(
        spark.createDataFrame(rows, ROW_SCHEMA), derby_url, "plain_il"
    )
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="plain_il"))
    base_v = mirror.max_version()

    spool = str(tmp_path / "ilspool")
    state = str(tmp_path / "ilstate.json")
    common = dict(
        url=derby_url,
        table="plain_il",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        state_path=state,
        n_buckets=4,
    )

    # key 3 is updated; the update sweep catches it
    _exec_sql(
        spark,
        derby_url,
        "UPDATE plain_il SET \"val\" = 'STALE' WHERE \"entity_id\" = 3",
    )
    assert ChecksumDiffUpdateSweeper(**common).sweep_once(spark, mirror) == 1

    # the SAME key is then hard-deleted; the delete sweep runs while
    # the upsert batch is still undrained (mirror.max_version()
    # unchanged for both sweeps)
    _exec_sql(spark, derby_url, 'DELETE FROM plain_il WHERE "entity_id" = 3')
    assert mirror.max_version() == base_v
    assert SnapshotDiffDeleteSweeper(**common).sweep_once(spark, mirror) == 1

    # the two spooled batches carry STRICTLY ORDERED stamps
    stamps = sorted(
        r["_version"]
        for d in glob.glob(f"{spool}/_batch=*")
        for r in spark.read.parquet(d)
        .filter(F.col("entity_id") == 3)
        .select("_version")
        .collect()
    )
    assert len(stamps) == 2 and stamps[0] < stamps[1]

    _drain(mirror, spool)
    want = {i: f"v{i}" for i in range(1, 7) if i != 3}
    assert _state(mirror) == want  # the delete won, deterministically


def test_next_stamp_concurrent_sweepers_unique_and_increasing(tmp_path):
    """ADVICE r9: _next_stamp's strict-ordering guarantee must hold
    for sweepers running CONCURRENTLY (same host), not just composed
    sequentially — the floor read + stamp persist now hold a flock on
    the shared state file, so racing sweepers can never issue equal
    versions. 8 threads x 5 stamps across two sweeper instances
    sharing one state file: all 40 stamps unique."""
    import threading

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    class _StubMirror:
        def max_version(self):
            return 7  # constant: every uniqueness guarantee must come
            # from the persisted floor, not from mirror movement

    common = dict(
        url="jdbc:stub",
        table="t",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "spool"),
        state_path=str(tmp_path / "state.json"),
    )
    sweepers = [SnapshotDiffDeleteSweeper(**common) for _ in range(2)]
    mirror = _StubMirror()
    stamps: list[int] = []
    lock = threading.Lock()

    def worker(sw):
        got = [sw._next_stamp(mirror) for _ in range(5)]
        with lock:
            stamps.extend(got)

    threads = [
        threading.Thread(target=worker, args=(sweepers[i % 2],))
        for i in range(8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert len(stamps) == 40
    assert len(set(stamps)) == 40, "equal stamps issued under concurrency"
    assert min(stamps) > 7  # every stamp above the applied floor


def test_persist_merge_concurrent_writers_lose_no_keys(tmp_path):
    """ADVICE r9: a concurrent poller's merge could lose another
    writer's key entirely (last-writer-wins on the whole JSON). Under
    the state lock, 16 threads each merging a distinct key all
    survive."""
    import threading

    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        SnapshotDiffDeleteSweeper,
    )

    common = dict(
        url="jdbc:stub",
        table="t",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=str(tmp_path / "spool"),
        state_path=str(tmp_path / "state.json"),
    )
    writers = [SnapshotDiffDeleteSweeper(**common) for _ in range(4)]

    threads = [
        threading.Thread(
            target=writers[i % 4]._persist_merge, kwargs={f"k{i}": i}
        )
        for i in range(16)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    st = writers[0]._state()
    assert {f"k{i}": i for i in range(16)}.items() <= st.items()


def test_sweeps_converge_under_hot_key_skew(spark, derby_url, tmp_path):
    """r18 (VERDICT r17 #4): equal-width first-key bucketing under a
    hot pk range degrades BALANCE, not correctness or boundedness.
    Fixture: 100 source rows with 90% of keys packed into one
    bucket's range (1..90) and the rest scattered to 1e6 (so
    min/max-derived spans put ~91% of rows in bucket 0). Deletes in
    the hot range AND the sparse tail, plus an in-place update in
    each, must all converge through the composed sweeps; per-bucket
    remote transfer must stay PARTITIONED (each bucket fetches
    exactly its key range — the hot bucket carries the hot mass, and
    no bucket re-reads the table); and the per-bucket range predicate
    must still reach the remote scan (sweep_plan gate)."""
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc import read_jdbc
    from peerdb_cdc_psql_clickhouse_spark.sources.jdbc_changes import (
        ChecksumDiffUpdateSweeper,
        SnapshotDiffDeleteSweeper,
    )

    hot = [(i, f"h{i}") for i in range(1, 91)]  # 90 keys in one range
    sparse = [(i * 100_000, f"s{i}") for i in range(1, 11)]  # to 1e6
    rows = hot + sparse
    write_jdbc(spark.createDataFrame(rows, ROW_SCHEMA), derby_url, "skew_t")
    mirror = _mirror(spark, tmp_path)
    mirror.snapshot(read_jdbc(spark, url=derby_url, dbtable="skew_t"))
    assert len(_state(mirror)) == 100

    # mutations a poll tail cannot see: hard deletes + in-place
    # updates, in BOTH the hot range and the sparse tail
    _exec_sql(
        spark,
        derby_url,
        'DELETE FROM skew_t WHERE "entity_id" IN '
        "(5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 500000)",
    )
    _exec_sql(
        spark,
        derby_url,
        "UPDATE skew_t SET \"val\" = 'h20x' WHERE \"entity_id\" = 20",
    )
    _exec_sql(
        spark,
        derby_url,
        "UPDATE skew_t SET \"val\" = 's9x' WHERE \"entity_id\" = 900000",
    )

    spool = str(tmp_path / "skspool")
    common = dict(
        url=derby_url,
        table="skew_t",
        key_cols=["entity_id"],
        row_schema=ROW_SCHEMA,
        spool_dir=spool,
        n_buckets=10,
    )
    dsw = SnapshotDiffDeleteSweeper(
        state_path=str(tmp_path / "skstate.json"), **common
    )
    usw = ChecksumDiffUpdateSweeper(
        state_path=str(tmp_path / "skstate.json"), **common
    )

    # --- bounded per-bucket transfer, asserted on the live fixture:
    # the sweep's own clamped bucket ranges partition the key span, so
    # summing each bucket's remote fetch equals the table size (no
    # bucket re-reads the table) while the hot bucket carries ~91%
    target_keys = mirror.read_target().select("entity_id")
    lo, hi = dsw._bounds(target_keys)
    per_bucket = []
    for b_lo, b_hi in dsw._bucket_ranges(lo, hi):
        c_lo = lo if b_lo is None else b_lo
        c_hi = hi if b_hi is None else b_hi
        per_bucket.append(
            dsw._remote_bucket_df(spark, c_lo, c_hi).count()
        )
    src_rows = 100 - 11  # after the deletes
    assert sum(per_bucket) == src_rows  # partitioned: each row once
    assert max(per_bucket) >= int(0.9 * src_rows)  # the hot bucket
    assert len(per_bucket) == 10

    # --- pushdown gate: the per-bucket range predicate reaches the
    # remote scan for BOTH sweepers (O(keys/bucket) transfer claim)
    for sw in (dsw, usw):
        plan = sw.sweep_plan(spark)
        assert "PushedFilters" in plan
        assert "GreaterThanOrEqual(entity_id" in plan

    # --- convergence: update sweep then delete sweep, one drain
    assert usw.sweep_once(spark, mirror) == 2
    assert dsw.sweep_once(spark, mirror) == 11
    _drain(mirror, spool)
    want = {k: v for k, v in rows if k not in
            {5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 500000}}
    want[20] = "h20x"
    want[900000] = "s9x"
    assert _state(mirror) == want
    # converged: both sweeps idempotent
    assert usw.sweep_once(spark, mirror) == 0
    assert dsw.sweep_once(spark, mirror) == 0
