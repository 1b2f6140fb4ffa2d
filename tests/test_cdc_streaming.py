"""CDC end-to-end + Structured Streaming tests (SURVEY §5 plan):
snapshot + ordered change apply converges to a naive replay oracle,
through both the batch core and the streaming Mirror; checkpoint
restart does not double-apply; parity report lands at lag=0.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_cdc_psql_clickhouse_spark.catalog import change_event_schema
from peerdb_cdc_psql_clickhouse_spark.commit import _read_manifest, kept_manifests
from tests.conftest import stagger_mtimes
from peerdb_cdc_psql_clickhouse_spark.operators.cdc import (
    latest_state,
    merge_changes,
    target_table_name,
)
from peerdb_cdc_psql_clickhouse_spark.sources.changes import (
    read_changes,
    read_changes_stream,
    write_change_batches,
)
from peerdb_cdc_psql_clickhouse_spark.streaming.mirror import (
    Mirror,
    MirrorSet,
    stream_status,
    windowed_op_counts,
)

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("val", T.StringType()),
    ]
)


def _mk_changes(spark, events):
    """events: list of (op, version, id, val) tuples."""
    rows = [
        (op, ver, __import__("datetime").datetime(2026, 1, 1, 0, 0, ver % 60), i, v)
        for (op, ver, i, v) in events
    ]
    schema = T.StructType(
        [
            T.StructField("_op", T.StringType()),
            T.StructField("_version", T.LongType()),
            T.StructField("_ts", T.TimestampType()),
        ]
        + list(ROW_SCHEMA.fields)
    )
    return spark.createDataFrame(rows, schema)


def _naive_replay(events, base=None):
    """Driver-side oracle: apply ordered events one by one to a dict."""
    state = dict(base or {})
    for op, ver, i, v in sorted(events, key=lambda e: e[1]):
        if op == "delete":
            state.pop(i, None)
        else:
            state[i] = v
    return state


EVENTS = [
    ("insert", 1, 1, "a"),
    ("insert", 2, 2, "b"),
    ("update", 3, 1, "a2"),
    ("insert", 4, 3, "c"),
    ("delete", 5, 2, None),
    ("update", 6, 3, "c2"),
    ("insert", 7, 2, "b-re"),
    ("update", 8, 1, "a3"),
    ("delete", 9, 3, None),
]


def _as_dict(df):
    return {r["id"]: r["val"] for r in df.collect()}


def test_latest_state_matches_naive_replay(spark):
    changes = _mk_changes(spark, EVENTS)
    got = _as_dict(latest_state(changes, ["id"]).select("id", "val"))
    assert got == _naive_replay(EVENTS)


def test_latest_state_shuffled_input_order(spark):
    """Apply must not depend on arrival order (Spark shuffles are
    unordered) — feed events reversed."""
    changes = _mk_changes(spark, list(reversed(EVENTS)))
    got = _as_dict(latest_state(changes, ["id"]).select("id", "val"))
    assert got == _naive_replay(EVENTS)


def test_apply_changes_incremental_merge(spark):
    base = _mk_changes(spark, EVENTS[:4])
    current = latest_state(base, ["id"]).select("id", "val")
    batch2 = _mk_changes(spark, EVENTS[4:])
    merged = merge_changes(current, batch2, ["id"])
    assert _as_dict(merged) == _naive_replay(EVENTS)
    assert merged.columns == ["id", "val", "_version"]


def test_merge_changes_replayed_older_batch_changes_nothing(spark):
    """The merge keeps each winner's _version, so merging an
    already-applied older batch over its output is a no-op: the older
    events lose instead of regressing keys to stale values (a merge
    that demotes current rows to BASE_VERSION lets them win)."""
    snapshot = spark.createDataFrame(
        [(1, "a0"), (2, "b0"), (3, "c0")], ROW_SCHEMA
    )
    older = _mk_changes(spark, [("update", 5, 1, "a5"), ("update", 6, 2, "b6")])
    newer = _mk_changes(spark, [("update", 9, 1, "a9"), ("delete", 10, 3, None)])
    state = merge_changes(
        merge_changes(snapshot, older, ["id"]), newer, ["id"]
    ).localCheckpoint()
    assert _as_dict(state) == {1: "a9", 2: "b6"}
    replayed = merge_changes(state, older, ["id"])
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, state.collect())
    )


def test_target_rename_mapping():
    assert target_table_name("public", "orders") == "public_orders"


def test_change_batch_spool_roundtrip(spark, tmp_path):
    changes = _mk_changes(spark, EVENTS)
    path = str(tmp_path / "changes")
    write_change_batches(changes, path, rows_per_batch=3)
    back = read_changes(spark, path, change_event_schema(ROW_SCHEMA))
    assert back.count() == len(EVENTS)
    assert _as_dict(latest_state(back, ["id"]).select("id", "val")) == (
        _naive_replay(EVENTS)
    )


def test_write_change_batches_rejects_backtick_version_col(spark, tmp_path):
    """ADVICE r16: version_col is interpolated inside a backtick-quoted
    F.expr identifier; a backtick in the name would escape the quoting
    and inject into the SQL expression. Mirror of project_embeddings'
    vec_col guard."""
    changes = _mk_changes(spark, EVENTS)
    with pytest.raises(ValueError, match="backtick"):
        write_change_batches(
            changes, str(tmp_path / "c"), version_col="`+1 as x, `"
        )


def _mirror_t(spark, tmp_path, **kw):
    """A Mirror of public.t over tmp_path; a second call opens the same
    mirror afresh, as a process restart would."""
    return Mirror(
        spark,
        name="mirror_t",
        schema="public",
        table="t",
        key_cols=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "warehouse"),
        checkpoint_root=str(tmp_path / "ckpt"),
        **kw,
    )


@pytest.fixture()
def mirror(spark, tmp_path):
    return _mirror_t(spark, tmp_path)


def test_mirror_snapshot_stream_converges(spark, tmp_path, mirror):
    # snapshot holds keys 10/11; stream then applies EVENTS
    snap = spark.createDataFrame([(10, "s10"), (11, "s11")], ROW_SCHEMA)
    mirror.snapshot(snap)

    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)

    q = mirror.start(changes_dir, available_now=True)
    q.awaitTermination(120)

    expect = _naive_replay(EVENTS, base={10: "s10", 11: "s11"})
    assert _as_dict(mirror.read_target()) == expect

    # O-D1 parity vs an equivalent source state
    src = spark.createDataFrame(
        sorted(expect.items()), ROW_SCHEMA
    )
    row = mirror.parity(src).collect()[0]
    assert row["lag"] == 0 and row["table_name"] == "public_t"

    # O-C9 status introspection over the finished query
    st = stream_status(spark, [q]).collect()[0]
    assert st["slot_name"] == "mirror_t"
    assert st["input_rows"] == len(EVENTS)
    assert st["last_batch_id"] >= 0


WIDE_SCHEMA = T.StructType(
    list(ROW_SCHEMA.fields) + [T.StructField("note", T.StringType())]
)


def test_mirror_evolves_schema_mid_stream_without_resync(
    spark, tmp_path, mirror
):
    """VERDICT r4 #4: a column added mid-stream converges without
    resync — base/delta stay on disk, the checkpoint stays valid (no
    already-applied batch is reprocessed), pre-evolution rows read
    NULL for the new column, post-evolution events carry it."""
    import glob

    snap = spark.createDataFrame([(10, "s10"), (11, "s11")], ROW_SCHEMA)
    mirror.snapshot(snap)
    changes_dir = str(tmp_path / "changes")
    wave1 = EVENTS[:5]
    write_change_batches(_mk_changes(spark, wave1), changes_dir, 3)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    n_batches_before = len(
        glob.glob(f"{mirror.target_dir}/delta/_batch=*")
    )

    mirror.evolve(WIDE_SCHEMA)

    # wave 2 carries the new column (versions continue past wave 1);
    # written directly as a new _batch partition dir of the same feed
    import datetime

    wide_events = [
        ("update", 6, datetime.datetime(2026, 1, 1, 0, 0, 6), 3, "c2", "n3"),
        ("insert", 7, datetime.datetime(2026, 1, 1, 0, 0, 7), 4, "d", "n4"),
    ]
    wide_schema = T.StructType(
        [
            T.StructField("_op", T.StringType()),
            T.StructField("_version", T.LongType()),
            T.StructField("_ts", T.TimestampType()),
        ]
        + list(WIDE_SCHEMA.fields)
    )
    spark.createDataFrame(wide_events, wide_schema).coalesce(1).write.parquet(
        f"{changes_dir}/_batch=99"
    )

    mirror.start(changes_dir, available_now=True).awaitTermination(120)

    got = {
        r["id"]: (r["val"], r["note"])
        for r in mirror.read_target().collect()
    }
    # wave-1 replay: keys 1,2,3 inserted/updated, 2 deleted then nothing
    # (delete at v5 is last wave-1 op for key 2); wave 2 updates 3 and
    # inserts 4 WITH notes
    assert got == {
        10: ("s10", None),
        11: ("s11", None),
        1: ("a2", None),
        3: ("c2", "n3"),
        4: ("d", "n4"),
    }
    # checkpoint survived: wave-1 delta batches were NOT reprocessed
    # (only new batch dirs appeared)
    n_batches_after = len(
        glob.glob(f"{mirror.target_dir}/delta/_batch=*")
    )
    assert n_batches_after == n_batches_before + 1


def test_checksum_parity_catches_value_drift(spark, tmp_path, mirror):
    """checksum_parity: equal counts with different VALUES must flag
    out-of-sync (count-only parity cannot see this); a true match
    reports in_sync with equal checksums."""
    snap = spark.createDataFrame([(10, "s10"), (11, "s11")], ROW_SCHEMA)
    mirror.snapshot(snap)
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)

    expect = _naive_replay(EVENTS, base={10: "s10", 11: "s11"})
    true_src = spark.createDataFrame(sorted(expect.items()), ROW_SCHEMA)
    row = mirror.checksum_parity(true_src).collect()[0]
    assert row["in_sync"] and row["src_checksum"] == row["tgt_checksum"]
    assert row["src_cnt"] == row["tgt_cnt"] == len(expect)
    # the canonical row form is a replayable contract: sum over rows of
    # md5-60bit("<id>\x1f<val>") for {1: a3, 2: b-re, 10: s10, 11: s11}
    assert row["src_checksum"] == "1949418936099622406"

    # same COUNT, one drifted value -> counts agree, checksums don't
    drifted = [
        (k, (v + "_corrupt") if k == 1 else v)
        for k, v in sorted(expect.items())
    ]
    row2 = mirror.checksum_parity(
        spark.createDataFrame(drifted, ROW_SCHEMA)
    ).collect()[0]
    assert row2["src_cnt"] == row2["tgt_cnt"]
    assert not row2["in_sync"]
    assert row2["src_checksum"] != row2["tgt_checksum"]


def test_compact_after_evolve_preserves_widened_state(
    spark, tmp_path, mirror
):
    """compact() after evolve(): the folded base is written in the
    widened schema (old rows NULL for the new column) and later
    change batches still converge against it."""
    import datetime

    snap = spark.createDataFrame([(10, "s10")], ROW_SCHEMA)
    mirror.snapshot(snap)
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS[:4]), changes_dir, 2)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)

    mirror.evolve(WIDE_SCHEMA)
    mirror.compact()
    base = _read_manifest(spark, mirror.target_dir)["base"]
    base_cols = set(
        spark.read.parquet(f"{mirror.target_dir}/{base}").columns
    )
    assert {"id", "val", "note", "_version"} <= base_cols

    wide_schema = T.StructType(
        [
            T.StructField("_op", T.StringType()),
            T.StructField("_version", T.LongType()),
            T.StructField("_ts", T.TimestampType()),
        ]
        + list(WIDE_SCHEMA.fields)
    )
    spark.createDataFrame(
        [("update", 9, datetime.datetime(2026, 1, 1), 1, "a9", "note9")],
        wide_schema,
    ).coalesce(1).write.parquet(f"{changes_dir}/_batch=50")
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    got = {
        r["id"]: (r["val"], r["note"])
        for r in mirror.read_target().collect()
    }
    # EVENTS[:4] replay: 1->a2, 2->b, 3->c; then 1 updated with a note
    assert got == {
        10: ("s10", None),
        1: ("a9", "note9"),
        2: ("b", None),
        3: ("c", None),
    }


def test_evolve_rejects_drops_retypes_and_active_stream(
    spark, tmp_path, mirror
):
    with pytest.raises(ValueError, match="drop"):
        mirror.evolve(
            T.StructType([T.StructField("id", T.IntegerType())])
        )
    with pytest.raises(ValueError, match="retype"):
        mirror.evolve(
            T.StructType(
                [
                    T.StructField("id", T.LongType()),
                    T.StructField("val", T.StringType()),
                ]
            )
        )
    # unchanged schema is a trivially-valid superset
    mirror.evolve(ROW_SCHEMA)


def test_validate_changes_quarantines_malformed_events(spark):
    """Dead-letter split: unknown ops, null/reserved versions, and
    null keys are quarantined with actionable reasons; valid rows pass
    through untouched and apply cleanly."""
    from peerdb_cdc_psql_clickhouse_spark.operators.cdc import (
        BASE_VERSION,
        validate_changes,
    )

    t = __import__("datetime").datetime(2026, 1, 1)
    # nullable copy of the envelope: malformed feeds ARE the input here
    schema = T.StructType(
        [
            T.StructField(f.name, f.dataType, True)
            for f in change_event_schema(ROW_SCHEMA).fields
        ]
    )
    rows = [
        ("insert", 1, t, 1, "a"),          # ok
        ("upsert", 2, t, 1, "bad-op"),     # unknown op
        (None, 5, t, 1, "null-op"),        # NULL op (ADVICE r2: ~isin
        #   is NULL, not TRUE, for NULL input — must still quarantine,
        #   else it wins max-version and apply's null-unsafe delete
        #   filter silently drops the key: a phantom delete)
        ("update", None, t, 1, "no-ver"),  # null version
        ("update", BASE_VERSION, t, 1, "reserved"),  # sentinel clash
        ("update", 3, t, None, "no-key"),  # null key
        ("update", 4, t, 1, "a2"),         # ok
    ]
    changes = spark.createDataFrame(rows, schema)
    valid, quarantined = validate_changes(changes, ["id"])
    assert valid.count() == 2
    reasons = {
        r["val"]: r["_reject_reason"] for r in quarantined.collect()
    }
    assert reasons == {
        "bad-op": "unknown_op",
        "null-op": "unknown_op",
        "no-ver": "null_version",
        "reserved": "reserved_version",
        "no-key": "null_key:id",
    }
    assert _as_dict(merge_changes(None, valid, ["id"])) == {1: "a2"}


def test_stream_status_surfaces_state_and_late_drops(spark, tmp_path):
    """O-C9 observability: a stateful (windowed) query's status row
    reports state-store rows and rows discarded as too-late — the
    pg_stat_replication / system.metrics analog. A far-future first
    batch advances the watermark; a second batch carrying an event
    older than the watermark is dropped and counted."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    far = t0 + dt.timedelta(hours=2)
    ev_schema = change_event_schema(ROW_SCHEMA)
    feed = str(tmp_path / "feed")

    def drain():
        # fresh query over the SAME checkpoint: drain 1's committed
        # watermark deterministically gates drain 2 (in-run watermark
        # commit timing vs file order is racy)
        read_schema = T.StructType(
            list(ev_schema.fields)
            + [T.StructField("f", T.IntegerType())]
        )
        stream = (
            spark.readStream.schema(read_schema)
            .option("basePath", feed)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .drop("f")
        )
        q = (
            windowed_op_counts(stream, watermark="10 seconds")
            .writeStream.outputMode("update")
            .queryName("late_status_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .format("noop")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return q

    spark.createDataFrame(
        [("insert", 1, far, 1, "new")], ev_schema
    ).write.parquet(f"{feed}/f=1")
    q1 = drain()
    spark.createDataFrame(
        [("insert", 2, t0, 2, "ancient")], ev_schema  # behind watermark
    ).write.parquet(f"{feed}/f=2")
    q2 = drain()

    sts = {
        i: r for i, r in enumerate(stream_status(spark, [q1, q2]).collect())
    }
    assert sum(r["input_rows"] for r in sts.values()) == 2
    assert sts[1]["state_rows"] >= 1  # open window held in state
    assert sts[1]["late_rows_dropped"] >= 1  # the ancient event


def test_mirror_restart_is_exactly_once(spark, tmp_path, mirror):
    """Restarting from the checkpoint after a drain must not re-apply
    old batches; new batches still apply."""
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS[:5]), changes_dir, 3)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    first = _as_dict(mirror.read_target())
    assert first == _naive_replay(EVENTS[:5])

    # append the remaining events as later batch dirs, restart
    more = _mk_changes(spark, EVENTS[5:]).withColumn(
        "_batch", F.expr("_version div 3")
    )
    more.repartition("_batch").write.partitionBy("_batch").mode(
        "append"
    ).parquet(changes_dir)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    assert _as_dict(mirror.read_target()) == _naive_replay(EVENTS)


def test_stream_runs_one_job_per_data_batch(spark, tmp_path, mirror):
    """The apply writes each micro-batch as it arrived, in one Spark
    job per data batch. Structured Streaming runs a batch's jobs under
    the query's runId job group."""
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    q = mirror.start(changes_dir, available_now=True)
    q.awaitTermination(120)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(data_batches) == 4
    assert len(jobs) == len(data_batches)


def test_mirror_compact_preserves_state(spark, tmp_path, mirror):
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    before = _as_dict(mirror.read_target())
    mirror.compact()
    assert _as_dict(mirror.read_target()) == before
    # delta is folded away; target is pure base now
    assert mirror._read_delta() is None


def _crash_on_delete(monkeypatch, suffix):
    """Make the Mirror's filesystem delete of the path ending in
    `suffix` raise, as a process dying at that step would."""
    import peerdb_cdc_psql_clickhouse_spark.streaming.mirror as mirror_mod

    real = mirror_mod.hadoop_fs

    class CrashingFs:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def delete(self, p, recursive):
            if p.toString().endswith(suffix):
                raise OSError(f"simulated crash deleting {suffix}")
            return self._fs.delete(p, recursive)

    def crashing_hadoop_fs(spark, path):
        fs, p, jvm = real(spark, path)
        return CrashingFs(fs), p, jvm

    monkeypatch.setattr(mirror_mod, "hadoop_fs", crashing_hadoop_fs)


def _on_disk(m):
    """(base generation dirs, delta batch dirs) under the mirror."""
    import os

    names = os.listdir(m.target_dir)
    delta = f"{m.target_dir}/delta"
    batches = os.listdir(delta) if os.path.exists(delta) else []
    return sorted(n for n in names if n.startswith("base_g")), sorted(batches)


@pytest.mark.parametrize("crash", ["before_commit", "before_prune", "mid_prune"])
def test_compact_crash_at_each_commit_step_keeps_state(
    spark, tmp_path, mirror, monkeypatch, crash
):
    """A crash at each step of compaction's commit: after the new base
    generation is written and before the manifest commit; after the
    commit and before the prune; partway through the prune (after
    base_g1 and delta batch 0 are deleted). A fresh Mirror reads the
    pre-crash state, and the next compact() converges and leaves only
    what the two kept records reference."""
    import peerdb_cdc_psql_clickhouse_spark.streaming.mirror as mirror_mod

    mirror.snapshot(
        spark.createDataFrame([(i, f"s{i}") for i in range(10, 19)], ROW_SCHEMA)
    )
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    before = _as_dict(mirror.read_target())
    assert len(before) > len(_naive_replay(EVENTS))
    mirror.compact()  # folds batches 0-3; the next compact retires them

    def boom(*a, **kw):
        raise OSError("simulated crash")

    if crash == "before_commit":
        monkeypatch.setattr(mirror_mod, "_commit_manifest", boom)
    elif crash == "before_prune":
        monkeypatch.setattr(mirror_mod, "kept_manifests", boom)
    else:
        _crash_on_delete(monkeypatch, "/delta/_batch=1")
    with pytest.raises(OSError, match="simulated crash"):
        mirror.compact()
    monkeypatch.undo()
    gens, _batches = _on_disk(mirror)
    assert "base_g3" in gens  # the crashed compaction wrote its generation

    fresh = _mirror_t(spark, tmp_path)
    assert _as_dict(fresh.read_target()) == before
    fresh.compact()
    assert _as_dict(fresh.read_target()) == before
    kept = kept_manifests(spark, fresh.target_dir)
    assert _on_disk(fresh) == (sorted(r["base"] for r in kept), [])


def test_compact_refuses_while_apply_is_active(spark, tmp_path, mirror):
    """ADVICE r1: folding delta while the streaming apply runs can
    delete a batch the checkpoint says was applied. compact() must
    refuse instead."""
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    q = mirror.start(
        changes_dir, available_now=False, processing_time="1 second"
    )
    try:
        with pytest.raises(RuntimeError, match="active"):
            mirror.compact()
    finally:
        q.stop()
        q.awaitTermination(60)


def test_compact_tolerates_replayed_delta_batch(spark, tmp_path, mirror):
    """A delta batch that survives compaction (raced in while batch
    dirs were being removed) re-applies over the new base without
    changing the converged state — max-version-wins is idempotent, so
    compact()'s snapshot-then-delete never needs to block appends."""
    import shutil as _sh

    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    before = _as_dict(mirror.read_target())

    import glob as _glob

    a_batch = sorted(_glob.glob(f"{mirror.target_dir}/delta/_batch=*"))[0]
    saved = str(tmp_path / "saved_batch")
    _sh.copytree(a_batch, saved)
    mirror.compact()
    _sh.copytree(saved, f"{mirror.target_dir}/delta/_batch=999")
    assert _as_dict(mirror.read_target()) == before


def test_compact_crash_in_fold_loop_keeps_later_tombstones(
    spark, tmp_path, mirror, monkeypatch
):
    """The folded delta batches are deleted by the prune of the
    compaction AFTER the one that folded them. Batch 2 updates key 2
    and batch 11 deletes it; a crash while the second compaction
    deletes _batch=2 leaves batches 2-11 on disk, and they must stay
    folded rather than bring key 2 back as 'b2'."""
    events = (
        [("insert", 0, 1, "a0"), ("insert", 1, 2, "b1"), ("update", 2, 2, "b2")]
        + [("update", v, 1, f"a{v}") for v in range(3, 11)]
        + [("delete", 11, 2, None)]
    )
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, events), changes_dir, 1)
    stagger_mtimes(*[f"{changes_dir}/_batch={v}" for v in range(12)])
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    assert _as_dict(mirror.read_target()) == {1: "a10"}
    mirror.compact()

    _crash_on_delete(monkeypatch, "/delta/_batch=2")
    with pytest.raises(OSError, match="simulated crash"):
        mirror.compact()
    monkeypatch.undo()

    fresh = _mirror_t(spark, tmp_path)
    assert sorted(map(tuple, fresh.read_target().collect())) == [(1, "a10")]


def test_rerun_of_folded_batch_is_ignored(spark, tmp_path, mirror):
    """Structured Streaming re-runs a batch under its id. Once
    compaction has folded that id, the re-run's part is not read: here
    batch 0 updates key 2, batch 1 deletes it, and re-running batch 0
    after the compaction must not bring key 2 back."""
    mirror.snapshot(spark.createDataFrame([(1, "a"), (2, "b")], ROW_SCHEMA))
    batch0 = _mk_changes(spark, [("update", 5, 1, "a5"), ("update", 6, 2, "b6")])
    batch1 = _mk_changes(spark, [("update", 9, 1, "a9"), ("delete", 10, 2, None)])
    mirror._apply_batch(batch0, 0)
    mirror._apply_batch(batch1, 1)
    mirror.compact()
    mirror._apply_batch(batch0, 0)
    assert sorted(map(tuple, mirror.read_target().collect())) == [(1, "a9")]


def test_frame_read_before_compact_collects_after_it(spark, tmp_path, mirror):
    """Snapshot isolation: a read_target() frame built before compact()
    still collects the same rows after it, because the compaction
    writes a new base generation and retires nothing the previous
    record reads until the next compaction."""
    mirror.snapshot(spark.createDataFrame([(10, "s10")], ROW_SCHEMA))
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    rows = sorted(map(tuple, mirror.read_target().collect()))
    # not collected before the compaction: a second collect of one
    # frame would reuse its shuffle output instead of reading files
    frame = mirror.read_target()
    mirror.compact()
    assert sorted(map(tuple, frame.collect())) == rows


def test_start_refuses_checkpoint_behind_folded_batch(spark, tmp_path, mirror):
    """A checkpoint deleted after a compaction would restart the stream
    at batch 0, below the folded id, so its batches would be ignored.
    start() raises and names resync(); resync() then converges."""
    import shutil

    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    mirror.snapshot(spark.createDataFrame([(50, "seed")], ROW_SCHEMA))
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    mirror.compact()
    expect = _naive_replay(EVENTS, base={50: "seed"})
    assert _as_dict(mirror.read_target()) == expect

    shutil.rmtree(mirror.checkpoint)
    with pytest.raises(RuntimeError, match="resync"):
        mirror.start(changes_dir, available_now=True, max_files_per_trigger=None)

    mirror.resync(spark.createDataFrame([(50, "seed")], ROW_SCHEMA))
    mirror.start(
        changes_dir, available_now=True, max_files_per_trigger=None
    ).awaitTermination(120)
    assert _as_dict(mirror.read_target()) == expect


def test_raw_batches_with_several_versions_per_key_converge(spark, tmp_path):
    """Each micro-batch holds several versions of one key (insert then
    update, insert then delete, delete then re-insert) and is written
    to the delta raw; read_target, a bucketed lookup and the compacted
    base all give the replay's answer, and a restart from the
    checkpoint re-applies nothing."""
    import glob

    m = _mirror_t(spark, tmp_path, n_buckets=4)
    snap = {3: "s3", 4: "s4"}
    m.snapshot(spark.createDataFrame(sorted(snap.items()), ROW_SCHEMA))
    events = [
        ("insert", 0, 1, "a"),
        ("update", 1, 1, "a2"),
        ("insert", 2, 2, "b"),
        ("delete", 3, 2, None),
        ("delete", 4, 3, None),
        ("insert", 5, 3, "c-re"),
    ]
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, events), changes_dir, 2)
    m.start(changes_dir, available_now=True).awaitTermination(120)

    expect = _naive_replay(events, base=snap)
    assert expect == {1: "a2", 3: "c-re", 4: "s4"}
    assert _as_dict(m.read_target()) == expect
    # the delta holds every event, not one row per key and batch
    assert m._read_delta().count() == len(events)

    def looked_up():
        return {
            k: [r["val"] for r in m.lookup(id=k).collect()] for k in (1, 2, 3, 4)
        }

    want = {1: ["a2"], 2: [], 3: ["c-re"], 4: ["s4"]}
    assert looked_up() == want

    parts = sorted(glob.glob(f"{m.target_dir}/delta/_batch=*/*.parquet"))
    q = m.start(changes_dir, available_now=True)
    q.awaitTermination(120)
    assert sum(p["numInputRows"] for p in q.recentProgress) == 0
    assert sorted(glob.glob(f"{m.target_dir}/delta/_batch=*/*.parquet")) == parts
    assert _as_dict(m.read_target()) == expect

    m.compact()
    assert m._read_delta() is None
    assert _as_dict(m.read_target()) == expect
    assert looked_up() == want


def test_negative_change_version_beats_base(spark):
    """ADVICE r1: base rows are sentinel Long.MIN, so a change event
    with _version <= -1 still deterministically wins over the current
    state instead of tying with the old -1 sentinel."""
    current = spark.createDataFrame([(1, "old")], ROW_SCHEMA)
    changes = _mk_changes(spark, [("update", -5, 1, "new")])
    merged = merge_changes(current, changes, ["id"])
    assert _as_dict(merged) == {1: "new"}


def test_bucketed_mirror_lookup_prunes_partitions(spark, tmp_path):
    """pk-bucketed base: point lookups carry an explicit _bucket
    predicate and the parquet scan prunes to one bucket dir."""
    import contextlib
    import io

    m = Mirror(
        spark,
        name="mirror_b",
        schema="public",
        table="tb",
        key_cols=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "warehouse"),
        checkpoint_root=str(tmp_path / "ckpt"),
        n_buckets=8,
    )
    snap = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], ROW_SCHEMA
    )
    m.snapshot(snap)

    # converged state intact after bucketed snapshot + apply + compact
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    m.start(changes_dir, available_now=True).awaitTermination(120)
    got = m.lookup(id=1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(_bucket" in plan or (
        "_bucket" in plan and "PartitionFilters" in plan
    )
    assert [r["val"] for r in got.collect()] == ["a3"]  # updated by stream

    m.compact()
    assert [r["val"] for r in m.lookup(id=1).collect()] == ["a3"]
    assert m.lookup(id=3).count() == 0  # deleted key
    # snapshot ids 0..99; stream applies EVENTS over ids 1,2,3
    # (final: 1->a3, 2->b-re, 3 deleted)
    assert m.read_target().count() == 99


def test_bucketed_lookup_runs_one_job_and_prunes(spark, tmp_path):
    """A point lookup on a snapshot-only bucketed mirror runs exactly
    one Spark job: the bucket is a literal expression Catalyst folds
    into the scan's PartitionFilters, not a job of its own."""
    import contextlib
    import io
    import re

    from bench import timed

    m = Mirror(
        spark,
        name="mirror_b1",
        schema="public",
        table="tb1",
        key_cols=["id"],
        row_schema=ROW_SCHEMA,
        target_root=str(tmp_path / "warehouse"),
        checkpoint_root=str(tmp_path / "ckpt"),
        n_buckets=16,
    )
    m.snapshot(spark.createDataFrame([(i, f"v{i}") for i in range(100)], ROW_SCHEMA))
    rec = timed(spark, lambda: m.lookup(id=42).collect(), "lookup")
    assert [r["val"] for r in rec["value"]] == ["v42"]
    assert rec["jobs"] == 1
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        m.lookup(id=42).explain("formatted")
    bucket = spark.sql(
        "SELECT pmod(hash(CAST(42 AS INT)), 16) AS b"
    ).collect()[0]["b"]
    plan = re.sub(r"#\d+", "", buf.getvalue())
    assert f"PartitionFilters: [isnotnull(_bucket), (_bucket = {bucket})]" in plan


def test_mirror_set_three_tables(spark, tmp_path):
    """The reference's full mirror: customers/products/orders
    replicated together, per-table parity all SYNCED
    (quickstart_prepare_peers.sh tables; monitor §4 report)."""
    from peerdb_cdc_psql_clickhouse_spark.operators.relational import (
        seed_frames,
    )
    from peerdb_cdc_psql_clickhouse_spark.catalog import (
        CUSTOMERS_SCHEMA,
        ORDERS_SCHEMA,
        PRODUCTS_SCHEMA,
    )

    customers, products, orders = seed_frames(spark)
    ms = MirrorSet(
        spark,
        name="ref_mirror",
        schema="public",
        tables={
            "customers": (["id"], CUSTOMERS_SCHEMA),
            "products": (["id"], PRODUCTS_SCHEMA),
            "orders": (["id"], ORDERS_SCHEMA),
        },
        target_root=str(tmp_path / "wh"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    ms.snapshot_all(
        {"customers": customers, "products": products, "orders": orders}
    )

    # stream a change feed for orders only: one insert, one delete
    import datetime as dt

    new_orders = spark.createDataFrame(
        [
            ("insert", 1, dt.datetime(2026, 1, 1), 10006,
             dt.date(2026, 1, 1), 1004, 7, 103),
            ("delete", 2, dt.datetime(2026, 1, 1), 10001,
             None, None, None, None),
        ],
        change_event_schema(ORDERS_SCHEMA),
    )
    changes_dir = str(tmp_path / "orders_changes")
    write_change_batches(new_orders, changes_dir, rows_per_batch=10)
    for q in ms.start_all({"orders": changes_dir}, available_now=True):
        q.awaitTermination(120)

    final_orders = ms.mirrors["orders"].read_target()
    assert final_orders.count() == 5  # 5 seed + 1 insert - 1 delete

    # independent expected source state: seed -10001 +10006
    expected_orders = orders.filter(F.col("id") != 10001).unionByName(
        spark.createDataFrame(
            [(10006, dt.date(2026, 1, 1), 1004, 7, 103)], ORDERS_SCHEMA
        )
    )
    report = ms.parity_report(
        {
            "customers": customers,
            "products": products,
            "orders": expected_orders,
        }
    )
    rows = {r["table_name"]: r for r in report.collect()}
    assert set(rows) == {"public_customers", "public_products", "public_orders"}
    assert all(r["status"] == "SYNCED" and r["lag"] == 0 for r in rows.values())


def test_windowed_op_counts_through_real_stream(spark, tmp_path):
    """O-C10 streaming path: watermark + window over a file-source
    stream, drained with availableNow, matches batch totals."""
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    stream = spark.readStream.schema(
        change_event_schema(ROW_SCHEMA).add("_batch", "integer")
    ).option("basePath", changes_dir).parquet(changes_dir).drop("_batch")
    got = {}

    def capture(batch, batch_id):
        # update mode: last emission per (window, op) is the total
        for r in batch.collect():
            got[(r["window_start"], r["_op"])] = r["cnt"]

    q = (
        windowed_op_counts(stream, watermark="1 minute")
        .writeStream.outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by_op = {}
    for (_, op), cnt in got.items():
        by_op[op] = by_op.get(op, 0) + cnt
    assert by_op == {"insert": 4, "update": 3, "delete": 2}


def test_windowed_op_counts_append_mode_finalized_windows(spark, tmp_path):
    """Append mode on a watermarked windowed agg emits each window
    exactly once, AFTER the watermark closes it (finalized-result
    semantics). A far-future pusher event in a second micro-batch
    advances the watermark past the data windows; the pusher's own
    window stays open and must NOT be emitted."""
    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    far = t0 + dt.timedelta(hours=1)
    ev_schema = T.StructType(
        [
            T.StructField("_op", T.StringType()),
            T.StructField("_version", T.LongType()),
            T.StructField("_ts", T.TimestampType()),
        ]
        + list(ROW_SCHEMA.fields)
    )
    b1 = [("insert", 1, t0, 1, "a"), ("update", 2, t0, 1, "a2"),
          ("delete", 3, t0 + dt.timedelta(seconds=61), 1, "")]
    b2 = [("insert", 99, far, 9, "z")]  # watermark pusher
    feed = str(tmp_path / "feed")
    spark.createDataFrame(b1, ev_schema).write.parquet(f"{feed}/f=1")
    spark.createDataFrame(b2, ev_schema).write.parquet(f"{feed}/f=2")
    stagger_mtimes(f"{feed}/f=1", f"{feed}/f=2")
    stream = (
        spark.readStream.schema(
            change_event_schema(ROW_SCHEMA).add("f", "integer")
        )
        .option("basePath", feed)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .drop("f")
    )
    got = []
    q = (
        windowed_op_counts(stream, watermark="1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(lambda b, _id: got.extend(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = {(r["window_start"], r["_op"]): r["cnt"] for r in got}
    assert emitted == {
        (t0, "insert"): 1,
        (t0, "update"): 1,
        (t0 + dt.timedelta(minutes=1), "delete"): 1,
    }  # pusher window still open -> withheld, exactly-once per window


def test_op_totals_complete_mode(spark, tmp_path):
    """Complete mode: an unwindowed running total re-emits the whole
    result every trigger; the final emission equals batch totals."""
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    stream = (
        spark.readStream.schema(
            change_event_schema(ROW_SCHEMA).add("_batch", "integer")
        )
        .option("basePath", changes_dir)
        .parquet(changes_dir)
        .drop("_batch")
    )
    totals = stream.groupBy("_op").agg(F.count(F.lit(1)).alias("cnt"))
    last = {}

    def capture(batch, _id):
        snap = {r["_op"]: r["cnt"] for r in batch.collect()}
        if snap:
            last.clear()
            last.update(snap)

    q = (
        totals.writeStream.outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert last == {"insert": 4, "update": 3, "delete": 2}


def test_stream_static_dim_enrichment(spark, tmp_path):
    """CDC enrichment: the orders change stream joined to the static
    customers dimension (broadcast) INSIDE the streaming query —
    Structured Streaming's stream-static join, the 100 TB pattern for
    denormalizing a change feed on the fly."""
    from peerdb_cdc_psql_clickhouse_spark.catalog import ORDERS_SCHEMA
    from peerdb_cdc_psql_clickhouse_spark.operators.relational import (
        seed_frames,
    )
    import datetime as dt

    customers, _, _ = seed_frames(spark)
    changes = spark.createDataFrame(
        [
            ("insert", 1, dt.datetime(2026, 1, 1), 10010,
             dt.date(2026, 1, 2), 1001, 3, 101),
            ("insert", 2, dt.datetime(2026, 1, 1), 10011,
             dt.date(2026, 1, 3), 1004, 5, 102),
        ],
        change_event_schema(ORDERS_SCHEMA),
    )
    changes_dir = str(tmp_path / "changes")
    write_change_batches(changes, changes_dir, rows_per_batch=10)

    stream = read_changes_stream(
        spark, changes_dir, change_event_schema(ORDERS_SCHEMA),
        max_files_per_trigger=None,
    )
    enriched = stream.join(
        F.broadcast(customers), stream.purchaser == customers.id
    ).select(
        stream.id.alias("order_id"), "email", "_op", "_version"
    )
    got = []

    def capture(batch, batch_id):
        got.extend(r.asDict() for r in batch.collect())

    q = (
        enriched.writeStream.option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .foreachBatch(capture)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    by_order = {r["order_id"]: r["email"] for r in got}
    assert by_order == {
        10010: "sally.thomas@acme.com",
        10011: "annek@noanswer.org",
    }


def test_windowed_op_counts_batch_semantics(spark):
    """O-C10: same aggregation runs on a static frame (streaming uses
    identical expressions; watermark only bounds state)."""
    changes = _mk_changes(spark, EVENTS)
    out = windowed_op_counts(changes, window="1 minute")
    got = {(r["_op"]): r["cnt"] for r in out.collect()}
    assert got == {"insert": 4, "update": 3, "delete": 2}


def test_mirror_resync_replays_feed_over_fresh_snapshot(
    spark, tmp_path, mirror
):
    """resync(): drop target + checkpoint, re-snapshot, restart — the
    reference's reset-environment + recreate-mirror lifecycle. The
    full feed replays from offset 0 over the new base and converges to
    the same state; a resync with a CORRECTED source snapshot heals
    rows the feed never touches."""
    changes_dir = str(tmp_path / "changes")
    write_change_batches(_mk_changes(spark, EVENTS), changes_dir, 3)
    mirror.snapshot(spark.createDataFrame([(50, "seed")], ROW_SCHEMA))
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    before = _as_dict(mirror.read_target())
    assert before[50] == "seed"

    with pytest.raises(RuntimeError, match="active"):
        q = mirror.start(
            changes_dir, available_now=False, processing_time="1 second"
        )
        try:
            mirror.resync(
                spark.createDataFrame([(50, "seed-v2")], ROW_SCHEMA)
            )
        finally:
            q.stop()
            q.awaitTermination(60)

    mirror.resync(spark.createDataFrame([(50, "seed-v2")], ROW_SCHEMA))
    # checkpoint gone -> the stream replays the whole feed
    mirror.start(changes_dir, available_now=True).awaitTermination(120)
    after = _as_dict(mirror.read_target())
    assert after == {**before, 50: "seed-v2"}


def test_mirror_schema_evolution_widened_column(spark, tmp_path):
    """Schema evolution (VERDICT r1 'What's missing' #3): a mirror
    started on the v1 row schema, then reopened with a widened v2
    schema (added nullable column), must converge v2 change events
    while old base/delta files read as NULL for the new column —
    across streaming apply, merge-on-read, lookup, and compact."""
    v2 = T.StructType(
        list(ROW_SCHEMA.fields) + [T.StructField("region", T.StringType())]
    )

    def mk(schema):
        return Mirror(
            spark,
            name="mirror_evo",
            schema="public",
            table="evo",
            key_cols=["id"],
            row_schema=schema,
            target_root=str(tmp_path / "warehouse"),
            checkpoint_root=str(tmp_path / "ckpt"),
        )

    # v1 lifecycle: snapshot + a few applied events
    m1 = mk(ROW_SCHEMA)
    m1.snapshot(spark.createDataFrame([(10, "s10")], ROW_SCHEMA))
    changes_v1 = str(tmp_path / "changes_v1")
    write_change_batches(_mk_changes(spark, EVENTS[:4]), changes_v1, 2)
    m1.start(changes_v1, available_now=True).awaitTermination(120)
    assert _as_dict(m1.read_target()) == _naive_replay(
        EVENTS[:4], base={10: "s10"}
    )

    # reopen widened; v2 events carry the new column
    m2 = mk(v2)
    rows = [
        ("update", 20, __import__("datetime").datetime(2026, 1, 2), 1,
         "a-v2", "eu"),
        ("insert", 21, __import__("datetime").datetime(2026, 1, 2), 4,
         "d", "us"),
    ]
    ev_schema = T.StructType(
        [
            T.StructField("_op", T.StringType()),
            T.StructField("_version", T.LongType()),
            T.StructField("_ts", T.TimestampType()),
        ]
        + list(v2.fields)
    )
    changes_v2 = str(tmp_path / "changes_v2")
    write_change_batches(
        spark.createDataFrame(rows, ev_schema), changes_v2, 2
    )
    m2.start(changes_v2, available_now=True).awaitTermination(120)

    got = {
        r["id"]: (r["val"], r["region"])
        for r in m2.read_target().collect()
    }
    assert got == {
        10: ("s10", None),   # snapshot row: new col NULL
        1: ("a-v2", "eu"),   # updated by v2 event
        2: ("b", None),      # v1 delta row: new col NULL
        3: ("c", None),
        4: ("d", "us"),      # inserted by v2 event
    }
    # point lookup surfaces the widened column
    one = m2.lookup(id=1).collect()
    assert one[0]["region"] == "eu"
    # compact folds mixed-schema delta into a v2 base, state unchanged
    m2.compact()
    got2 = {
        r["id"]: (r["val"], r["region"])
        for r in m2.read_target().collect()
    }
    assert got2 == got


def test_evolve_coerces_appended_nonnull_to_nullable(spark, tmp_path, mirror):
    """ADVICE r5: pre-evolution rows surface appended columns as NULL,
    so a non-nullable appended field would lie to downstream schema
    consumers — evolve() coerces it to nullable."""
    widened = T.StructType(
        list(ROW_SCHEMA.fields)
        + [T.StructField("note", T.StringType(), False)]
    )
    mirror.evolve(widened)
    got = {f.name: f.nullable for f in mirror.row_schema.fields}
    assert got["note"] is True
    # pre-existing fields keep their declared nullability
    for f in ROW_SCHEMA.fields:
        assert got[f.name] == f.nullable
