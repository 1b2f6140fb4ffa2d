"""Persisted text-index lifecycle (r8/r9): crash-atomic inserts,
tombstone deletes, compaction, update-as-delete+insert, change-feed
maintenance, manifest snapshot isolation, and the writer lease.

The crash tests drive the REAL recovery path by constructing the
exact on-disk states a kill leaves behind (stage without/with the
_COMMIT marker, partially-moved files, orphan generation dirs,
unlisted tombstone batches) and asserting the index is all-or-nothing
afterwards. The r9 manifest protocol closed the four ADVICE r8
windows: stats overwritten in place, the stats/tombstone/marker
TOCTOU, the live-dir gap mid-compact-swap, and torn tombstone
appends — each has a test below that fails on the r8 design.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from peerdb_cdc_psql_clickhouse_spark.operators.search import (
    _COMMIT,
    _STAGE,
    bm25_search,
    build_text_index,
    doc_lengths,
    open_text_index,
    phrase_search,
    save_full_text_index,
    term_search,
    text_index_apply_changes,
    text_index_compact,
    text_index_delete,
    text_index_insert,
)
from peerdb_cdc_psql_clickhouse_spark.session import hadoop_fs

DOCS = [
    (1, "alpha beta gamma"),
    (2, "beta gamma delta"),
    (3, "gamma delta epsilon alpha"),
    (4, "delta epsilon zeta"),
    (5, "epsilon zeta alpha beta"),
]


def _docs(spark, rows=None):
    return spark.createDataFrame(rows or DOCS, "doc_id long, text string")


def _index_state(spark, root):
    """Everything a search can observe: postings content (sans the
    _gen maintenance column), lengths membership, corrected stats."""
    post, lengths, stats = open_text_index(spark, root)
    p = {
        (r.term, r.doc_id, tuple(r.positions), r.tf, r.dl, r.bucket)
        for r in post.collect()
    }
    ln = {(r.doc_id, r.dl) for r in lengths.collect()}
    return p, ln, stats


def _searches(spark, root):
    post, lengths, stats = open_text_index(spark, root)
    return {
        "bm25": {
            tuple(r)
            for r in bm25_search(
                post, lengths, ["alpha", "beta"], k=10, stats=stats
            ).collect()
        },
        "term": {
            tuple(r) for r in term_search(post, ["gamma"], "or").collect()
        },
        "phrase": {
            tuple(r) for r in phrase_search(post, "beta gamma").collect()
        },
    }


def _stage_crashed_insert(spark, root, batch, commit: bool):
    """Reproduce the on-disk state of an insert killed mid-protocol:
    staged postings+lengths at generation 1, marker written (or not),
    and — when committed — ONE staged file already moved in."""
    stage = f"{root}/{_STAGE}"
    build_text_index(batch).withColumn(
        "_gen", F.lit(1).cast("long")
    ).write.partitionBy("bucket").parquet(f"{stage}/postings")
    doc_lengths(batch).withColumn(
        "_gen", F.lit(1).cast("long")
    ).write.parquet(f"{stage}/lengths")
    if not commit:
        return
    open(f"{stage}/{_COMMIT}", "w").close()
    moved = sorted(glob.glob(f"{stage}/postings/bucket=*/part-*.parquet"))[0]
    rel = os.path.relpath(moved, stage)
    dest = f"{root}/{rel}"
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.rename(moved, dest)


def test_insert_crash_before_commit_rolls_back(spark, tmp_path):
    """Kill before the _COMMIT marker: nothing of the batch is ever
    visible. READERS do not disturb the stage (it could belong to a
    LIVE writer — the r8 follow-up contract); the next WRITER rolls
    it back and the retried insert lands exactly once."""
    root = str(tmp_path / "idx")
    save_full_text_index(_docs(spark), root)
    before_p, before_l, before_s = _index_state(spark, root)

    batch = _docs(spark, [(6, "eta theta alpha")])
    _stage_crashed_insert(spark, root, batch, commit=False)
    # a reader sees the old index AND leaves the stage alone — open
    # must never delete what might be a live writer's staged batch
    assert _index_state(spark, root) == (before_p, before_l, before_s)
    assert os.path.exists(f"{root}/{_STAGE}")

    # the retry (a writer) rolls the stale stage back, then lands the
    # batch exactly once — no double count
    st = text_index_insert(spark, root, batch)
    assert st["n_new_docs"] == 1
    assert not os.path.exists(f"{root}/{_STAGE}")
    p, ln, stats = _index_state(spark, root)
    assert (6, 3) in ln and stats == (before_s[0] + 1, before_s[1] + 3)
    assert {
        r.doc_id
        for r in term_search(
            open_text_index(spark, root)[0], ["theta"], "or"
        ).collect()
    } == {6}


def test_insert_crash_after_commit_rolls_forward(spark, tmp_path):
    """Kill after the marker with files partially moved: READERS see
    exactly the pre-insert index (the generation gate hides the
    partially-moved files — snapshot isolation, never a torn batch);
    recovery (text_index_recover or any writer op) finishes the moves
    and re-derives stats — then the batch is FULLY visible and
    bm25/term/phrase agree on membership with a from-scratch rebuild
    of the same corpus."""
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        text_index_recover,
    )

    root = str(tmp_path / "idx")
    full = str(tmp_path / "full")
    save_full_text_index(_docs(spark), root)
    before = _index_state(spark, root)
    before_searches = _searches(spark, root)
    batch_rows = [(6, "eta theta alpha"), (7, "theta iota beta gamma")]
    _stage_crashed_insert(spark, root, _docs(spark, batch_rows), commit=True)

    # reader mid-crash: NOT a torn batch — exactly the old snapshot
    assert _index_state(spark, root) == before
    assert _searches(spark, root) == before_searches

    text_index_recover(spark, root)
    save_full_text_index(_docs(spark, DOCS + batch_rows), full)
    got_p, got_l, got_s = _index_state(spark, root)
    want_p, want_l, want_s = _index_state(spark, full)
    assert got_p == want_p and got_l == want_l and got_s == want_s
    assert not os.path.exists(f"{root}/{_STAGE}")
    assert _searches(spark, root) == _searches(spark, full)


def test_delete_then_search_excludes_doc_exactly(spark, tmp_path):
    """r6 brief #6: delete-then-search excludes the doc across ALL
    search modes, with scores EXACTLY equal to an index that never
    contained it (stats corrected, df recomputed from the filtered
    postings). A repeated delete is a no-op — stats cannot drift."""
    root = str(tmp_path / "idx")
    without = str(tmp_path / "without")
    save_full_text_index(_docs(spark), root)
    save_full_text_index(
        _docs(spark, [r for r in DOCS if r[0] != 3]), without
    )

    assert text_index_delete(spark, root, [3]) == 1
    assert text_index_delete(spark, root, [3]) == 0  # idempotent
    assert text_index_delete(spark, root, [99]) == 0  # never indexed

    assert _index_state(spark, root) == _index_state(spark, without)
    assert _searches(spark, root) == _searches(spark, without)


def test_compact_equals_rebuild_and_clears_markers(spark, tmp_path):
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _read_manifest,
    )

    root = str(tmp_path / "idx")
    without = str(tmp_path / "without")
    save_full_text_index(_docs(spark), root)
    save_full_text_index(
        _docs(spark, [r for r in DOCS if r[0] not in (2, 4)]), without
    )
    text_index_delete(spark, root, [2, 4])
    st = text_index_compact(spark, root)
    assert st == {"dropped_docs": 2, "n_docs": 3}
    m = _read_manifest(spark, root)
    assert m["tombstones"] == []
    # the retired batch dirs fall out of retention at the NEXT prune;
    # the compacted dirs are the manifest's generation dirs
    assert m["postings"].startswith("postings_g")
    assert _index_state(spark, root) == _index_state(spark, without)
    assert _searches(spark, root) == _searches(spark, without)
    # nothing tombstoned: compact is a no-op
    assert text_index_compact(spark, root)["dropped_docs"] == 0


def test_compact_crash_before_commit_leaves_old_snapshot(spark, tmp_path):
    """Compact killed after writing its new generation dirs but BEFORE
    the manifest commit: the orphan dirs are invisible (no record
    names them), readers see exactly the tombstone-filtered old
    snapshot, recovery prunes the orphans, and a re-run compact
    converges — no stats arithmetic exists to drift."""
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _read_manifest,
    )
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        open_text_index as _open,
        text_index_recover,
    )

    root = str(tmp_path / "idx")
    without = str(tmp_path / "without")
    save_full_text_index(_docs(spark), root)
    save_full_text_index(
        _docs(spark, [r for r in DOCS if r[0] not in (2, 4)]), without
    )
    text_index_delete(spark, root, [2, 4])

    # construct the crash state: the rewritten generation dirs exist
    # at the version the crashed compact would have committed
    post, lengths, _stats = _open(spark, root)
    newv = _read_manifest(spark, root)["v"] + 1
    post.write.partitionBy("bucket").parquet(f"{root}/postings_g{newv}")
    lengths.write.parquet(f"{root}/lengths_g{newv}")

    assert _index_state(spark, root) == _index_state(spark, without)
    assert _searches(spark, root) == _searches(spark, without)

    text_index_recover(spark, root)
    assert not os.path.exists(f"{root}/postings_g{newv}")
    assert _index_state(spark, root) == _index_state(spark, without)

    # the re-run compact lands cleanly over the pruned orphans
    st = text_index_compact(spark, root)
    assert st["dropped_docs"] == 2
    assert _read_manifest(spark, root)["tombstones"] == []
    assert _index_state(spark, root) == _index_state(spark, without)
    assert _searches(spark, root) == _searches(spark, without)


def test_reader_survives_live_compact(spark, tmp_path):
    """ADVICE r8: the old retire-swap left the live postings dir
    absent between two renames, so a reader racing a compact errored
    on read.parquet. With the manifest flip, a reader that opened
    BEFORE the compact keeps resolving its old dirs (retention keeps
    the previous manifest's dirs through one compaction) — its lazy
    frames still collect correct results AFTER the compact finishes."""
    root = str(tmp_path / "idx")
    without = str(tmp_path / "without")
    save_full_text_index(_docs(spark), root)
    save_full_text_index(
        _docs(spark, [r for r in DOCS if r[0] not in (2, 4)]), without
    )
    text_index_delete(spark, root, [2, 4])

    pre_post, pre_lengths, pre_stats = open_text_index(spark, root)
    st = text_index_compact(spark, root)
    assert st["dropped_docs"] == 2

    # the pre-compact reader's frames evaluate AFTER the flip
    got_p = {
        (r.term, r.doc_id, tuple(r.positions), r.tf, r.dl, r.bucket)
        for r in pre_post.collect()
    }
    want_p, want_l, want_s = _index_state(spark, without)
    assert got_p == want_p
    assert {(r.doc_id, r.dl) for r in pre_lengths.collect()} == want_l
    assert pre_stats == want_s
    # and a fresh open sees the compacted snapshot
    assert _index_state(spark, root) == (want_p, want_l, want_s)


def test_torn_tombstone_batch_is_invisible(spark, tmp_path):
    """ADVICE r8: tombstones used to commit via a plain multi-file
    append, so a reader racing a delete could observe a torn batch.
    Now a batch is visible IFF the manifest lists it: an on-disk batch
    dir without a manifest record (a delete killed between the batch
    write and the commit) changes nothing a reader can see, and
    recovery prunes it."""
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        _TOMB_DIR,
        text_index_recover,
    )

    root = str(tmp_path / "idx")
    save_full_text_index(_docs(spark), root)
    before = _index_state(spark, root)
    before_searches = _searches(spark, root)

    # the crash state: a complete, unlisted batch dir for doc 3
    spark.createDataFrame(
        [(3, 4, 0)], "doc_id long, dl long, up_to_gen long"
    ).write.parquet(f"{root}/{_TOMB_DIR}/b-torn")

    assert _index_state(spark, root) == before
    assert _searches(spark, root) == before_searches

    text_index_recover(spark, root)
    assert not os.path.exists(f"{root}/{_TOMB_DIR}/b-torn")
    assert _index_state(spark, root) == before
    # the retried delete then commits normally
    assert text_index_delete(spark, root, [3]) == 1


def test_writer_lease_blocks_second_writer(spark, tmp_path):
    """VERDICT r8 #3: the single-writer contract is enforced, not
    conventional. A held lease raises ConcurrentWriterError before any
    stage is touched; a stale lease (holder died) is broken and the
    write proceeds; the lease is released on success AND on failure."""
    import pytest

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        ConcurrentWriterError,
    )

    root = str(tmp_path / "idx")
    save_full_text_index(_docs(spark), root)
    lock = f"{root}/{_LOCK}"
    assert not os.path.exists(lock)  # released after the build

    open(lock, "w").close()  # a live writer's lease
    with pytest.raises(ConcurrentWriterError, match="lease"):
        text_index_insert(spark, root, _docs(spark, [(6, "eta theta")]))
    with pytest.raises(ConcurrentWriterError):
        text_index_delete(spark, root, [1])
    with pytest.raises(ConcurrentWriterError):
        text_index_compact(spark, root)
    assert os.path.exists(lock)  # a failed acquire never releases it

    # stale lease: holder died long ago -> broken, write proceeds,
    # lease released afterwards
    old = 10_000.0
    os.utime(lock, (os.stat(lock).st_atime - old, os.stat(lock).st_mtime - old))
    st = text_index_insert(spark, root, _docs(spark, [(6, "eta theta")]))
    assert st["n_new_docs"] == 1
    assert not os.path.exists(lock)


def test_manifest_commit_is_cas(spark, tmp_path):
    """Defense in depth under a broken lease: a manifest version can
    never be silently overwritten — a writer losing the CAS race
    surfaces as ConcurrentWriterError and the committed record stays
    intact."""
    import pytest

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        ConcurrentWriterError,
        _commit_manifest,
        _read_manifest,
    )

    root = str(tmp_path / "idx")
    save_full_text_index(_docs(spark), root)
    m = _read_manifest(spark, root)
    # both split-brain writers read snapshot v; the first commit wins
    # v+1, the second MUST fail instead of overwriting it
    won = _commit_manifest(spark, root, dict(m))
    with pytest.raises(ConcurrentWriterError, match="already committed"):
        _commit_manifest(spark, root, dict(m))
    assert _read_manifest(spark, root) == won


def test_update_is_delete_plus_insert_no_compaction(spark, tmp_path):
    """An UPDATE needs no compaction for visibility: the re-insert's
    generation outranks the tombstone, so the new text is searchable
    immediately and the old text is gone — bit-equal to an index
    built with the updated corpus."""
    root = str(tmp_path / "idx")
    rebuilt = str(tmp_path / "rebuilt")
    save_full_text_index(_docs(spark), root)
    new_rows = [r for r in DOCS if r[0] != 2] + [(2, "omega beta beta")]
    save_full_text_index(_docs(spark, new_rows), rebuilt)

    assert text_index_delete(spark, root, [2]) == 1
    text_index_insert(spark, root, _docs(spark, [(2, "omega beta beta")]))

    assert _index_state(spark, root) == _index_state(spark, rebuilt)
    assert _searches(spark, root) == _searches(spark, rebuilt)
    post = open_text_index(spark, root)[0]
    assert {
        r.doc_id for r in term_search(post, ["omega"], "or").collect()
    } == {2}
    # compaction afterwards reclaims the dead postings, same answers
    text_index_compact(spark, root)
    assert _index_state(spark, root) == _index_state(spark, rebuilt)


def test_lifecycle_index_equals_one_pass_build_on_corpus(spark):
    """The declared x9b index: built through partial build ->
    staged insert -> tombstone delete -> CDC-envelope re-upsert ->
    compact, converging to exactly the corpus — observable state and
    every search mode bit-equal to the one-pass build x9 uses. This
    pins locally what the driver's x9b hash checks against DuckDB."""
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        text_index_for,
        text_index_lifecycle_for,
        x9b_search_ops,
    )
    from tests.conftest import SF_SMOKE

    plain_p, plain_l, plain_s = text_index_for(spark, SF_SMOKE)
    lc_p, lc_l, lc_s = text_index_lifecycle_for(spark, SF_SMOKE)
    assert lc_s == plain_s
    def post_set(df):
        return {
            (r.term, r.doc_id, tuple(r.positions), r.tf, r.dl, r.bucket)
            for r in df.collect()
        }

    assert post_set(lc_p) == post_set(plain_p)
    assert {tuple(r) for r in lc_l.select("doc_id", "dl").collect()} == {
        tuple(r) for r in plain_l.select("doc_id", "dl").collect()
    }
    # compaction really ran: the manifest lists no tombstone batches
    # and points at compacted generation dirs
    from peerdb_cdc_psql_clickhouse_spark.artifacts import _persistent_slot
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _read_manifest,
    )
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        _text_index_key,
    )

    key = _text_index_key(SF_SMOKE)
    lc_path, lc_ready = _persistent_slot("lifecycle", key)
    plain_path, plain_ready = _persistent_slot("plain", key)
    assert lc_ready and plain_ready
    m = _read_manifest(spark, lc_path)
    assert m["tombstones"] == []
    assert m["postings"].startswith("postings_g")
    assert lc_path != plain_path
    # the declared query itself returns rows from the lifecycle index
    assert x9b_search_ops(spark, SF_SMOKE).count() > 0


def test_roots_without_manifest_or_meta_raise(spark, tmp_path):
    """A text-index root with no manifest (postings/lengths plus a
    stats/ dir) and an IVF root with no meta/ were not written by
    this engine: the reader and every writer raise ValueError naming
    the path instead of guessing the layout."""
    import pytest

    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        text_index_recover,
    )
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        load_ivf_index,
    )

    root = str(tmp_path / "nomanifest")
    build_text_index(_docs(spark)).write.partitionBy("bucket").parquet(
        f"{root}/postings"
    )
    doc_lengths(_docs(spark)).write.parquet(f"{root}/lengths")
    total_dl = sum(len(t.split()) for _i, t in DOCS)
    spark.createDataFrame(
        [(len(DOCS), total_dl, 0)], "n_docs long, sum_dl long, gen long"
    ).write.parquet(f"{root}/stats")
    for call in (
        lambda: open_text_index(spark, root),
        lambda: text_index_insert(spark, root, _docs(spark, [(9, "nu")])),
        lambda: text_index_delete(spark, root, [3]),
        lambda: text_index_compact(spark, root),
        lambda: text_index_recover(spark, root),
    ):
        with pytest.raises(ValueError, match="nomanifest.*rebuild"):
            call()
    assert sorted(os.listdir(root)) == ["lengths", "postings", "stats"]

    ivf = str(tmp_path / "nometa")
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    vecs.selectExpr("vec_id AS c_id", "embedding AS c_vec").write.parquet(
        f"{ivf}/centroids"
    )
    vecs.selectExpr(
        "vec_id AS centroid_id", "vec_id", "embedding"
    ).write.partitionBy("centroid_id").parquet(f"{ivf}/lists")
    with pytest.raises(ValueError, match="nometa.*rebuild"):
        load_ivf_index(spark, ivf)


def test_change_feed_maintains_index(spark, tmp_path):
    """The mirror's change feed drives the index: one envelope batch
    mixing insert/update/delete (with an intra-batch supersede)
    converges search membership to the mirrored table's final state."""
    import datetime as dt

    root = str(tmp_path / "idx")
    rebuilt = str(tmp_path / "rebuilt")
    save_full_text_index(_docs(spark), root)

    t0 = dt.datetime(2026, 1, 1)
    changes = spark.createDataFrame(
        [
            ("update", 10, t0, 1, "alpha rewritten kappa"),
            ("delete", 11, t0, 4, None),
            ("insert", 12, t0, 8, "kappa lambda"),
            # superseded within the batch: latest_state must keep only
            # version 14 for doc 8
            ("update", 14, t0, 8, "kappa mu nu"),
            ("insert", 13, t0, 9, "nu xi"),
        ],
        "_op string, _version long, _ts timestamp, doc_id long, text string",
    )
    st = text_index_apply_changes(spark, root, changes)
    assert st["tombstoned"] == 2  # docs 1 and 4 were live; 8/9 were not
    assert st["n_new_docs"] == 3  # 1 (rewritten), 8, 9

    final = [r for r in DOCS if r[0] not in (1, 4)] + [
        (1, "alpha rewritten kappa"),
        (8, "kappa mu nu"),
        (9, "nu xi"),
    ]
    save_full_text_index(_docs(spark, final), rebuilt)
    assert _index_state(spark, root) == _index_state(spark, rebuilt)
    assert _searches(spark, root) == _searches(spark, rebuilt)


def test_lease_release_is_token_checked(spark, tmp_path):
    """ADVICE r9 (medium): a writer whose lease was broken and taken
    by an intruder must NOT delete the intruder's lease on release —
    and the split brain must surface loudly on an otherwise-successful
    exit (the manifest CAS protected committed state; the error is the
    operator's signal to find the second orchestrator)."""
    import json

    import pytest

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        ConcurrentWriterError,
        _writer_lease,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    with pytest.raises(ConcurrentWriterError, match="broken"):
        with _writer_lease(spark, root):
            assert json.load(open(lock))["token"]  # stamped with ours
            # an intruder breaks our lease and stamps its own (a real
            # intruder writes through the Hadoop FS, which keeps the
            # local-FS checksum consistent — drop the stale .crc so
            # this out-of-band write reads the same way)
            os.remove(lock)
            crc = f"{root}/.{os.path.basename(lock)}.crc"
            if os.path.exists(crc):
                os.remove(crc)
            with open(lock, "w") as f:
                json.dump({"token": "intruder", "pid": 0}, f)
    # release must have left the intruder's lease alone
    assert json.load(open(lock))["token"] == "intruder"


def test_lease_release_does_not_mask_body_error(spark, tmp_path):
    """A body exception propagates unchanged even when the lease was
    broken mid-op (the broken-lease error must never swallow the real
    failure)."""
    import json

    import pytest

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _writer_lease,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    with pytest.raises(ValueError, match="the real failure"):
        with _writer_lease(spark, root):
            crc = f"{root}/.{os.path.basename(lock)}.crc"
            if os.path.exists(crc):
                os.remove(crc)
            with open(lock, "w") as f:
                json.dump({"token": "intruder", "pid": 0}, f)
            raise ValueError("the real failure")
    assert json.load(open(lock))["token"] == "intruder"


def test_lease_heartbeat_keeps_long_writer_alive(spark, tmp_path, monkeypatch):
    """ADVICE r9 (medium): a LIVE writer running past the lease
    timeout must not be judged stale — the heartbeat refreshes the
    lease mtime, so a second writer still sees a held lease after
    several timeout periods have elapsed."""
    import time

    import pytest

    import peerdb_cdc_psql_clickhouse_spark.commit as commit
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        ConcurrentWriterError,
        _writer_lease,
    )

    monkeypatch.setattr(commit, "WRITER_LEASE_TIMEOUT_SEC", 0.4)
    root = str(tmp_path / "idx")
    os.makedirs(root)
    with _writer_lease(spark, root):
        time.sleep(1.2)  # 3 timeout periods; heartbeat beats ~every 0.13s
        with pytest.raises(ConcurrentWriterError, match="held"):
            with _writer_lease(spark, root):
                pass  # pragma: no cover - must not acquire
    # released cleanly afterwards: a fresh writer acquires immediately
    with _writer_lease(spark, root):
        pass


def test_break_stale_lease_single_winner(spark, tmp_path):
    """ADVICE r9: breaking a stale lease is an atomic rename-claim —
    exactly ONE of two racers observes success, so the loser can never
    delete the winner's fresh lease out from under it."""
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _break_stale_lease,
        _lease_token,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    open(lock, "w").close()
    fs, _p, jvm = hadoop_fs(spark, lock)
    p = jvm.org.apache.hadoop.fs.Path(lock)
    obs_token = _lease_token(fs, jvm, lock)
    obs_mtime = int(fs.getFileStatus(p).getModificationTime())
    assert (
        _break_stale_lease(fs, jvm, lock, "racer-a", obs_token, obs_mtime)
        is True
    )
    assert (
        _break_stale_lease(fs, jvm, lock, "racer-b", obs_token, obs_mtime)
        is False
    )
    assert not os.path.exists(lock)


def test_break_stale_lease_spares_replaced_fresh_lease(spark, tmp_path):
    """ADVICE r10 (medium, TOCTOU): between the age check and the
    rename-claim, the stale holder's lease can be released and a NEW
    writer can stamp a fresh one. The break must notice it claimed a
    DIFFERENT identity than it observed, restore the fresh lease in
    place, and report failure — never silently steal a live writer's
    lease."""
    import json

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _break_stale_lease,
        _lease_token,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    fs, _p, jvm = hadoop_fs(spark, lock)
    p = jvm.org.apache.hadoop.fs.Path(lock)

    # the waiter observes a STALE lease ...
    with open(lock, "w") as f:
        json.dump({"token": "dead-holder", "pid": 0}, f)
    obs_token = _lease_token(fs, jvm, lock)
    obs_mtime = int(fs.getFileStatus(p).getModificationTime())

    # ... but before its break lands, the stale lease is released and
    # a FRESH writer acquires (new token; newer mtime)
    os.remove(lock)
    with open(lock, "w") as f:
        json.dump({"token": "fresh-writer", "pid": 1}, f)

    assert (
        _break_stale_lease(fs, jvm, lock, "waiter", obs_token, obs_mtime)
        is False
    )
    # the fresh lease survived the attempted break, content intact
    assert json.load(open(lock))["token"] == "fresh-writer"
    # and no claim-file garbage was left behind
    assert os.listdir(root) == [os.path.basename(lock)]


def test_lease_stamp_failure_leaves_no_orphan(spark, tmp_path, monkeypatch):
    """ADVICE r10: if the identity stamp throws after createNewFile
    succeeded, the empty lease file WE created must not survive to
    block the retry loop (it would read as a fresh held lease with no
    live heartbeat — a self-inflicted ConcurrentWriterError for the
    full timeout)."""
    import peerdb_cdc_psql_clickhouse_spark.commit as commit
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _writer_lease,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"

    real_stamp = commit._stamp_lease
    fails = {"n": 1}

    def flaky_stamp(fs, p, token):
        if fails["n"] > 0:
            fails["n"] -= 1
            raise IOError("injected stamp failure")
        real_stamp(fs, p, token)

    monkeypatch.setattr(commit, "_stamp_lease", flaky_stamp)
    # first attempt's stamp fails -> its orphan is cleaned up -> the
    # retry acquires normally instead of raising against the orphan
    with _writer_lease(spark, root):
        assert os.path.exists(lock)
    assert not os.path.exists(lock)
    assert fails["n"] == 0


def test_lease_release_retries_transient_read_errors(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: a transient FS read error at release must not read
    as 'lease lost' — the release retries; with the lease still ours
    it is deleted and NO spurious ConcurrentWriterError fires after a
    successful body."""
    import peerdb_cdc_psql_clickhouse_spark.commit as commit
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _writer_lease,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"

    real_read = commit._fs_read_text
    state = {"arm": False, "fails": 0}

    def flaky_read(fs, jvm, path_str):
        if state["arm"] and state["fails"] < 2:
            state["fails"] += 1
            raise IOError("injected transient read failure")
        return real_read(fs, jvm, path_str)

    monkeypatch.setattr(commit, "_fs_read_text", flaky_read)
    with _writer_lease(spark, root):
        state["arm"] = True  # fail the first two release-time reads
    assert state["fails"] == 2  # the injected errors were hit ...
    assert not os.path.exists(lock)  # ... retried past, lease released


def test_cache_root_is_private_and_rejects_foreign_owner(monkeypatch):
    """The cross-process artifact cache root is per-user and
    owner-only; a root squatted by another uid fails loudly instead of
    silently serving foreign cache slots to the hash surface."""
    import pytest

    from peerdb_cdc_psql_clickhouse_spark.artifacts import _cache_root

    root = _cache_root()
    st = os.stat(root)
    assert st.st_mode & 0o077 == 0  # owner-only
    assert str(os.getuid()) in os.path.basename(root)

    # simulate a squatted root: our view of "me" changes, the on-disk
    # owner does not — _cache_root must refuse it
    real_uid = os.getuid()
    monkeypatch.setattr(os, "getuid", lambda: real_uid + 1)
    with pytest.raises(PermissionError, match="owned by uid"):
        _cache_root()


def test_lease_heartbeat_survives_transient_read_errors(
    spark, tmp_path, monkeypatch
):
    """r11 (found in self-review, same family as the ADVICE r10
    release finding): the heartbeat's token check must not conclude
    'lease lost' from a TRANSIENT read error — with the lenient
    reader, one flaky read killed the beat thread, the lease aged out
    mid-op, and a successful body ended in a spurious
    ConcurrentWriterError. With the provable reader the beat retries:
    the writer survives several failing beats, keeps the lease fresh,
    and releases cleanly."""
    import time

    import pytest

    import peerdb_cdc_psql_clickhouse_spark.commit as commit
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        ConcurrentWriterError,
        _writer_lease,
    )

    monkeypatch.setattr(commit, "WRITER_LEASE_TIMEOUT_SEC", 0.6)
    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"

    real_read = commit._fs_read_text
    state = {"fail": False, "fails": 0}

    def flaky_read(fs, jvm, path_str):
        if state["fail"] and path_str == lock:
            state["fails"] += 1
            raise IOError("injected transient read failure")
        return real_read(fs, jvm, path_str)

    monkeypatch.setattr(commit, "_fs_read_text", flaky_read)
    with _writer_lease(spark, root):
        state["fail"] = True  # every heartbeat read now errs
        time.sleep(1.4)  # > 2 timeout periods; beats ~every 0.2s
        state["fail"] = False  # recovery: next beat reads fine
        # poll for a POST-RECOVERY beat (ADVICE r11: during the
        # failure window the beat cannot prove ownership and does NOT
        # refresh mtime, so the lease is genuinely stale until a
        # successful beat lands — a fixed sleep here let a slow-CI
        # scheduler stall hand the second acquire a stale lease and
        # flake the test)
        stale_mtime = os.path.getmtime(lock)
        deadline = time.time() + 10.0
        while (
            os.path.getmtime(lock) == stale_mtime
            and time.time() < deadline
        ):
            time.sleep(0.02)
        assert os.path.getmtime(lock) != stale_mtime  # beat landed
        # a second writer must now see a held (fresh) lease
        with pytest.raises(ConcurrentWriterError, match="held"):
            with _writer_lease(spark, root):
                pass  # pragma: no cover - must not acquire
    # several beats actually hit the injected failure, none fatal
    assert state["fails"] >= 2
    assert not os.path.exists(lock)  # released cleanly, no error


def test_lease_acquire_verify_survives_transient_read_errors(
    spark, tmp_path, monkeypatch
):
    """r11 self-review companion to the heartbeat fix: the post-stamp
    verify read must not conclude 'not ours' from a transient error —
    it used to leave the freshly stamped lease stranded and raise
    'held' against our own file. With retried provable reads the
    acquire succeeds through two failing verify reads."""
    import peerdb_cdc_psql_clickhouse_spark.commit as commit
    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _writer_lease,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"

    real_read = commit._fs_read_text
    state = {"fails": 0, "arm": False}

    def flaky_read(fs, jvm, path_str):
        if state["arm"] and state["fails"] < 2 and path_str == lock:
            state["fails"] += 1
            raise IOError("injected transient read failure")
        return real_read(fs, jvm, path_str)

    real_stamp = commit._stamp_lease

    def arming_stamp(fs, p, token):
        real_stamp(fs, p, token)
        state["arm"] = True  # fail the verify reads that follow

    monkeypatch.setattr(commit, "_fs_read_text", flaky_read)
    monkeypatch.setattr(commit, "_stamp_lease", arming_stamp)
    with _writer_lease(spark, root):
        state["arm"] = False  # stop injecting for heartbeat/release
        assert os.path.exists(lock)
    assert state["fails"] == 2  # the injected errors were exercised
    assert not os.path.exists(lock)  # clean release, no stranded lease


class _RestoreFS:
    """Facade over the JVM FileSystem that intercepts the rename-BACK
    step of _break_stale_lease (dst == the lock path) to inject
    failures; everything else delegates."""

    def __init__(self, real, lock_path, on_restore):
        self._real = real
        self._lock = lock_path
        self._on_restore = on_restore
        self.restore_calls = 0

    def rename(self, src, dst):
        if str(dst).endswith(os.path.basename(self._lock)):
            self.restore_calls += 1
            self._on_restore(self.restore_calls)
        return self._real.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_break_stale_lease_retries_transient_restore_failure(
    spark, tmp_path
):
    """ADVICE r11 (low): a TRANSIENT rename-back failure must not drop
    the mistakenly-claimed fresh lease — the restore is retried and
    the victim keeps its lease."""
    import json

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _break_stale_lease,
        _lease_token,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    fs, _p, jvm = hadoop_fs(spark, lock)
    p = jvm.org.apache.hadoop.fs.Path(lock)

    with open(lock, "w") as f:
        json.dump({"token": "dead-holder", "pid": 0}, f)
    obs_token = _lease_token(fs, jvm, lock)
    obs_mtime = int(fs.getFileStatus(p).getModificationTime())
    os.remove(lock)
    with open(lock, "w") as f:
        json.dump({"token": "fresh-writer", "pid": 1}, f)

    def fail_once(call_no):
        if call_no == 1:
            raise IOError("injected transient restore failure")

    ffs = _RestoreFS(fs, lock, fail_once)
    assert (
        _break_stale_lease(ffs, jvm, lock, "waiter", obs_token, obs_mtime)
        is False
    )
    assert ffs.restore_calls == 2  # failed once, retried, succeeded
    assert json.load(open(lock))["token"] == "fresh-writer"
    assert os.listdir(root) == [os.path.basename(lock)]  # no garbage


def test_break_stale_lease_surfaces_stolen_lease(spark, tmp_path, caplog):
    """ADVICE r11 (low): when a third waiter re-creates the lock
    before the rename-back lands, the restore is impossible — the
    event must be surfaced (durable .stolen marker preserving the
    victim's lease content + a loud log line), never a silent drop."""
    import json
    import logging

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _break_stale_lease,
        _lease_token,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    fs, _p, jvm = hadoop_fs(spark, lock)
    p = jvm.org.apache.hadoop.fs.Path(lock)

    with open(lock, "w") as f:
        json.dump({"token": "dead-holder", "pid": 0}, f)
    obs_token = _lease_token(fs, jvm, lock)
    obs_mtime = int(fs.getFileStatus(p).getModificationTime())
    os.remove(lock)
    with open(lock, "w") as f:
        json.dump({"token": "fresh-writer", "pid": 1}, f)

    def third_waiter(call_no):
        # the lock slot was emptied by the claim rename; a third
        # waiter exclusive-creates a fresh lease in the gap, so every
        # rename-back attempt finds the destination occupied
        if not os.path.exists(lock):
            with open(lock, "w") as f:
                json.dump({"token": "third-waiter", "pid": 2}, f)

    ffs = _RestoreFS(fs, lock, third_waiter)
    with caplog.at_level(
        logging.WARNING,
        logger="peerdb_cdc_psql_clickhouse_spark.operators.search",
    ):
        assert (
            _break_stale_lease(
                ffs, jvm, lock, "waiter", obs_token, obs_mtime
            )
            is False
        )
    # occupied slot: one restore attempt, then give up (no spin)
    assert ffs.restore_calls == 1
    # the third waiter's lease is untouched
    assert json.load(open(lock))["token"] == "third-waiter"
    # the victim's lease content is preserved under the stolen marker
    stolen = [n for n in os.listdir(root) if ".stolen-" in n]
    assert len(stolen) == 1
    assert (
        json.load(open(f"{root}/{stolen[0]}"))["token"] == "fresh-writer"
    )
    assert any("stolen-lease" in r.message for r in caplog.records)


def test_break_stale_lease_detects_landed_but_thrown_restore(
    spark, tmp_path, caplog
):
    """ADVICE r12 (low): a rename-back that throws AFTER landing (e.g.
    a timeout with the rename already applied) used to trip the bare
    exists() check and fall through to the stolen path — emitting a
    false stolen-lease warning and a garbage marker path for a lease
    that was restored intact. The occupied slot's token is now read
    back: a match with the claimed (victim) lease proves the restore
    landed, so the break reports the lock held and walks away clean."""
    import json
    import logging

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _break_stale_lease,
        _lease_token,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    fs, _p, jvm = hadoop_fs(spark, lock)
    p = jvm.org.apache.hadoop.fs.Path(lock)

    with open(lock, "w") as f:
        json.dump({"token": "dead-holder", "pid": 0}, f)
    obs_token = _lease_token(fs, jvm, lock)
    obs_mtime = int(fs.getFileStatus(p).getModificationTime())
    os.remove(lock)
    with open(lock, "w") as f:
        json.dump({"token": "fresh-writer", "pid": 1}, f)

    class _LandsThenThrows:
        """rename-back applies, then the call reports failure."""

        def __init__(self, real, lock_path):
            self._real = real
            self._lock = lock_path
            self.restore_calls = 0

        def rename(self, src, dst):
            if str(dst).endswith(os.path.basename(self._lock)):
                self.restore_calls += 1
                self._real.rename(src, dst)  # the rename LANDS...
                raise IOError("injected post-landing timeout")
            return self._real.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._real, name)

    ffs = _LandsThenThrows(fs, lock)
    with caplog.at_level(
        logging.WARNING,
        logger="peerdb_cdc_psql_clickhouse_spark.operators.search",
    ):
        assert (
            _break_stale_lease(
                ffs, jvm, lock, "waiter", obs_token, obs_mtime
            )
            is False
        )
    assert ffs.restore_calls == 1  # no blind retry spin either
    # the victim's lease is back in the slot, intact
    assert json.load(open(lock))["token"] == "fresh-writer"
    # and NO stolen marker, NO warning — the restore succeeded
    assert os.listdir(root) == [os.path.basename(lock)]
    assert not any("stolen-lease" in r.message for r in caplog.records)


def test_break_stale_lease_tokenless_landed_restore_confirmed(
    spark, tmp_path, caplog
):
    """ADVICE r13 (low): when the mistakenly-claimed fresh lease is a
    LEGACY token-less file (empty/non-JSON — _lease_token returns
    None), a rename-back that lands but throws could never be
    confirmed by token read-back: cur_token stayed None, the loop
    exhausted its retries, and the stolen path fired — the claim
    rename failed (source already restored) and a false stolen-lease
    warning with a '<claim dropped>' marker was logged for a lease
    restored intact. The claim file has exactly one mover (our own
    rename-back; the stolen path hasn't run yet), so claim-gone AND
    lock-occupied now proves the restore landed: report the lock
    held, no warning, no marker."""
    import json
    import logging

    from peerdb_cdc_psql_clickhouse_spark.commit import (
        _LOCK,
        _break_stale_lease,
        _lease_token,
    )

    root = str(tmp_path / "idx")
    os.makedirs(root)
    lock = f"{root}/{_LOCK}"
    fs, _p, jvm = hadoop_fs(spark, lock)
    p = jvm.org.apache.hadoop.fs.Path(lock)

    with open(lock, "w") as f:
        json.dump({"token": "dead-holder", "pid": 0}, f)
    obs_token = _lease_token(fs, jvm, lock)
    obs_mtime = int(fs.getFileStatus(p).getModificationTime())
    os.remove(lock)
    # the fresh writer is a PRE-TOKEN engine: its lease file is empty
    open(lock, "w").close()

    class _LandsThenThrows:
        def __init__(self, real, lock_path):
            self._real = real
            self._lock = lock_path
            self.restore_calls = 0

        def rename(self, src, dst):
            if str(dst).endswith(os.path.basename(self._lock)):
                self.restore_calls += 1
                self._real.rename(src, dst)  # the rename LANDS...
                raise IOError("injected post-landing timeout")
            return self._real.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._real, name)

    ffs = _LandsThenThrows(fs, lock)
    with caplog.at_level(
        logging.WARNING,
        logger="peerdb_cdc_psql_clickhouse_spark.operators.search",
    ):
        assert (
            _break_stale_lease(
                ffs, jvm, lock, "waiter", obs_token, obs_mtime
            )
            is False
        )
    assert ffs.restore_calls == 1  # confirmed on first pass, no spin
    # the token-less lease is back in the slot, still empty
    assert os.path.getsize(lock) == 0
    # and NO stolen marker, NO warning — the restore landed
    assert os.listdir(root) == [os.path.basename(lock)]
    assert not any("stolen-lease" in r.message for r in caplog.records)
