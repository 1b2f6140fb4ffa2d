"""The one crash-safe commit protocol: a writer lease, numbered
manifest records committed by compare-and-swap, and one-cycle
retention. Two stores commit through it:
- the text index (operators/search.py): a record names the postings
  and lengths dirs, the committed generation, the listed tombstone
  batches and the live BM25 stats;
- the CDC Mirror (streaming/mirror.py): a record names the base
  generation dir and `folded`, the highest delta batch id in it.

Layout under a committed root:
  manifest/m-<v>.json   commit records; the HIGHEST is the current
                        snapshot. A record is never overwritten: each
                        commit creates the next number by exclusive
                        rename, so a reader sees a complete record or
                        none, and composes its whole view from ONE.
  <data dirs>           named by the records. A writer puts a
                        replacement into a NEW generation dir and
                        commits a record naming it, so a live dir is
                        never renamed or deleted under a reader.
  .writer_lock          the writer lease.

Writers hold the lease: exclusive create, stamped with an ownership
token and kept fresh by a heartbeat thread, so "stale" means the
holding PROCESS died (no beats for WRITER_LEASE_TIMEOUT_SEC), never
that the op ran long. Stale leases are broken by atomic rename-claim
(one racer wins); release deletes the lease only if it still carries
the holder's token. The commit rename fails if the version exists,
so even a broken-lease split brain surfaces as ConcurrentWriterError.

Retention: a writer prunes, after its commit, every dir the two
newest records (kept_manifests) do not reference. A reader's lazy
frames stay valid until the SECOND commit after its manifest read
that retires dirs — consume frames before two compactions. A crash
before a commit leaves orphan dirs no record names; a crash after it
leaves retired dirs one cycle longer; the next writer prunes both.

Exclusive create and rename are atomic on local FS and HDFS (front
object stores with an HDFS-compatible layer).
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

from .session import hadoop_fs

_LOG = logging.getLogger(__name__)

_MANIFEST_DIR = "manifest"
_LOCK = ".writer_lock"

WRITER_LEASE_TIMEOUT_SEC = 900.0

# heartbeat cadence as a fraction of the timeout: three missed beats
# before a live lease can be judged stale
_LEASE_BEAT_FRACTION = 3.0


class ConcurrentWriterError(RuntimeError):
    """A second writer is (or appears to be) active on a committed root."""


def _lease_token(fs, jvm, lock_path: str) -> str | None:
    """The owning writer's token, or None for a missing/empty/foreign
    lease file (a token-less file is still a valid live lease for the
    age check, just not provably ours)."""
    try:
        return json.loads(_fs_read_text(fs, jvm, lock_path)).get("token")
    except Exception:  # noqa: BLE001 - absent, empty, or non-JSON
        return None


def _break_stale_lease(
    fs, jvm, lock_path: str, token: str, obs_token: str | None, obs_mtime: int
) -> bool:
    """Remove a stale lease via atomic RENAME to a claim name: rename of
    one source path succeeds for exactly one racer (a plain delete
    would let a second waiter delete the first one's FRESH lease).

    (obs_token, obs_mtime) is the stale lease's identity as READ
    BEFORE the break: a new writer may have replaced it since. Only a
    token+mtime match of the claimed file proves we claimed the SAME
    stale file (a dead holder changes neither; rename keeps mtime); on
    mismatch the claim is renamed back and the lock reported held.
    Returns True iff the observed stale file was removed."""
    P = jvm.org.apache.hadoop.fs.Path
    claim_path = f"{lock_path}.claim-{token}"
    claim = P(claim_path)
    try:
        if not fs.rename(P(lock_path), claim):
            return False
    except Exception:  # noqa: BLE001 - source vanished under the racer
        return False
    try:
        got_token = _lease_token(fs, jvm, claim_path)
        got_mtime = int(fs.getFileStatus(claim).getModificationTime())
    except Exception:  # noqa: BLE001 - claim unreadable: treat as fresh
        got_token, got_mtime = object(), -1  # provably-not-matching
    if got_token == obs_token and got_mtime == int(obs_mtime):
        try:
            fs.delete(claim, False)
        except Exception:  # noqa: BLE001 - already gone
            pass
        return True
    # we grabbed a FRESH lease — give it back, retried; only a lock slot
    # provably re-occupied by a third waiter makes the restore impossible
    for _ in range(3):
        try:
            if fs.rename(claim, P(lock_path)):
                return False  # victim's lease restored intact
        except Exception:  # noqa: BLE001 - transient; retry below
            pass
        # the slot is occupied — by WHOM? The victim's token means a
        # rename-back that threw after landing; another token is a
        # third waiter; None (absent or unreadable) retries.
        cur_token = _lease_token(fs, jvm, lock_path)
        if cur_token is not None:
            if cur_token == got_token:
                return False  # restore landed despite the error
            break
        # a token-less claimed lease can never be confirmed by token;
        # the claim's only mover is our rename-back, so claim-gone AND
        # lock-occupied proves the restore landed
        try:
            if not fs.exists(claim) and fs.exists(P(lock_path)):
                return False  # restore landed despite the error
        except Exception:  # noqa: BLE001 - transient; retry below
            pass
        time.sleep(0.05)
    # restore impossible: the lease is STOLEN from its owner. Keep its
    # content under a durable marker and log loudly; the victim sees
    # the loss at its next heartbeat and aborts, and the manifest CAS
    # protects committed state meanwhile.
    stolen = f"{lock_path}.stolen-{token}"
    try:
        if not fs.rename(claim, P(stolen)):
            fs.delete(claim, False)
            stolen = "<claim dropped: marker rename failed>"
    except Exception:  # noqa: BLE001 - best-effort preservation
        try:
            fs.delete(claim, False)
        except Exception:  # noqa: BLE001
            pass
        stolen = "<claim dropped: marker rename failed>"
    _LOG.warning(
        "stolen-lease event at %s: a stale-lease break mistakenly "
        "claimed a FRESH lease (owner token %s) and could not restore "
        "it; victim content preserved at %s. The victim writer will "
        "observe the loss at its next heartbeat and abort; two writers "
        "may overlap until then (manifest CAS prevents damage).",
        lock_path,
        obs_token,
        stolen,
    )
    return False


def _lease_token_provable(fs, jvm, p, lock_path: str) -> str | None:
    """The lease's current token, read STRICTLY: raises on any read
    failure (the caller treats that as transient and retries), and
    returns None only when the file is provably absent. The lenient
    twin (_lease_token) folds transient errors into None — fine for
    the acquire path's best-effort probes, but 'None' must never be
    mistaken for 'provably lost' where a spurious loss verdict
    strands the lease or raises after a successful body (release and
    the heartbeat)."""
    if not fs.exists(p):
        return None
    return json.loads(_fs_read_text(fs, jvm, lock_path)).get("token")


def _stamp_lease(fs, p, token: str) -> None:
    """Overwrite the just-created lease file with the holder's
    identity. Module-level (not inlined in the acquire loop) so tests
    can inject a stamp failure and verify the orphan-cleanup path."""
    out = fs.create(p, True)
    try:
        out.write(
            bytearray(
                json.dumps({"token": token, "pid": os.getpid()}).encode()
            )
        )
    finally:
        out.close()


@contextmanager
def _writer_lease(spark: SparkSession, path: str):
    """Single-writer enforcement for the root at `path`:
    exclusive-create the lease file, stamp it with a unique OWNERSHIP
    TOKEN, and refresh its mtime from a heartbeat thread while the
    writer runs, so only a writer whose PROCESS died (no beats for
    WRITER_LEASE_TIMEOUT_SEC) can be broken. A live lease raises
    ConcurrentWriterError; a stale one is broken by _break_stale_lease.

    Release is token-checked: the lease is deleted ONLY if it still
    carries our token, so a broken writer never deletes its
    successor's lease. If the token is gone at release after a
    SUCCESSFUL body, we raise — the manifest CAS prevented any silent
    overwrite, but the split brain must surface loudly."""
    lock_path = f"{path}/{_LOCK}"
    fs, p, jvm = hadoop_fs(spark, lock_path)
    token = uuid.uuid4().hex
    acquired = False
    for _ in range(3):
        if fs.createNewFile(p):
            # we won the path; stamp our identity, then read it back —
            # if anything else owns the file now, we lost a race we
            # could not see and must not proceed
            try:
                _stamp_lease(fs, p, token)
            except Exception:  # noqa: BLE001 - stamp lost its window
                # an empty/partial lease of OURS may be on disk and would
                # block every writer for the full timeout; until it
                # carries a FOREIGN token it is ours to delete
                try:
                    if _lease_token(fs, jvm, lock_path) in (None, token):
                        fs.delete(p, False)
                except Exception:  # noqa: BLE001 - best-effort cleanup
                    pass
                continue
            # verify with the PROVABLE reader, retried: a transient
            # error must not strand our freshly stamped lease
            verified = None
            for _ in range(3):
                try:
                    verified = _lease_token_provable(fs, jvm, p, lock_path)
                    break
                except Exception:  # noqa: BLE001 - transient; re-read
                    time.sleep(0.05)
            if verified == token:
                acquired = True
                break
            # provably foreign or unreadable after retries: clean up
            # our own stamp before retrying, as above
            try:
                if _lease_token(fs, jvm, lock_path) in (None, token):
                    fs.delete(p, False)
            except Exception:  # noqa: BLE001 - best-effort cleanup
                pass
            continue
        # observe the held lease's identity ONCE: the age decision and
        # the stale break must act on the same observation
        try:
            obs_mtime = int(fs.getFileStatus(p).getModificationTime())
            obs_token = _lease_token(fs, jvm, lock_path)
        except Exception:  # noqa: BLE001 - lease vanished; retry create
            continue
        age = time.time() - obs_mtime / 1000.0
        if age <= WRITER_LEASE_TIMEOUT_SEC:
            raise ConcurrentWriterError(
                f"writer lease {lock_path} is held (age {age:.1f}s); "
                "writers on this root are single-writer — wait for the "
                "other writer, or delete a known-dead lease file"
            )
        _break_stale_lease(fs, jvm, lock_path, token, obs_token, obs_mtime)
    if not acquired:
        raise ConcurrentWriterError(
            f"could not acquire writer lease {lock_path}"
        )

    # heartbeat: refresh the lease mtime every timeout/3 so a LIVE
    # long op is never stale; verify the token each beat so a broken
    # lease is detected (and never refreshed for the intruder)
    stop = threading.Event()
    lost = threading.Event()
    interval = max(WRITER_LEASE_TIMEOUT_SEC / _LEASE_BEAT_FRACTION, 0.05)

    def _beat() -> None:
        # loss must be PROVABLE: a transient read error only skips this
        # beat (staleness needs 3 consecutive whole-beat misses)
        while not stop.wait(interval):
            try:
                if _lease_token_provable(fs, jvm, p, lock_path) != token:
                    lost.set()
                    return
                fs.setTimes(p, int(time.time() * 1000), -1)
            except Exception:  # noqa: BLE001 - transient FS error
                continue

    beat = threading.Thread(
        target=_beat, name="writer-lease-heartbeat", daemon=True
    )
    beat.start()
    body_ok = False
    try:
        yield
        body_ok = True
    finally:
        stop.set()
        beat.join(timeout=30)
        # the release read RETRIES; unreadable resolves to no-error and
        # no-delete (a foreign token needs a full timeout of missed
        # beats, and a blind delete could remove a successor's lease);
        # the next writer's stale break reclaims an undeleted lease
        still_ours, provable = False, False
        for _ in range(5):
            try:
                tok = _lease_token_provable(fs, jvm, p, lock_path)
                still_ours, provable = tok == token, True
                break
            except Exception:  # noqa: BLE001 - transient read failure
                time.sleep(0.05)
        if still_ours:
            try:
                fs.delete(p, False)
            except Exception:  # noqa: BLE001 - released by FS cleanup
                pass
        if body_ok and (lost.is_set() or (provable and not still_ours)):
            raise ConcurrentWriterError(
                f"writer lease {lock_path} was broken while this "
                "writer ran (its token is gone); the manifest CAS "
                "protected committed state, but verify no second "
                "orchestrator is driving this root"
            )


def _fs_write_text(fs, jvm, path_str: str, text: str) -> None:
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path_str), False)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(fs, jvm, path_str: str) -> str:
    ins = fs.open(jvm.org.apache.hadoop.fs.Path(path_str))
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(ins, baos, 8192, False)
        return baos.toString("UTF-8")
    finally:
        ins.close()


def _manifest_path(path: str, v: int) -> str:
    return f"{path}/{_MANIFEST_DIR}/m-{v:010d}.json"


def _manifest_versions(fs, jvm, path: str) -> list[int]:
    d = jvm.org.apache.hadoop.fs.Path(f"{path}/{_MANIFEST_DIR}")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith("m-") and name.endswith(".json"):
            try:
                out.append(int(name[2:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_manifest(spark: SparkSession, path: str) -> dict | None:
    """Latest committed snapshot record, or None for a root without a
    manifest. Retries if the chosen record is pruned between the
    listing and the read — retention keeps two records, so the newest
    at listing time survives at least one more commit."""
    fs, _p, jvm = hadoop_fs(spark, path)
    for _ in range(3):
        vs = _manifest_versions(fs, jvm, path)
        if not vs:
            return None
        try:
            m = json.loads(_fs_read_text(fs, jvm, _manifest_path(path, vs[-1])))
            m["v"] = int(m["v"])
            return m
        except Exception:  # noqa: BLE001 - pruned under us; re-list
            continue
    raise IOError(f"cannot read a manifest under {path}")


def _commit_manifest(spark: SparkSession, path: str, m: dict) -> dict:
    """Publish snapshot v+1 via exclusive rename (compare-and-swap):
    the tmp record is complete before it gets its final name, and the
    rename fails if that version already exists — a racing writer
    (possible only through a broken lease) surfaces loudly, never as a
    half-written or overwritten commit. Returns the committed record.
    Prunes manifest RECORDS beyond the newest two; pruning the data
    dirs they named is the writer's job, against kept_manifests."""
    fs, _p, jvm = hadoop_fs(spark, path)
    rec = dict(m, v=int(m["v"]) + 1)
    mdir = f"{path}/{_MANIFEST_DIR}"
    fs.mkdirs(jvm.org.apache.hadoop.fs.Path(mdir))
    tmp = f"{mdir}/.m-{uuid.uuid4().hex}.tmp"
    _fs_write_text(fs, jvm, tmp, json.dumps(rec))
    dest = jvm.org.apache.hadoop.fs.Path(_manifest_path(path, rec["v"]))
    if fs.exists(dest) or not fs.rename(
        jvm.org.apache.hadoop.fs.Path(tmp), dest
    ):
        fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), False)
        raise ConcurrentWriterError(
            f"manifest v{rec['v']} already committed under {path}: a "
            "second writer is active (the .writer_lock lease should "
            "have prevented this)"
        )
    for old in _manifest_versions(fs, jvm, path)[:-2]:
        fs.delete(jvm.org.apache.hadoop.fs.Path(_manifest_path(path, old)), False)
    return rec


def kept_manifests(spark: SparkSession, path: str) -> list[dict]:
    """The records retention keeps — the newest two, oldest first.
    Everything a writer may prune is what none of these reference. A
    record pruned between the listing and the read is skipped."""
    fs, _p, jvm = hadoop_fs(spark, path)
    out = []
    for v in _manifest_versions(fs, jvm, path)[-2:]:
        try:
            out.append(json.loads(_fs_read_text(fs, jvm, _manifest_path(path, v))))
        except Exception:  # noqa: BLE001 - pruned record; skip
            continue
    return out
