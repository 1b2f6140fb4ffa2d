"""Persisted artifacts for the train-once / apply-everywhere ops.

The trained inputs of the apply-side operators (BPE merge table,
quality-classifier weights, PQ codebook) are broadcast-sized by
construction, but they must OUTLIVE the session that trained them —
the 100 TB corpus pass usually runs days later, on a different
cluster, against artifacts produced by a small training job. Each
save/load pair here round-trips bit-exactly through parquet (the
same durability story as build_ivf_index / build_ivfpq_index), so
apply jobs depend only on a path, never on a live Python object.

Layout (one directory per artifact, self-describing):
  <path>/           parquet rows (+ _SUCCESS from the write)
BPE merges:         (rank, a, b)
quality model:      (feature, weight, mean, std) + a bias row
PQ codebook:        (s, code, vec)   — same shape build_ivfpq_index
                    persists; these helpers make it a first-class
                    standalone artifact too.

Corpus artifacts (the text indexes, the IVF index, the ANN ground
truth, the dup-cluster table) are derived once per corpus snapshot
and cached here, in one place: artifact_slot resolves or builds a
cross-process slot, records the slots this process built, and
session_memo holds per-SparkSession values derived from a slot.
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)


def save_bpe_merges(
    spark: SparkSession, merges: list[tuple[str, str]], path: str
) -> None:
    import pandas as pd

    rows = pd.DataFrame(
        {
            "rank": range(len(merges)),
            "a": [a for a, _ in merges],
            "b": [b for _, b in merges],
        }
    )
    spark.createDataFrame(rows).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_bpe_merges(spark: SparkSession, path: str) -> list[tuple[str, str]]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["a"], r["b"]) for r in rows]


_BIAS_ROW = "__bias__"


def save_quality_model(spark: SparkSession, model: dict, path: str) -> None:
    import pandas as pd

    rows = pd.DataFrame(
        {
            "feature": list(model["features"]) + [_BIAS_ROW],
            "weight": list(model["weights"]) + [model["bias"]],
            "mean": list(model["mean"]) + [0.0],
            "std": list(model["std"]) + [1.0],
            "pos": list(range(len(model["features"]))) + [-1],
        }
    )
    spark.createDataFrame(rows).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_quality_model(spark: SparkSession, path: str) -> dict:
    rows = spark.read.parquet(path).orderBy("pos").collect()
    bias = [r for r in rows if r["feature"] == _BIAS_ROW]
    feats = [r for r in rows if r["feature"] != _BIAS_ROW]
    return {
        "features": [r["feature"] for r in feats],
        "weights": [r["weight"] for r in feats],
        "mean": [r["mean"] for r in feats],
        "std": [r["std"] for r in feats],
        "bias": bias[0]["weight"],
    }


def save_pq_codebook(spark: SparkSession, codebook, path: str) -> None:
    import pandas as pd

    m, ksub, _dsub = codebook.shape
    rows = [
        (s, c, codebook[s, c].tolist())
        for s in range(m)
        for c in range(ksub)
    ]
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["s", "code", "vec"])
    ).coalesce(1).write.mode("overwrite").parquet(path)


def load_pq_codebook(spark: SparkSession, path: str):
    import numpy as np

    rows = spark.read.parquet(path).collect()
    m = 1 + max(r["s"] for r in rows)
    ksub = 1 + max(r["code"] for r in rows)
    dsub = len(rows[0]["vec"])
    cb = np.zeros((m, ksub, dsub))
    for r in rows:
        cb[r["s"], r["code"]] = r["vec"]
    return cb


# -- corpus artifact cache ----------------------------------------------

# When set, _cache_root returns this path instead of the per-user root
# (see cold_artifact_environment).
_CACHE_ROOT_OVERRIDE: str | None = None


def _cache_root() -> str:
    """Per-user, owner-only cache root. A fixed world-readable /tmp
    path would trust any slot carrying a _READY marker: on a shared
    host another user could pre-create a poisoned slot, or squat the
    root dir, and the declared queries would serve it. The root is
    keyed by uid, created 0o700, and REJECTED if it already exists
    with foreign ownership, so a squatted path fails loudly instead of
    serving someone else's bytes."""
    if _CACHE_ROOT_OVERRIDE is not None:
        return _CACHE_ROOT_OVERRIDE
    uid = os.getuid() if hasattr(os, "getuid") else "nouid"
    root = os.path.join(tempfile.gettempdir(), f"spark_graft_idx_cache-{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.stat(root)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise PermissionError(
            f"index cache root {root} is owned by uid {st.st_uid}, not "
            f"{os.getuid()} — refusing to read foreign cache slots; "
            "remove or rename the squatted directory"
        )
    if st.st_mode & 0o077:
        # pre-existing root from an older engine (or loosened by
        # hand): close it to owner-only before trusting its slots
        os.chmod(root, 0o700)
    return root


def _persistent_slot(kind: str, key: str) -> tuple[str, bool]:
    """(slot_path, ready) — the cross-process cache slot for one
    corpus artifact, hashed from `kind|key`. Ready means a finished
    build was atomically published (its _READY marker rode in with
    the dir rename)."""
    import hashlib

    h = hashlib.md5(f"{kind}|{key}".encode()).hexdigest()
    slot = os.path.join(_cache_root(), f"{kind}-{h}")
    return slot, os.path.exists(os.path.join(slot, "_READY"))


def _publish_slot(build_dir: str, slot: str) -> tuple[str, bool]:
    """Atomically move a finished build into its cache slot; if a
    concurrent process published first, keep theirs and drop ours.
    Returns (slot, won) — won=False means the published bytes are a
    concurrent winner's, not this build's."""
    open(os.path.join(build_dir, "_READY"), "w").close()
    try:
        os.rename(build_dir, slot)
        return slot, True
    except OSError:
        if os.path.exists(os.path.join(slot, "_READY")):
            shutil.rmtree(build_dir, ignore_errors=True)
            return slot, False
        raise


# The build record: slot paths this process built AND published, in
# build order. Adopting a published slot, or losing the publish race,
# records nothing — the served bytes are not this process's build.
_BUILD_RECORD: list[str] = []


def built_slots() -> tuple[str, ...]:
    return tuple(_BUILD_RECORD)


def artifact_slot(kind: str, key: str, build) -> str:
    """Resolve one per-corpus persisted artifact slot, building it
    first when no finished build is published. `key` carries every
    input that shapes the artifact (corpus identity, layout version,
    build parameters). `build` is a callable taking a temp build dir
    and writing the artifact into it; publication is the atomic
    rename of _publish_slot, so concurrent builders race safely
    (exactly one rename wins; the loser adopts the winner's slot and
    removes its own build). A build that raises leaves no temp dir
    behind."""
    slot, ready = _persistent_slot(kind, key)
    if ready:
        return slot
    tmp = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_")
    try:
        build(tmp)
        slot, won = _publish_slot(tmp, slot)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    if won:
        _BUILD_RECORD.append(slot)
    else:
        _LOG.info(
            "%s build for slot %s lost the publish race; serving the "
            "concurrent winner's bytes",
            kind,
            slot,
        )
    return slot


# Session memo: values derived from a published slot that are pure
# plan state of one SparkSession (a loaded index handle, a collected
# probe assignment). Keyed by (slot path, *qualifiers); an entry is
# served only to the session that made it, so a restarted session
# never sees stale JVM references. Slot paths are content-keyed, so a
# changed corpus or build parameter can never hit an old entry.
_SESSION_MEMO: dict[tuple, tuple[SparkSession, object]] = {}


def session_memo(spark: SparkSession, key: tuple, make):
    """make(), memoized per (key, spark); key[0] is a slot path."""
    hit = _SESSION_MEMO.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    value = make()
    _SESSION_MEMO[key] = (spark, value)
    return value


@contextmanager
def cold_artifact_environment():
    """Point the artifact cache at a throwaway root for the block, so
    every resolve inside it runs a genuine cold build however warm the
    per-user root is. On exit the throwaway root is removed together
    with the session-memo entries made under it; slots and memo
    entries of the standing root are never touched, so surrounding
    queries keep serving the same artifacts.

    Single-threaded-driver contract: this swaps process-global state
    with no thread guard, so an artifact resolve running concurrently
    in the same process would build into the soon-deleted root.
    Reentry (nested or concurrent use) raises instead."""
    global _CACHE_ROOT_OVERRIDE

    if _CACHE_ROOT_OVERRIDE is not None:
        raise RuntimeError(
            "cold_artifact_environment is not reentrant: a cold root "
            f"is already active ({_CACHE_ROOT_OVERRIDE})"
        )
    root = tempfile.mkdtemp(prefix="spark_graft_cold_root_")
    _CACHE_ROOT_OVERRIDE = root
    try:
        yield root
    finally:
        _CACHE_ROOT_OVERRIDE = None
        cold = [k for k in _SESSION_MEMO if k[0].startswith(root + os.sep)]
        for key in cold:
            del _SESSION_MEMO[key]
        shutil.rmtree(root, ignore_errors=True)
