"""Seeded CDC inputs for the benchmark, computed without the engine.

One seed fixes everything the engine sees:
- the base table (`id` 0..n_base-1 plus four payload columns);
- the change feed: `_version` 0..n-1 in creation order, keys drawn
  from a Zipf law over the base keys, a 70/20/10 update/insert/delete
  mix, inserts taking fresh keys above the base range;
- the expected final state, by max-version-wins replay in NumPy
  (the engine's own `latest_state` is never called here).

All arrays are NumPy, so the same seed gives byte-identical inputs
(`digest` hashes them; `test_gen.py` pins that).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

# The skew and the op mix are this benchmark's own choices: the
# reference's stress test only inserts, with uniform foreign keys. A
# moderate skew makes some keys change several times in one batch, so
# the engine's thinning to the latest version per key has work to do.
ZIPF_S = 1.1
OP_MIX = (("update", 0.7), ("insert", 0.2), ("delete", 0.1))
ROW_FIELDS = (
    ("id", pa.int64()),
    ("purchaser", pa.int32()),
    ("product_id", pa.int32()),
    ("quantity", pa.int32()),
    ("amount", pa.float64()),
)
OPS = np.array([op for op, _ in OP_MIX])
T0_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z


def _payload(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    return {
        "purchaser": rng.integers(1000, 1_000_000, n, dtype=np.int32),
        "product_id": rng.integers(100, 10_000, n, dtype=np.int32),
        "quantity": rng.integers(1, 100, n, dtype=np.int32),
        "amount": np.round(rng.uniform(1.0, 5000.0, n), 2),
    }


def zipf_keys(rng: np.random.Generator, n_keys: int, n: int) -> np.ndarray:
    """n draws from a Zipf(ZIPF_S) law over ranks 1..n_keys; a seeded
    permutation maps rank to key so hot keys are spread over the range."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(p / p.sum())
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), n_keys - 1)
    return rng.permutation(n_keys).astype(np.int64)[ranks]


class CdcInputs:
    """Base table, change feed and expected state for one seed."""

    def __init__(self, seed: int, n_base: int, n_changes: int) -> None:
        rng = np.random.default_rng(seed)
        self.n_base = n_base
        self.base = {"id": np.arange(n_base, dtype=np.int64), **_payload(rng, n_base)}
        op_idx = np.searchsorted(
            np.cumsum([w for _, w in OP_MIX]), rng.random(n_changes), side="right"
        )
        op_idx = np.minimum(op_idx, len(OP_MIX) - 1)
        ids = zipf_keys(rng, n_base, n_changes)
        inserts = op_idx == 1
        ids[inserts] = n_base + np.arange(int(inserts.sum()), dtype=np.int64)
        self.changes = {
            "_op": OPS[op_idx],
            "_version": np.arange(n_changes, dtype=np.int64),
            "id": ids,
            **_payload(rng, n_changes),
        }
        # deletes carry a null payload, like a WAL delete image
        self.changes["_deleted"] = op_idx == 2

    def change_table(self, upto: int, stamps_ms: np.ndarray | None = None) -> pa.Table:
        """The first `upto` changes as an Arrow table in the engine's
        change-event schema. `_ts` is the creation stamp: the given
        epoch-ms stamps, else one millisecond per version from T0."""
        c = {k: v[:upto] for k, v in self.changes.items()}
        if stamps_ms is None:
            stamps_ms = T0_MS + c["_version"]
        dead = c["_deleted"]
        cols = {
            "_op": pa.array(c["_op"].tolist(), pa.string()),
            "_version": pa.array(c["_version"]),
            "_ts": pa.array(np.asarray(stamps_ms, dtype="datetime64[ms]")).cast(
                pa.timestamp("us", tz="UTC")
            ),
            "id": pa.array(c["id"]),
        }
        for name, typ in ROW_FIELDS[1:]:
            cols[name] = pa.array(c[name], typ, mask=dead)
        return pa.table(cols)

    def base_table(self) -> pa.Table:
        return pa.table(
            {name: pa.array(self.base[name], typ) for name, typ in ROW_FIELDS}
        )

    def expected(self, upto: int) -> pa.Table:
        """Final state after the first `upto` changes: per key the
        highest version wins (base rows count as the lowest version),
        and a winning delete removes the key."""
        ids = self.changes["id"][:upto]
        # last occurrence per key = highest version (versions ascend)
        rev_keys, rev_pos = np.unique(ids[::-1], return_index=True)
        last = upto - 1 - rev_pos
        live_change = ~self.changes["_deleted"][last]
        touched = np.zeros(self.n_base, dtype=bool)
        touched[rev_keys[rev_keys < self.n_base]] = True
        cols = {}
        for name, typ in ROW_FIELDS:
            from_base = self.base[name][~touched]
            from_changes = self.changes[name][last[live_change]]
            cols[name] = pa.array(np.concatenate([from_base, from_changes]), typ)
        return pa.table(cols)


def digest(table: pa.Table) -> str:
    """sha256 over the table's Arrow IPC bytes."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()
