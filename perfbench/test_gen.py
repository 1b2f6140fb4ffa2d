"""The CDC input generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import CdcInputs, digest  # noqa: E402


def _digests(seed: int) -> list[str]:
    inputs = CdcInputs(seed, n_base=2000, n_changes=3000)
    return [
        digest(inputs.base_table()),
        digest(inputs.change_table(3000)),
        digest(inputs.change_table(3000, stamps_ms=[1_000 * i for i in range(3000)])),
        digest(inputs.expected(3000)),
    ]


def test_same_seed_same_bytes():
    assert _digests(7) == _digests(7)


def test_other_seed_other_bytes():
    assert all(a != b for a, b in zip(_digests(7), _digests(8)))


def test_expected_is_max_version_wins_replay():
    """The vectorized expected state equals a row-by-row replay."""
    inputs = CdcInputs(3, n_base=500, n_changes=4000)
    cols = inputs.base_table().column_names
    state = {row["id"]: row for row in inputs.base_table().to_pylist()}
    for row in inputs.change_table(4000).to_pylist():
        if row["_op"] == "delete":
            state.pop(row["id"], None)
        else:
            state[row["id"]] = {c: row[c] for c in cols}
    got = {row["id"]: row for row in inputs.expected(4000).to_pylist()}
    assert got == state


def test_feed_shape():
    inputs = CdcInputs(11, n_base=1000, n_changes=20_000)
    ops = inputs.changes["_op"]
    for op, share in (("update", 0.7), ("insert", 0.2), ("delete", 0.1)):
        assert abs((ops == op).mean() - share) < 0.02
    ids = inputs.changes["id"]
    # inserts take fresh keys; updates and deletes hit base keys, skewed
    assert (ids[ops == "insert"] >= 1000).all()
    assert (ids[ops != "insert"] < 1000).all()
    _, counts = np.unique(ids[ops == "update"], return_counts=True)
    assert counts.max() > 20 * counts.mean()
