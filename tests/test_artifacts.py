"""Artifact round-trips: every trained input of the apply-side ops
(BPE merges, quality model, PQ codebook) survives parquet save/load
bit-exactly, and the reloaded artifact drives the operator to
byte-identical results.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from .conftest import SF_SMOKE
from peerdb_cdc_psql_clickhouse_spark.artifacts import (
    load_bpe_merges,
    load_pq_codebook,
    load_quality_model,
    save_bpe_merges,
    save_pq_codebook,
    save_quality_model,
)
from peerdb_cdc_psql_clickhouse_spark.operators.bpe import (
    bpe_encode,
    train_bpe,
)
from peerdb_cdc_psql_clickhouse_spark.operators.quality import (
    score_quality,
    train_quality_classifier,
)
from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
    pq_encode,
    pq_train,
)
from peerdb_cdc_psql_clickhouse_spark.operators.text import doc_signals


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def test_bpe_merges_round_trip(spark, tmp_path):
    merges = train_bpe(_docs(spark), n_merges=120)
    p = str(tmp_path / "merges")
    save_bpe_merges(spark, merges, p)
    got = load_bpe_merges(spark, p)
    assert got == merges  # exact, rank order preserved
    a = bpe_encode(_docs(spark).limit(20), merges).orderBy("doc_id").collect()
    b = bpe_encode(_docs(spark).limit(20), got).orderBy("doc_id").collect()
    assert [list(r.bpe_tokens) for r in a] == [list(r.bpe_tokens) for r in b]


def test_quality_model_round_trip(spark, tmp_path):
    labeled = doc_signals(_docs(spark)).withColumn(
        "label",
        ((F.col("token_cnt") >= 40) & (F.col("dup_ngram_frac") <= 0.05)).cast(
            "int"
        ),
    )
    model = train_quality_classifier(
        labeled, iters=6, l2=0.01, optimizer="newton"
    )
    p = str(tmp_path / "model")
    save_quality_model(spark, model, p)
    got = load_quality_model(spark, p)
    assert got["features"] == model["features"]
    assert got["weights"] == model["weights"]  # float-exact
    assert got["mean"] == model["mean"]
    assert got["std"] == model["std"]
    assert got["bias"] == model["bias"]
    a = score_quality(labeled, model).select("doc_id", "quality_score")
    b = score_quality(labeled, got).select("doc_id", "quality_score")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_pq_codebook_round_trip(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cb = pq_train(emb, iters=2)
    p = str(tmp_path / "cb")
    save_pq_codebook(spark, cb, p)
    got = load_pq_codebook(spark, p)
    assert np.array_equal(got, cb)
    a = pq_encode(emb, cb).orderBy("vec_id").collect()
    b = pq_encode(emb, got).orderBy("vec_id").collect()
    assert [list(r.codes) for r in a] == [list(r.codes) for r in b]


def test_build_seconds_distinguish_build_from_warm_resolve(
    spark, tmp_path, monkeypatch
):
    """bench.build_seconds reports a resolve's wall seconds only when
    it built a slot: a warm resolve (~0 s) is not the one-time build
    cost, so it reports None. Exercised on the cheapest artifact (ANN
    ground truth) against a private cache root."""
    import bench
    from peerdb_cdc_psql_clickhouse_spark import artifacts
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ann_groundtruth_for,
    )

    monkeypatch.setattr(artifacts, "_cache_root", lambda: str(tmp_path))

    cold = bench.build_seconds(spark, SF_SMOKE, ann_groundtruth_for)
    assert isinstance(cold, float) and cold > 0  # cold root: real build
    built = artifacts.built_slots()
    assert built[-1].startswith(str(tmp_path))

    # the published slot is adopted, not rebuilt: no time, no record
    assert bench.build_seconds(spark, SF_SMOKE, ann_groundtruth_for) is None
    assert artifacts.built_slots() == built


def test_lost_publish_race_adopts_winner_and_removes_own_build(
    tmp_path, monkeypatch
):
    """A builder that loses the publish race adopts the winner's slot,
    removes its own build, and is not recorded as having built the
    served bytes; a clean win is recorded."""
    import os

    from peerdb_cdc_psql_clickhouse_spark import artifacts

    monkeypatch.setattr(artifacts, "_cache_root", lambda: str(tmp_path))

    expected_slot, ready = artifacts._persistent_slot("racetest", "k1")
    assert not ready
    build_dirs = []

    def build(tmp_dir: str) -> None:
        # simulate a concurrent winner publishing mid-build: the slot
        # appears (with _READY) while this build is still running
        build_dirs.append(tmp_dir)
        os.makedirs(expected_slot)
        open(os.path.join(expected_slot, "_READY"), "w").close()
        with open(os.path.join(tmp_dir, "data"), "w") as f:
            f.write("losing build")

    slot = artifacts.artifact_slot("racetest", "k1", build)
    assert slot == expected_slot
    assert not os.path.exists(os.path.join(slot, "data"))  # winner's bytes
    assert not os.path.exists(build_dirs[0])  # loser's build removed
    assert slot not in artifacts.built_slots()

    slot2 = artifacts.artifact_slot(
        "racetest",
        "k2",
        lambda d: open(os.path.join(d, "data"), "w").close(),
    )
    assert artifacts.built_slots()[-1] == slot2


def test_failed_build_leaves_no_temp_dir(tmp_path, monkeypatch):
    """A build that raises must not leak its temp build dir, publish a
    slot, or enter the build record."""
    import os

    import pytest

    from peerdb_cdc_psql_clickhouse_spark import artifacts

    monkeypatch.setattr(artifacts, "_cache_root", lambda: str(tmp_path))
    build_dirs = []

    def build(tmp_dir: str) -> None:
        build_dirs.append(tmp_dir)
        with open(os.path.join(tmp_dir, "partial"), "w") as f:
            f.write("half an artifact")
        raise RuntimeError("build failed")

    record = artifacts.built_slots()
    with pytest.raises(RuntimeError, match="build failed"):
        artifacts.artifact_slot("failtest", "k1", build)
    assert not os.path.exists(build_dirs[0])
    assert not artifacts._persistent_slot("failtest", "k1")[1]
    assert artifacts.built_slots() == record


def test_cold_artifact_environment_rejects_reentry():
    """cold_artifact_environment swaps process-global state under a
    single-threaded-driver contract; nested or concurrent entry would
    build into a soon-deleted throwaway root. Reentry raises, and the
    guard must not leak state — the outer block keeps working and the
    override is fully cleared on exit."""
    import os

    import pytest

    from peerdb_cdc_psql_clickhouse_spark import artifacts

    assert artifacts._CACHE_ROOT_OVERRIDE is None
    with artifacts.cold_artifact_environment() as root:
        with pytest.raises(RuntimeError, match="not reentrant"):
            with artifacts.cold_artifact_environment():
                pass
        # the failed reentry must not have torn down the outer root
        assert artifacts._CACHE_ROOT_OVERRIDE == root
        assert os.path.isdir(root)
    assert artifacts._CACHE_ROOT_OVERRIDE is None
    assert not os.path.exists(root)


def test_cold_artifact_environment_builds_cold_and_keeps_warm_handle(spark):
    """Inside the block the IVF index resolves to a fresh build under
    the throwaway root; after exit the warm slot's memoized handle is
    served again — the very same object — and no memo entry of the
    removed root survives."""
    import os

    from peerdb_cdc_psql_clickhouse_spark import artifacts
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ivf_index_for,
    )

    warm = ivf_index_for(spark, SF_SMOKE)
    with artifacts.cold_artifact_environment() as root:
        cold = ivf_index_for(spark, SF_SMOKE)
        assert cold.path.startswith(root + os.sep)
        assert artifacts.built_slots()[-1] == cold.path
        assert ivf_index_for(spark, SF_SMOKE) is cold
    assert ivf_index_for(spark, SF_SMOKE) is warm
    assert not any(k[0].startswith(root) for k in artifacts._SESSION_MEMO)


def test_survey_split_matches_registry():
    """VERDICT r4 #7: the documented declared-surface split in
    SURVEY.md §8 is auto-checked against the registry so the doc
    cannot silently go stale."""
    import os
    import re

    from peerdb_cdc_psql_clickhouse_spark.registry import all_queries

    qs = all_queries()
    n_total = len(qs)
    rows_only = sorted(n for n, q in qs.items() if q.oracle is None)
    n_hash = n_total - len(rows_only)

    # VERDICT r5 #9: pin the EXACT rows-only set in code, not just
    # counts — a future slot swap that silently demotes a hash query
    # to rows-only (or vice versa) must fail loudly here and be
    # re-pinned deliberately.
    assert rows_only == [
        "r14_replication_slots",  # live stream drained in-query
        "x2b_ann_searches",  # approximate ANN by construction
    ], rows_only

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    m = re.search(
        r"(\d+) declared = (\d+) hash \+ (\d+) rows-only\s*\(([^)]*)\)",
        survey,
    )
    assert m, "SURVEY.md must state the declared-surface split"
    assert int(m.group(1)) == n_total
    assert int(m.group(2)) == n_hash
    assert int(m.group(3)) == len(rows_only)
    documented = sorted(
        t.strip(" `\n") for t in m.group(4).split(",")
    )
    assert documented == rows_only, (documented, rows_only)


def test_bench_compact_line_fits_tail_capture():
    """VERDICT r5 #1: the driver tail-captures the LAST 2000 chars of
    stdout; the compact bench line must stay under budget with the
    full 50-query inventory and every headline scalar present. Build
    the dict exactly as bench.main() shapes it, with worst-case
    realistic values (3-digit seconds, long query names from the real
    registry), and check the enforced serializer."""
    import importlib.util
    import json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    from peerdb_cdc_psql_clickhouse_spark.registry import all_queries

    names = sorted(all_queries())
    assert len(names) <= 50
    compact = {
        "metric": "declared_query_inventory_total",
        "value": 123.456,
        "unit": "sec",
        "queries": {n: 123.45 for n in names},  # worst-case widths
        "sf": 0.1,
        "bench_iters": 3,
        "rel_spread_p90": 0.25,
        "ivf_index_build_sec_cold": 123.456,
        "text_index_build_sec_cold": 123.456,
        "cdc_ops_per_sec": 16758.12,
        "cdc_ops_per_sec_declared_profile": 16758.12,
        "cdc_bulk_rows_per_sec": 192720.55,
        "ivf_index_recall_at_3": 0.9867,
        "ivf_prerank_index_recall_at_3": 0.9533,
        "ivfpq_recall_at_10": 0.8964,
        "bm25_overlap_min": 1.0,
        "scaled_mult": 10,
        "scaled_total_sec": 123.456,
        "scaled_worst_ratio": 12.34,
        "scaled_worst_query": "x1g_substring_spans",
        "scaled_worst_ratio_unfloored": 12.34,
        "scaled_over_2x_per_row_cost_count": 0,
        "error_count": 0,
        "detail_file": "BENCH_DETAIL.json",
    }
    line = bench.compact_json_line(dict(compact))
    assert len(line) < bench.COMPACT_BUDGET
    parsed = json.loads(line)
    # driver-contract fields always survive
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in parsed
    assert len(parsed["queries"]) == len(names)
    # and with NO dropping needed at today's surface: every headline
    # scalar should still be present (if this fails, the surface grew
    # — rebudget deliberately, don't let the drop order hide it)
    assert set(parsed) == set(compact), (
        "compact line needed to drop scalars at the current "
        "query-name widths — rebudget deliberately"
    )
    # the driver-contract fields must never be droppable (VERDICT r6
    # #9): the drop-order list is the only mechanism that removes
    # fields, so membership is the invariant
    contract = {"metric", "value", "unit", "queries", "sf"}
    assert not contract & set(bench._COMPACT_DROP_ORDER)
    # worst case: a budget so tight every optional scalar drops —
    # the contract fields still survive in the emitted line
    bare = dict(compact)
    for k in bench._COMPACT_DROP_ORDER:
        bare.pop(k, None)
    bare.pop("error_count", None)
    floor = len(json.dumps(bare, separators=(",", ":")))
    orig = bench.COMPACT_BUDGET
    bench.COMPACT_BUDGET = floor + 30
    try:
        squeezed = json.loads(bench.compact_json_line(dict(compact)))
    finally:
        bench.COMPACT_BUDGET = orig
    assert contract <= set(squeezed)
    assert len(squeezed["queries"]) == len(names)


def test_registered_build_bears_its_declared_name():
    """r12 regression guard: @declare registers whatever `def` follows
    it — an accidental insertion between the decorator call and the
    intended function silently swaps the registered build (caught live
    this round: a helper landed between d5's @declare(...) and its
    def, so the registry served the helper and every d5 call broke
    with a TypeError). The build's __name__ must equal the declared
    query name."""
    from peerdb_cdc_psql_clickhouse_spark.registry import all_queries

    for name, q in all_queries().items():
        assert q.build.__name__ == name, (
            f"declared query {name!r} is bound to "
            f"{q.build.__name__!r} — something was inserted between "
            "its @declare(...) decorator and the intended def"
        )


def test_scaled_ratio_headline_floor_gating():
    """r13 (VERDICT r12 #1): the scaled_worst_ratio headline must name
    a query whose 1x base clears the fixed-overhead floor — the r12
    headline pointed at x8_heavy_hitters (0.99 s base, fixed-cost
    artifact). The unfloored worst must survive as a secondary field
    so the gate can never hide a real regression."""
    import bench

    t1x = {"big": 2.0, "small": 0.2, "mid": 1.0}
    t10x = {"big": 4.0, "small": 1.0, "mid": 1.5}
    s = bench.scaled_ratio_summary(t10x, t1x, mult=10, floor=1.0)
    # 'small' has the worst raw ratio (5.0) but a sub-floor base:
    # the headline names 'big' (2.0), the unfloored field names it
    assert (s["worst_query"], s["worst_ratio"]) == ("big", 2.0)
    assert (s["worst_query_unfloored"], s["worst_ratio_unfloored"]) == (
        "small",
        5.0,
    )
    assert s["worst_ratio_filtered"] is True
    assert s["time_ratio_vs_1x"]["mid"] == 1.5

    # over-2x-per-row-cost applies the same floor: 'small' at ratio
    # 25 (> 2*10) must NOT count; 'big' at 42 must
    s2 = bench.scaled_ratio_summary(
        {"big": 84.0, "small": 5.0}, t1x, mult=10, floor=1.0
    )
    assert set(s2["over_2x_per_row_cost"]) == {"big"}

    # nothing clears the floor: fall back to the unfiltered worst and
    # SAY SO (worst_ratio_filtered False)
    s3 = bench.scaled_ratio_summary(
        {"small": 1.0}, {"small": 0.2}, mult=10, floor=1.0
    )
    assert (s3["worst_query"], s3["worst_ratio_filtered"]) == (
        "small",
        False,
    )

    # the module default floor is the r13 value
    assert bench.SCALE_SIGNAL_MIN_1X_SEC == 1.0


def test_bench_steal_sampler_contract(tmp_path, monkeypatch):
    """r17: bench measures hypervisor steal directly (/proc/stat)
    instead of inferring window quality. Contract: _cpu_ticks returns
    (steal, total) with steal <= total; _steal_pct computes the share
    of elapsed ticks, returns None on unreadable input or no elapsed
    ticks (never raises — a missing /proc must not break a bench
    run)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    t = bench._cpu_ticks()
    assert t is not None  # this box has /proc/stat
    steal, total = t
    assert 0 <= steal <= total

    # share math on a pinned end-sample (hermetic — the real
    # /proc/stat accrues ticks between any two reads, ~3200/s on 32
    # cpus, so arithmetic against a live re-read is inherently racy):
    # 2 steal ticks out of 100 elapsed = 2.0%
    monkeypatch.setattr(bench, "_cpu_ticks", lambda: (102, 1100))
    assert bench._steal_pct((100, 1000)) == 2.0

    # graceful None paths: no baseline, no elapsed ticks, clock skew
    assert bench._steal_pct(None) is None
    assert bench._steal_pct((102, 1100)) is None
    assert bench._steal_pct((102, 1200)) is None
    monkeypatch.undo()

    # unreadable /proc/stat -> None, not an exception
    real_open = open

    def boom(path, *a, **k):
        if path == "/proc/stat":
            raise OSError("no proc")
        return real_open(path, *a, **k)

    import builtins

    monkeypatch.setattr(builtins, "open", boom)
    assert bench._cpu_ticks() is None
    monkeypatch.undo()

    # guest/guest_nice are excluded from the denominator (ADVICE r17:
    # Linux accounts guest time inside user/nice, so including fields
    # 9-10 double-counts on a KVM host and understates steal%)
    import io

    def fake_stat(path, *a, **k):
        if path == "/proc/stat":
            # user nice sys idle iowait irq sirq steal guest gnice
            return io.StringIO(
                "cpu 100 10 50 800 20 5 5 10 40 4\ncpu0 ...\n"
            )
        return real_open(path, *a, **k)

    monkeypatch.setattr(builtins, "open", fake_stat)
    assert bench._cpu_ticks() == (10, 1000)  # not 1044


def test_bench_steal_gate_policy():
    """r18 (VERDICT r17 #1): the committed bench record must be
    steal-certified or explicitly degraded. steal_gate is the pure
    policy deciding rerun/promotion; pin every branch."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    gate = bench.steal_gate

    # clean first window: no rerun, certified
    assert gate([0.1]) == {"retry": False, "pick": 0, "certified": True}
    # exactly at threshold certifies (<=)
    assert gate([0.5]) == {"retry": False, "pick": 0, "certified": True}
    # stealy window with attempts left: rerun
    assert gate([1.1]) == {"retry": True, "pick": 0, "certified": False}
    # rerun landed clean: promote the clean attempt, certified
    assert gate([1.1, 0.2]) == {
        "retry": False, "pick": 1, "certified": True,
    }
    # every attempt stealy at the cap: promote the least-stealy,
    # explicitly NOT certified (-> steal_degraded marker)
    assert gate([1.1, 0.9, 0.7]) == {
        "retry": False, "pick": 2, "certified": False,
    }
    assert gate([0.9, 1.4]) == {"retry": True, "pick": 0, "certified": False}
    # unmeasurable sampler (no /proc): never retries, never certifies
    assert gate([None]) == {"retry": False, "pick": 0, "certified": False}
    # an unmeasured attempt never beats a measured one
    assert gate([None, 0.8], max_attempts=2) == {
        "retry": False, "pick": 1, "certified": False,
    }
    # attempt cap override (smoke runs disable reruns with cap=1)
    assert gate([2.0], max_attempts=1) == {
        "retry": False, "pick": 0, "certified": False,
    }
