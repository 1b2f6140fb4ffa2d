"""Persisted IVF index lifecycle: build -> load -> search with
partition-pruned scans; search results match the in-memory operator
and reach brute-force recall at full probe coverage."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    load_ivf_index,
    search_ivf_index,
    search_ivf_index_prerank,
)

SF = "/root/testdata/sf0.01"


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_build_layout_and_pruned_search(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    idx = build_ivf_index(emb, path, n_centroids=16, n_assign=1)
    cell_dirs = glob.glob(f"{path}/lists/centroid_id=*")
    assert 2 <= len(cell_dirs) <= 16
    # every corpus vector indexed exactly once at n_assign=1
    assert idx.lists.count() == emb.count()

    queries = emb.filter(F.col("vec_id") < 5)
    res = search_ivf_index(idx, queries, k=3, nprobe=4)
    out = res.collect()
    assert {r["q_id"] for r in out} == {0, 1, 2, 3, 4}
    assert all(1 <= r["rank"] <= 3 for r in out)
    # partition pruning reaches the scan: the physical plan carries a
    # partition filter on centroid_id
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan


def test_full_probe_matches_brute_force(spark, tmp_path):
    emb = _emb(spark)
    idx = build_ivf_index(
        emb, str(tmp_path / "ivf"), n_centroids=8, n_assign=1
    )
    queries = emb.filter(F.col("vec_id") < 5)
    got = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in search_ivf_index(idx, queries, k=3, nprobe=8).collect()
    }
    qframe = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )
    )
    want = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in cosine_topk(qframe, emb, k=3).collect()
    }
    assert got == want


def test_prerank_search_from_persisted_proj(spark, tmp_path):
    """build(proj_dim=...) persists the JL projection; prerank search
    reads it (no per-query projection of corpus rows) and, at
    exhaustive rerank, returns exactly the plain index search."""
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    idx = build_ivf_index(
        emb, path, n_centroids=8, n_assign=1, proj_dim=16
    )
    assert "proj" in idx.lists.columns
    queries = emb.filter(F.col("vec_id") < 5)
    got = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in search_ivf_index_prerank(
            idx, queries, k=3, nprobe=4, proj_dim=16, rerank=10**9
        ).collect()
    }
    want = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in search_ivf_index(
            idx, queries, k=3, nprobe=4
        ).collect()
    }
    assert got == want


def test_prerank_search_prunes_partitions(spark, tmp_path):
    emb = _emb(spark)
    idx = build_ivf_index(
        emb, str(tmp_path / "ivf"), n_centroids=16, n_assign=1,
        proj_dim=16,
    )
    res = search_ivf_index_prerank(
        idx, emb.filter(F.col("vec_id") < 2), k=3, nprobe=2, proj_dim=16
    )
    out = res.collect()
    assert {r["q_id"] for r in out} == {0, 1}
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan


def test_prerank_search_without_persisted_proj_falls_back(
    spark, tmp_path
):
    """An index built without proj still preranks — projection is
    computed on the PRUNED slice only."""
    emb = _emb(spark)
    idx = build_ivf_index(
        emb, str(tmp_path / "ivf"), n_centroids=8, n_assign=1
    )
    assert "proj" not in idx.lists.columns
    res = search_ivf_index_prerank(
        idx, emb.filter(F.col("vec_id") < 3), k=3, nprobe=8,
        proj_dim=16, rerank=10**9,
    )
    want = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in search_ivf_index(
            idx, emb.filter(F.col("vec_id") < 3), k=3, nprobe=8
        ).collect()
    }
    got = {(r["q_id"], r["rank"]): r["vec_id"] for r in res.collect()}
    assert got == want


def test_incremental_insert_is_searchable(spark, tmp_path):
    """ivf_index_insert (r5): O(batch) append — the inserted vectors
    are found by later searches (incl. through the persisted-proj
    prerank path) without any rebuild."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ivf_index_insert,
    )

    emb = _emb(spark)
    base = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf")
    idx = build_ivf_index(
        base, path, n_centroids=8, n_assign=1, proj_dim=16
    )
    n_before = idx.lists.count()

    dup = emb.filter(F.col("vec_id") == 2).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    idx = ivf_index_insert(idx, rest.unionByName(dup), n_assign=1)
    assert idx.lists.count() == n_before + rest.count() + 1
    assert "proj" in idx.lists.columns

    # the inserted exact duplicate is rank-1 (cosine 1.0) for query 2
    res = search_ivf_index(
        idx, emb.filter(F.col("vec_id") == 2), k=1, nprobe=8
    ).collect()
    assert res[0]["vec_id"] == 1_000_002 and res[0]["cosine_sim"] == 1.0
    # and through the prerank path too
    res2 = search_ivf_index_prerank(
        idx, emb.filter(F.col("vec_id") == 2), k=1, nprobe=8,
        proj_dim=16,
    ).collect()
    assert res2[0]["vec_id"] == 1_000_002


def test_load_reopens_same_index(spark, tmp_path):
    emb = _emb(spark)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8, n_assign=2)
    idx = load_ivf_index(spark, path)
    assert idx.centroids.count() == 8
    assert idx.lists.count() == 2 * emb.count()
    res = search_ivf_index(
        idx, emb.filter(F.col("vec_id") == 0), k=3, nprobe=2
    )
    assert res.count() == 3


def test_prerank_geometry_comes_from_index_meta(spark, tmp_path):
    """r5 code review: a caller proj_dim/dim that contradicts the
    persisted projection must RAISE, not NULL every score; with no
    caller args the geometry resolves from the index meta."""
    import pytest

    emb = _emb(spark)
    idx = build_ivf_index(
        emb, str(tmp_path / "ivf"), n_centroids=8, n_assign=1,
        proj_dim=16,
    )
    assert idx.meta["proj_dim"] == 16 and idx.meta["dim"] == 64
    queries = emb.filter(F.col("vec_id") < 2)
    # meta-resolved search works without geometry args
    assert (
        search_ivf_index_prerank(idx, queries, k=3, nprobe=8).count()
        > 0
    )
    with pytest.raises(ValueError, match="projection width"):
        search_ivf_index_prerank(
            idx, queries, k=3, nprobe=8, proj_dim=24
        )
    with pytest.raises(ValueError, match="embedding dim"):
        search_ivf_index_prerank(
            idx, queries, k=3, nprobe=8, dim=128
        )


def test_index_cache_invalidates_on_source_mtime(spark, tmp_path):
    """ivf_index_for keys on (path, mtime): rewriting the corpus under
    the same path yields a fresh index, not a stale cache hit."""
    import os
    import shutil

    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ivf_index_for,
    )

    sfd = str(tmp_path / "sf")
    os.makedirs(sfd)
    shutil.copy(
        "/root/testdata/sf0.001/embeddings.parquet",
        f"{sfd}/embeddings.parquet",
    )
    idx1 = ivf_index_for(spark, sfd)
    p1 = idx1.path
    assert ivf_index_for(spark, sfd).path == p1  # cache hit

    os.utime(f"{sfd}/embeddings.parquet", None)  # "regenerated"
    # bump well past 1s granularity
    st = os.stat(f"{sfd}/embeddings.parquet")
    os.utime(
        f"{sfd}/embeddings.parquet", (st.st_atime + 5, st.st_mtime + 5)
    )
    idx2 = ivf_index_for(spark, sfd)
    assert idx2.path != p1  # rebuilt for the new corpus identity


def test_auto_centroids_sizes_with_corpus(spark, tmp_path):
    """r11 (the IVF twin of the text index's bucket auto-pick): the
    standing per-corpus index sizes its cell count from the corpus —
    testdata stays at the 64-cell floor (declared hashes unchanged),
    a bigger corpus gets ceil(n/256) cells capped at 65536, and an
    auto-sized index still searches exactly (full probe == brute
    force)."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        N_CENTROIDS,
        ivf_auto_centroids,
    )

    assert ivf_auto_centroids(500) == N_CENTROIDS  # sf0.01 floor
    assert ivf_auto_centroids(2000) == N_CENTROIDS  # sf0.1 floor
    assert ivf_auto_centroids(1_000_000) == 3907  # ceil(1e6/256)
    assert ivf_auto_centroids(10**9) == 65536  # cap

    # an above-floor cell count (what a big corpus gets) stays exact
    # at full probe: same guarantee x2e pins for the default geometry
    emb = _emb(spark)
    n = emb.count()
    path = str(tmp_path / "ivf_auto")
    cells = 96  # > the 64 floor, forced small target for test scale
    idx = build_ivf_index(emb, path, n_centroids=cells, n_assign=1)
    queries = emb.filter(F.col("vec_id") < 5)
    got = {
        (r["q_id"], r["vec_id"], r["rank"])
        for r in search_ivf_index(idx, queries, k=3, nprobe=cells).collect()
    }
    qframe = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )
    )
    want = {
        (r["q_id"], r["vec_id"], r["rank"])
        for r in cosine_topk(qframe, emb, k=3).collect()
    }
    assert got == want


def test_auto_nprobe_scales_with_cell_count(spark, tmp_path):
    """ADVICE r11 (low): with auto-sized cell counts (cells ∝ corpus
    at constant cell size), a FIXED nprobe probes a linearly-shrinking
    corpus fraction — recall silently decays at scale. The default
    must scale ~sqrt(n_centroids), anchored so the 64-cell floor keeps
    the tuned nprobe=8 point (declared hashes/recall unchanged)."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        NPROBE,
        _index_nprobe,
        ivf_auto_nprobe,
    )

    assert ivf_auto_nprobe(64) == NPROBE == 8  # floor == tuned point
    assert ivf_auto_nprobe(16) == 8  # NPROBE floor (below 64 cells)
    assert ivf_auto_nprobe(4) == 4  # never more probes than cells
    assert ivf_auto_nprobe(256) == 16
    assert ivf_auto_nprobe(4096) == 64
    assert ivf_auto_nprobe(65536) == 256
    # probed FRACTION shrinks ~1/sqrt(cells), not 1/cells
    assert ivf_auto_nprobe(65536) / 65536 > NPROBE / 65536 * 30

    # resolution: explicit wins; meta wins over counting; a meta-less
    # index counts its (tiny) centroids table
    emb = _emb(spark)
    idx = build_ivf_index(
        emb, str(tmp_path / "ivf_np"), n_centroids=96, n_assign=1
    )
    assert idx.meta["n_centroids"] == 96
    assert _index_nprobe(idx, None) == ivf_auto_nprobe(96) == 9
    assert _index_nprobe(idx, 5) == 5
    idx.meta = {}
    assert _index_nprobe(idx, None) == 9  # counted off centroids/


def test_ivf_cache_key_carries_layout_params(spark):
    """VERDICT r11 #5: every layout-shaping constant must live IN the
    persistent slot key (changing IVF_TARGET_VECS_PER_CELL used to
    require remembering a manual _IVF_FORMAT bump — a forgettable
    invariant that would silently serve a stale cell layout)."""
    import inspect

    from peerdb_cdc_psql_clickhouse_spark.operators import similarity

    src = inspect.getsource(similarity.ivf_index_for)
    assert "IVF_TARGET_VECS_PER_CELL" in src
    assert "_IVF_FORMAT" in src and "_IVF_PROJ_DIM" in src


def test_quantizer_builds_are_deterministic(spark):
    """r12 found float-order nondeterminism (combine order varied
    run-to-run, recalls wiggled ±0.002 on byte-identical code); r15
    closed the remaining partition/platform dependence with
    fixed-point partials + rounded-argmin assignment (VERDICT r14
    #1). Pin: BOTH quantizer trainings are now partitioning-
    INDEPENDENT by construction — kmeans at 13 vs default partitions
    and pq_train at 4 vs 32 partitions must agree bit-for-bit (the
    broader per-artifact repartition pins live in
    tests/test_determinism.py)."""
    import numpy as np

    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        kmeans_centroids,
        pq_train,
    )

    emb = _emb(spark)
    a = {
        r["c_id"]: tuple(r["c_vec"])
        for r in kmeans_centroids(emb, 32, iters=2).collect()
    }
    b = {
        r["c_id"]: tuple(r["c_vec"])
        for r in kmeans_centroids(
            emb.repartition(13), 32, iters=2
        ).collect()
    }
    assert a == b and len(a) == 32

    cb1 = pq_train(emb.repartition(4), m=8, nbits=4)
    cb2 = pq_train(emb.repartition(32), m=8, nbits=4)
    assert np.array_equal(cb1, cb2)


def test_x2b_subset_invariant_rows_match_numpy_oracle(spark):
    """r13 (VERDICT r12 #4): the x2b union carries one deterministic
    invariant row per approximate operating point — # of approximate
    results OUTSIDE the exact full-probe top-N and the contained
    fraction. Pin both against an independent numpy oracle so a
    containment regression moves the driver row, not just a bench
    metric."""
    import numpy as np

    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ANN_SUBSET_FULL_N,
        N_QUERY_VECS,
        x2b_ann_searches,
    )

    rows = x2b_ann_searches(spark, SF).collect()
    inv = {r.op: r for r in rows if r.op.endswith("_subset_full_top10")}
    assert set(inv) == {
        "ivf_subset_full_top10",
        "prerank_subset_full_top10",
    }

    # numpy exact top-N per query: same rounding, same tiebreak,
    # self excluded — independent of every Spark code path
    pdf = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    exact_topn = {}
    for q in range(N_QUERY_VECS):
        qi = int(np.where(ids == q)[0][0])
        sims = mat @ mat[qi] / (norms * norms[qi])
        sims = np.floor(sims * 1e6 + 0.5) / 1e6  # fround(,6)
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != q),
            key=lambda i: (-sims[i], ids[i]),
        )
        exact_topn[q] = {int(ids[i]) for i in order[:ANN_SUBSET_FULL_N]}

    for op in ("ivf", "prerank"):
        approx = [
            (r.q_id, r.vec_id) for r in rows if r.op == op
        ]
        assert approx  # both operating points present in the union
        missing = sum(
            1 for q, v in approx if v not in exact_topn[q]
        )
        r = inv[f"{op}_subset_full_top10"]
        assert (r.q_id, r.rank) == (-1, ANN_SUBSET_FULL_N)
        assert r.vec_id == missing
        assert r.cosine_sim == round(
            (len(approx) - missing) / len(approx), 6
        )
        # and the invariant itself HOLDS on the driver corpus: every
        # approximate result is inside the exact top-N
        assert missing == 0 and r.cosine_sim == 1.0


def test_ann_groundtruth_slot_matches_fresh_bruteforce(spark):
    """x2b's exact containment side reads a
    per-corpus PERSISTED ground truth instead of re-running the
    brute-force pass per execution. The slot must be byte-equal to a
    fresh cosine_topk at the same n — determinism (fround(,6) +
    vec_id tiebreak) is what makes persisting hash-safe — and the
    build must be once-per-corpus (a second resolve runs no build)."""
    from peerdb_cdc_psql_clickhouse_spark.artifacts import built_slots
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        ANN_SUBSET_FULL_N,
        N_QUERY_VECS,
        ann_groundtruth_for,
    )

    gt = ann_groundtruth_for(spark, SF, ANN_SUBSET_FULL_N)
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    fresh = cosine_topk(queries, emb, k=ANN_SUBSET_FULL_N).withColumn(
        "rank", F.col("rank").cast("int")
    )
    key = lambda r: (r.q_id, r.rank)  # noqa: E731
    got = sorted(gt.collect(), key=key)
    want = sorted(fresh.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == N_QUERY_VECS * ANN_SUBSET_FULL_N
    # parquet round-trips relax nullability; names+types must hold
    assert [(f.name, f.dataType) for f in gt.schema] == [
        (f.name, f.dataType) for f in fresh.schema
    ]
    # once-per-corpus: the slot is published, so resolving it again
    # builds nothing
    record = built_slots()
    ann_groundtruth_for(spark, SF, ANN_SUBSET_FULL_N)
    assert built_slots() == record


def test_shared_probe_assignment_matches_standalone_searches(
    spark, tmp_path
):
    """r16 (VERDICT r15 #2): the declared x2b union feeds BOTH
    operating points one probe_assignment() instead of two identical
    assignment + cells-collect jobs; the shared-probes results must
    equal the standalone searches EXACTLY (same rows, same float
    bits) — the refactor is a cost change, never a value change."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        probe_assignment,
    )

    emb = _emb(spark)
    idx = build_ivf_index(
        emb,
        str(tmp_path / "ivf"),
        n_centroids=16,
        n_assign=2,
        proj_dim=8,
        dim=64,
    )
    queries = emb.filter(F.col("vec_id") < 10)
    shared = probe_assignment(idx, queries, nprobe=4)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(
        search_ivf_index(idx, queries, k=3, nprobe=4)
    ) == rows(search_ivf_index(idx, queries, k=3, probes_cells=shared))
    assert rows(
        search_ivf_index_prerank(idx, queries, k=3, nprobe=4, rerank=20)
    ) == rows(
        search_ivf_index_prerank(
            idx, queries, k=3, rerank=20, probes_cells=shared
        )
    )


def test_declared_probes_memo_matches_fresh_assignment(spark):
    """declared_query_probes memoizes the declared batch's probe
    assignment per (index path, sf_dir, nprobe) within a session. A
    memo hit must return values bit-identical to a fresh
    probe_assignment on the same constructed batch (the memo is a
    cost change, never a value change), hits must be same-object
    (no re-collect), and a different nprobe must miss."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        N_QUERY_VECS,
        declared_query_probes,
        ivf_index_for,
        probe_assignment,
    )

    idx = ivf_index_for(spark, SF)
    probes_a, cells_a = declared_query_probes(spark, SF, idx, nprobe=3)
    probes_b, cells_b = declared_query_probes(spark, SF, idx, nprobe=3)
    assert probes_a is probes_b and cells_a is cells_b  # memo hit

    queries = _emb(spark).filter(F.col("vec_id") < N_QUERY_VECS)
    fresh_probes, fresh_cells = probe_assignment(idx, queries, nprobe=3)
    assert cells_a == fresh_cells
    assert sorted(map(tuple, probes_a.collect())) == sorted(
        map(tuple, fresh_probes.collect())
    )

    other_probes, other_cells = declared_query_probes(spark, SF, idx, nprobe=2)
    assert other_probes is not probes_a  # different nprobe = miss
    assert len(other_cells) <= len(cells_a)
