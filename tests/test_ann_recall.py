"""ANN quality tests with planted near-duplicates.

The driver testdata's embeddings are near-orthogonal (max cosine
~0.4), so recall is measured the way ANN systems are actually
evaluated: plant true near-duplicates (tiny perturbations, cosine
~0.999) and require the persisted IVF index (build_ivf_index +
search_ivf_index / search_ivf_index_prerank) to find them. Recall is
additionally checked on the natural data against brute force."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from peerdb_cdc_psql_clickhouse_spark.catalog import load_table
from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    search_ivf_index,
    search_ivf_index_prerank,
)

SF = "/root/testdata/sf0.001"
N_PLANTED = 20
OFFSET = 1_000_000
PROJ_DIM = 24


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus + near-dup copies of vec_id < N_PLANTED (deterministic
    tiny perturbation: scale one coordinate by 1.01)."""
    emb = load_table(spark, SF, "embeddings")
    dups = (
        emb.filter(F.col("vec_id") < N_PLANTED)
        .select(
            (F.col("vec_id") + OFFSET).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: F.when(i == 0, x * 1.01).otherwise(x),
            ).alias("embedding"),
            "label",
        )
    )
    return emb.unionByName(dups)


@pytest.fixture(scope="module")
def planted_index(planted, tmp_path_factory):
    return build_ivf_index(
        planted.select("vec_id", "embedding"),
        str(tmp_path_factory.mktemp("ivf") / "planted"),
        proj_dim=PROJ_DIM,
    )


@pytest.fixture(scope="module")
def natural_index(spark, tmp_path_factory):
    return build_ivf_index(
        load_table(spark, SF, "embeddings").select("vec_id", "embedding"),
        str(tmp_path_factory.mktemp("ivf") / "natural"),
        proj_dim=PROJ_DIM,
    )


def _planted_queries(planted):
    return planted.filter(F.col("vec_id") >= OFFSET).select(
        "vec_id", "embedding"
    )


def _planted_hits(got) -> int:
    return sum(
        1 for r in got if r["vec_id"] == r["q_id"] - OFFSET and r["rank"] == 1
    )


def test_ivf_finds_planted_neardups(spark, planted, planted_index):
    got = search_ivf_index(
        planted_index, _planted_queries(planted), k=1
    ).collect()
    assert _planted_hits(got) >= int(N_PLANTED * 0.9)


def test_planes_scale_with_corpus_and_keep_finding_neardups(
    spark, planted
):
    """planes_for grows ~log2(n) so expected bucket occupancy stays
    <= target (bounded in-bucket pair work); true near-dups still land
    in shared buckets at the higher plane count because they agree
    with (almost) every hyperplane."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        N_PLANES,
        cosine_neardup_pairs,
        planes_for,
    )

    assert planes_for(100) == N_PLANES
    for n in (10**5, 10**7, 10**9):
        p = planes_for(n)
        assert n / 2**p <= 256  # occupancy bound
    assert planes_for(10**9) > planes_for(10**5)  # grows with n

    pairs = cosine_neardup_pairs(
        planted, threshold=0.99, n_planes=planes_for(10**6, 64)
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    hits = sum(
        1 for i in range(N_PLANTED) if (i, i + OFFSET) in found
    )
    assert hits >= int(N_PLANTED * 0.9)


def test_kmeans_refinement_reduces_inertia_and_keeps_neardup_recall(
    spark, planted, tmp_path
):
    """Lloyd's rounds must strictly reduce quantization error
    (sum of L2 to the assigned centroid) vs the raw seeds, stay
    deterministic, and an index on the refined quantizer must still
    retrieve planted near-duplicates at rank 1."""
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        _l2,
        ivf_assign,
        kmeans_centroids,
    )

    emb = load_table(spark, SF, "embeddings")

    def inertia(cent):
        a = ivf_assign(emb, cent, 1)
        return (
            a.join(cent, a.centroid_id == cent.c_id)
            .select(_l2(F.col("embedding"), F.col("c_vec")).alias("d"))
            .agg(F.sum("d"))
            .first()[0]
        )

    seeds = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    refined = kmeans_centroids(emb, n_centroids=16, iters=2)
    assert inertia(refined) < inertia(seeds) * 0.95

    again = kmeans_centroids(emb, n_centroids=16, iters=2)
    assert (
        refined.orderBy("c_id").collect()
        == again.orderBy("c_id").collect()
    )  # deterministic — no random init anywhere

    index = build_ivf_index(
        planted.select("vec_id", "embedding"),
        str(tmp_path / "refined"),
        refine_iters=2,
    )
    got = search_ivf_index(index, _planted_queries(planted), k=1).collect()
    assert _planted_hits(got) >= int(N_PLANTED * 0.9)


def test_ivf_prerank_finds_planted_neardups(spark, planted, planted_index):
    got = search_ivf_index_prerank(
        planted_index, _planted_queries(planted), k=1
    ).collect()
    # a JL projection of a near-identical pair stays near-identical
    # (distortion is relative), so the pre-rank cut cannot lose it
    assert _planted_hits(got) >= int(N_PLANTED * 0.9)


def _natural_recall(spark, search) -> float:
    emb = load_table(spark, SF, "embeddings")
    q_batch = emb.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
    queries = q_batch.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r["q_id"], r["vec_id"]) for r in cosine_topk(queries, emb).collect()
    }
    approx = {(r["q_id"], r["vec_id"]) for r in search(q_batch).collect()}
    return len(exact & approx) / len(exact)


def test_ivf_prerank_recall_floor_on_natural_data(spark, natural_index):
    recall = _natural_recall(
        spark, lambda q: search_ivf_index_prerank(natural_index, q)
    )
    assert recall >= 0.8, f"IVF+prerank recall {recall}"


def test_ivf_recall_vs_brute_force_on_natural_data(spark, natural_index):
    recall = _natural_recall(
        spark, lambda q: search_ivf_index(natural_index, q)
    )
    assert recall >= 0.8, f"IVF recall {recall}"
