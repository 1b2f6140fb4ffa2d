"""Round-19 optimization pins: every change here must be
result-invisible — these tests prove the optimized internals produce
byte-identical frames to the shapes they replaced.

- winnow_edges (inverted-list combos, the x1d pattern): equals the old
  df-cap-agg + filtering-join + fingerprint-keyed self-join shape, and
  its uniqueness precondition ((fingerprint, doc_id) unique) holds
  corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_SMOKE
from peerdb_cdc_psql_clickhouse_spark.catalog import load_table
from peerdb_cdc_psql_clickhouse_spark.operators.dedup import (
    WINNOW_MAX_DF,
    WINNOW_MIN_SHARED,
    winnow_edges,
)
from peerdb_cdc_psql_clickhouse_spark.operators.text import winnow_fp


def test_winnow_fp_doc_pairs_unique(spark):
    # the inverted-list rewrite's premise: winnow_fp explodes
    # array_distinct'd per-doc minima, so (fingerprint, doc_id) is
    # unique and list length == df, combos == self-join pairs
    fp = winnow_fp(load_table(spark, SF_SMOKE, "documents"))
    total = fp.count()
    distinct = fp.dropDuplicates(["fingerprint", "doc_id"]).count()
    assert total == distinct > 0


def _self_join_edges(fp, max_df, min_shared):
    """The pre-r19 winnow_edges shape, kept verbatim as the
    equivalence reference."""
    ok = (
        fp.groupBy("fingerprint")
        .count()
        .filter(F.col("count") <= max_df)
        .select("fingerprint")
    )
    fpf = fp.join(ok, "fingerprint")
    a = fpf.select("fingerprint", F.col("doc_id").alias("src"))
    b = fpf.select("fingerprint", F.col("doc_id").alias("dst"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .count()
        .filter(F.col("count") >= min_shared)
        .select("src", "dst")
    )


def test_cosine_sql_matches_column_form(spark):
    # the one-string _cosine must equal the Column-API _dot/_norm
    # arithmetic EXACTLY (pre-rounding doubles): same sequential fold,
    # same casts — only the number of py4j calls changed
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        _cosine,
        _dot,
        _norm,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pairs = (
        emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        .crossJoin(
            emb.filter(F.col("vec_id") < 5).select(
                F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
            )
        )
    )
    old_guarded = _dot(F.col("va"), F.col("vb")) / F.nullif(
        _norm(F.col("va")) * _norm(F.col("vb")), F.lit(0.0)
    )
    old_raw = _dot(F.col("va"), F.col("vb")) / (
        _norm(F.col("va")) * _norm(F.col("vb"))
    )
    diff = pairs.select(
        (old_guarded == _cosine("va", "vb")).alias("g"),
        (old_raw == _cosine("va", "vb", guarded=False)).alias("r"),
    ).filter(~F.col("g") | ~F.col("r"))
    assert diff.count() == 0


def test_x2b_leg_sharing_matches_standalone(spark):
    # the shared full-dim scored set must leave both x2b legs'
    # results byte-identical to their standalone plans
    from peerdb_cdc_psql_clickhouse_spark.operators import similarity as S
    from peerdb_cdc_psql_clickhouse_spark.plans.layout import reuse

    index = S.ivf_index_for(spark, SF_SMOKE)
    shared = S.declared_query_probes(spark, SF_SMOKE, index)
    scored = reuse(S._ivf_scored(index, shared[0], shared[1]))
    for fn in (S.x2b_ann_prerank, S.x2d_ann_ivf):
        alone = sorted(
            map(tuple, fn(spark, SF_SMOKE, probes_cells=shared).collect())
        )
        with_shared = sorted(
            map(
                tuple,
                fn(
                    spark, SF_SMOKE, probes_cells=shared, scored=scored
                ).collect(),
            )
        )
        assert alone == with_shared and len(alone) > 0


def test_values_frame_matches_create_dataframe(spark):
    # the VALUES LocalRelation must reproduce createDataFrame's rows,
    # names and types exactly (nullability is documented to tighten)
    from datetime import date
    from decimal import Decimal

    from peerdb_cdc_psql_clickhouse_spark.catalog import (
        CUSTOMERS_SCHEMA,
        ORDERS_SCHEMA,
        PRODUCTS_SCHEMA,
    )
    from peerdb_cdc_psql_clickhouse_spark.functions.values import (
        values_frame,
    )
    from peerdb_cdc_psql_clickhouse_spark.operators.relational import (
        SEED_CUSTOMERS,
        SEED_ORDERS,
        SEED_PRODUCTS,
    )

    cases = [
        (SEED_CUSTOMERS, CUSTOMERS_SCHEMA, SEED_CUSTOMERS),
        (
            SEED_PRODUCTS,
            PRODUCTS_SCHEMA,
            [(i, n, d, Decimal(w)) for i, n, d, w in SEED_PRODUCTS],
        ),
        (
            SEED_ORDERS,
            ORDERS_SCHEMA,
            [
                (i, date.fromisoformat(d), p, q, pid)
                for i, d, p, q, pid in SEED_ORDERS
            ],
        ),
        (
            [("a'b\\c\nd",), ("\\n",), ("",), ("é\x1f",), (None,)],
            "s string",
            None,
        ),
        ([([1, 2, 3],), ([],)], "w array<bigint>", None),
    ]
    # string literals must not depend on the parser's escape setting
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for flag in ("false", "true"):
            spark.conf.set(key, flag)
            for rows, schema, legacy in cases:
                vf = values_frame(spark, rows, schema)
                cf = spark.createDataFrame(
                    legacy if legacy is not None else rows, schema
                )
                assert [
                    (f.name, f.dataType) for f in vf.schema.fields
                ] == [(f.name, f.dataType) for f in cf.schema.fields]
                got = sorted(map(tuple, vf.collect()), key=repr)
                want = sorted(map(tuple, cf.collect()), key=repr)
                assert got == want, flag
    finally:
        spark.conf.set(key, before)
    # and the plan is a LocalRelation, not a Python RDD scan
    plan = values_frame(
        spark, SEED_CUSTOMERS, CUSTOMERS_SCHEMA
    )._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_values_frame_rejects_bad_input(spark):
    # a short or long row raises instead of zip truncating it, and a
    # datetime in a DATE column raises instead of rendering DATE '…T…'
    import datetime

    import pytest

    from peerdb_cdc_psql_clickhouse_spark.functions.values import (
        values_frame,
    )

    for rows in ([(1,)], [(1, "a", "extra")]):
        with pytest.raises(ValueError, match="values for 2 schema fields"):
            values_frame(spark, rows, "i int, s string")
    with pytest.raises(ValueError, match="DATE column"):
        values_frame(
            spark, [(datetime.datetime(2026, 1, 2, 3, 4),)], "d date"
        )


def test_plane_bits_sql_matches_column_form(spark):
    # the one-string plane-bit expression must equal the old
    # Column-API per-plane when/aggregate form exactly
    from peerdb_cdc_psql_clickhouse_spark.operators.similarity import (
        EMB_DIM,
        _plane_bits_expr,
        _plane_signs,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")

    def old_form(vec, seed0, n_planes, dim):
        bits = []
        for p in range(n_planes):
            plane = F.expr(
                "array("
                + ",".join(
                    "1.0D" if s > 0 else "-1.0D"
                    for s in _plane_signs(seed0 + p, dim)
                )
                + ")"
            )
            proj = F.aggregate(
                F.zip_with(vec, plane, lambda x, s: x.cast("double") * s),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bits.append(
                F.when(proj >= 0, F.lit(2**p)).otherwise(F.lit(0))
            )
        return sum(bits).cast("long")

    for seed0, n_planes in ((0, 8), (9100, 12)):
        diff = emb.select(
            (
                old_form(F.col("embedding"), seed0, n_planes, EMB_DIM)
                == _plane_bits_expr("embedding", seed0, n_planes, EMB_DIM)
            ).alias("ok")
        ).filter(~F.col("ok"))
        assert diff.count() == 0


def test_winnow_edges_combos_match_self_join(spark):
    fp = winnow_fp(load_table(spark, SF_SMOKE, "documents"))
    got = sorted(
        (r.src, r.dst) for r in winnow_edges(fp).collect()
    )
    want = sorted(
        (r.src, r.dst)
        for r in _self_join_edges(
            fp, WINNOW_MAX_DF, WINNOW_MIN_SHARED
        ).collect()
    )
    assert got == want and len(got) > 0
