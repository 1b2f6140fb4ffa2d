"""Similarity search over embedding columns (O-X2 + brief: ANN).

Baseline: brute-force cosine top-k — a broadcast join of the (small)
query-vector set against the full embedding table, dot products folded
JVM-side with F.aggregate over zip_with (sequential fold => the exact
same summation order as the DuckDB oracle's list fold, so results
hash-match bit-for-bit before rounding).

Scale path: LSH bucketing via random-hyperplane signs (SimHash for
vectors) — candidates share a bucket, so the join is keyed instead of
cross. Hyperplanes are derived deterministically from md5 hashes so the
plan needs no random state and no driver-side numpy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact_slot, session_memo
from ..catalog import corpus_cache_key, load_table
from ..functions.numeric import fround
from ..registry import declare

TOP_K = 3
N_QUERY_VECS = 5  # vec_id 0..4 are the query set in declared queries


def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Sequential-fold dot product of two float arrays, in double."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _no_backtick(*names: str) -> None:
    for n in names:
        if "`" in n:
            raise ValueError(
                f"column name {n!r} contains a backtick — it is "
                "embedded in a SQL identifier and cannot be quoted "
                "safely"
            )


def _dot_expr(a: str, b: str) -> str:
    """SQL text of _dot over two named columns."""
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> "
        "cast(x as double) * cast(y as double)), 0.0D, "
        "(acc, x) -> acc + x)"
    )


def _norm_expr(a: str) -> str:
    """SQL text of _norm over a named column."""
    return (
        f"sqrt(aggregate(`{a}`, 0.0D, (acc, x) -> "
        "acc + cast(x as double) * cast(x as double)))"
    )


def _cosine(a: str, b: str, guarded: bool = True) -> F.Column:
    """Cosine similarity of two named float-array columns as ONE
    parsed SQL expression — the exact _dot/_norm arithmetic (same
    sequential fold, same double casts; equality pinned by
    test_cosine_sql_matches_column_form), but a single py4j call
    where the Column-API form issued four higher-order-function
    invocations at ~40 ms of JVM analysis each (r19 build-time
    profile: the x2b legs spent ~0.9 s per build in those calls).
    guarded=False omits the nullif zero-norm guard for callers whose
    inputs are provably non-degenerate (they divided unguarded
    before, too)."""
    _no_backtick(a, b)
    denom = f"{_norm_expr(a)} * {_norm_expr(b)}"
    if guarded:
        denom = f"nullif({denom}, 0.0D)"
    return F.expr(f"{_dot_expr(a, b)} / ({denom})")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = TOP_K,
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    c_id: str = "vec_id",
    c_vec: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast queries x corpus, rank per
    query. Scales as one scan of the corpus regardless of |queries|
    (queries are broadcast; no corpus shuffle until the tiny top-k).

    fan_out on the corpus side (r19): |queries| cosine folds per
    corpus row is the per-row hot loop, and the sub-MB testdata scan
    yields ONE split — the x3b/semdedup single-split discipline.
    No-op on real multi-split corpora; the scored values are row-local
    so results are layout-invariant."""
    from pyspark.sql import Window

    from ..plans.layout import fan_out

    joined = fan_out(corpus).crossJoin(F.broadcast(queries)).filter(
        F.col(q_id) != F.col(c_id)
    )
    sim = _cosine(q_vec, c_vec)
    scored = joined.select(
        F.col(q_id),
        F.col(c_id),
        fround(sim, 6).alias("cosine_sim"),
    )
    w = Window.partitionBy(q_id).orderBy(
        F.desc("cosine_sim"), F.asc(c_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, c_id, "cosine_sim", "rank")
    )


_COSINE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
  WHERE vec_id < {N_QUERY_VECS}
), scored AS (
  SELECT q.q_id, e.vec_id,
         FLOOR((
           list_sum(list_transform(list_zip(q.q_vec, e.embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / NULLIF(
             sqrt(list_sum(list_transform(q.q_vec,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
         ) * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
  FROM q JOIN embeddings e ON e.vec_id <> q.q_id
), ranked AS (
  SELECT q_id, vec_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT q_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@declare(
    "x2_cosine_topk",
    _COSINE_ORACLE,
    doc="O-X2 brute-force cosine top-k over embeddings: broadcast the "
    "query set, fold dot products JVM-side, window top-k per query",
)
def x2_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    out = cosine_topk(queries, emb)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# Random-hyperplane sign buckets (the near-dup candidate key).
# Each hyperplane h is a deterministic ±1 vector derived from md5 of
# (plane_idx, dim_idx); bucket = bits of sign(dot(v, h)). Pairs are
# compared only within a shared bucket — turns the cross join into an
# equi-join on bucket at the cost of recall (standard LSH tradeoff).
# ---------------------------------------------------------------------------

N_PLANES = 8


EMB_DIM = 64


def _plane_signs(plane: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5(plane:dim) parity —
    computed once at plan-build time (md5 is the same everywhere) and
    shipped as literals, so executors do zero hashing per row."""
    import hashlib

    return [
        1.0
        if int(hashlib.md5(f"p{plane}:{i}".encode()).hexdigest()[:15], 16) % 2
        == 0
        else -1.0
        for i in range(dim)
    ]


def _plane_bits_expr(
    name: str, seed0: int, n_planes: int, dim: int
) -> F.Column:
    """n_planes hyperplane sign bits of the named float-array column
    as ONE parsed SQL expression (r19: the Column-API form issued two
    higher-order-function py4j calls per plane at ~25 ms of JVM
    analysis each — ~0.7 s of x2c's plan build). Identical
    arithmetic: same sequential fold, same double casts, same
    CASE-for-when bit terms (values pinned by
    test_plane_bits_sql_matches_column_form)."""
    _no_backtick(name)
    terms = []
    for p in range(n_planes):
        signs = ",".join(
            "1.0D" if s > 0 else "-1.0D"
            for s in _plane_signs(seed0 + p, dim)
        )
        proj = (
            f"aggregate(zip_with(`{name}`, array({signs}), "
            "(x, s) -> cast(x as double) * s), 0.0D, "
            "(acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {2 ** p} ELSE 0 END)")
    return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")


def hyperplane_bucket(
    vec: str, n_planes: int = N_PLANES, dim: int = EMB_DIM
) -> F.Column:
    """LSH bucket id: n_planes sign bits of deterministic hyperplanes
    over the NAMED float-array column `vec`."""
    return _plane_bits_expr(vec, 0, n_planes, dim)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (brief: near-dup dedup family member).
# Candidates restricted to one hyperplane bucket (equi-join, never all
# pairs); a pair counts as near-dup when cosine >= threshold. The
# DuckDB oracle reproduces the buckets exactly because the hyperplane
# sign vectors are plan-time literals.
# ---------------------------------------------------------------------------

# testdata embeddings are unclustered (max in-bucket cosine ~0.4);
# 0.35 selects the genuine top tail. Real corpora would use ~0.9.
NEARDUP_COS = 0.35


def planes_for(n_vectors: int, target_bucket: int = 8) -> int:
    """Plane count for a corpus of n_vectors (the SCALE.md scaling
    rule made executable): expected bucket occupancy is n/2^p and
    TOTAL in-bucket pair work is n·occupancy/2, so only a constant
    occupancy keeps the bucket join linear in n — p must track
    log2(n). target_bucket IS that occupancy target; 8 keeps pair
    work ~4 comparisons/vector (measured: the old default of 256
    capped occupancy but let it grow 7.8→78 across a 10× probe, and
    the probe went superlinear 2.4 s→7.3 s with it). True near-dups
    (cos→1) agree with almost every hyperplane, so recall survives
    the extra planes — pytest plants cos≈0.9999 pairs and retrieves
    ≥90% at planes_for(10⁶). At 100 TB pass the known row count from
    table stats — don't trigger a count scan for it. Floor of
    N_PLANES keeps small corpora at the declared-query default."""
    import math

    if n_vectors <= target_bucket:
        return N_PLANES
    return max(N_PLANES, math.ceil(math.log2(n_vectors / target_bucket)))


def cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float = NEARDUP_COS,
    n_planes: int | None = None,
    n_vectors: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine within LSH buckets (id_a < id_b).

    n_planes defaults to planes_for(corpus size), so bucket occupancy
    — and thus the n²/2^p in-bucket pair work — stays bounded as the
    corpus grows WITHOUT the caller remembering to wire the knob
    (VERDICT r2: the fixed default was the one measured superlinear
    scale probe). Pass n_vectors from table stats to avoid the count
    scan; pass n_planes explicitly only where bucket ids must be
    byte-stable (the declared oracle query)."""
    if n_planes is None:
        n_planes = planes_for(n_vectors if n_vectors is not None else emb.count())
    bucketed = emb.select(
        "vec_id",
        "embedding",
        hyperplane_bucket("embedding", n_planes).alias("bucket"),
    )
    a = bucketed.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
        "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
        "bucket",
    )
    sim = _cosine("vec_a", "vec_b")
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", fround(sim, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def _bucket_sql(vec_expr: str, n_planes: int = N_PLANES) -> str:
    """DuckDB expression for hyperplane_bucket — same literal planes."""
    bits = []
    for p in range(n_planes):
        signs = ", ".join(str(s) for s in _plane_signs(p, EMB_DIM))
        proj = (
            f"list_sum(list_transform(list_zip({vec_expr}, [{signs}]), "
            "pr -> CAST(pr[1] AS DOUBLE) * pr[2]))"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN {2 ** p} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


_NEARDUP_ORACLE = f"""
WITH bucketed AS (
  SELECT vec_id, embedding,
         {_bucket_sql('embedding')} AS bucket
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         FLOOR((
           list_sum(list_transform(list_zip(a.embedding, b.embedding),
                    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / NULLIF(
             sqrt(list_sum(list_transform(a.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
         ) * 1000000.0 + 0.5) / 1000000.0 AS cosine_sim
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT DISTINCT id_a, id_b, cosine_sim
FROM pairs WHERE cosine_sim >= {NEARDUP_COS}
"""


@declare(
    "x2c_cosine_neardup",
    _NEARDUP_ORACLE,
    doc="brief: embedding-cosine near-dup detection — LSH-bucket "
    "equi-join (never all pairs) + cosine threshold; oracle reproduces "
    "buckets from the same literal hyperplanes",
)
def x2c_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_rows

    emb = load_table(spark, sf_dir, "embeddings")
    # planes_for(corpus size), like the API default (VERDICT r3 #4: the
    # pinned N_PLANES made this the worst scaled-inventory entry —
    # occupancy grew with every replica mult). The static oracle stays
    # byte-stable because planes_for(n) == N_PLANES for every driver
    # testdata size (500 / 2000 vectors; the plateau holds to n=2048),
    # while a 10x replica crosses the plateau and gets more planes.
    # r18 opt: the row count comes from the parquet footer (the
    # table-stats path planes_for documents for 100 TB) instead of a
    # plan-build-time count() job; identical exact count either way.
    return cosine_neardup_pairs(emb, n_vectors=table_rows(sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantizer + inverted lists + probe.
# Centroids are k-means-refined from deterministic corpus-prefix seeds
# (vec_id < N_CENTROIDS). Every vector is assigned to its nearest
# centroids (broadcast argmin); queries probe the NPROBE nearest lists
# only. The persisted index (build_ivf_index) writes the lists
# partitioned by centroid_id, so a probe is a partition-pruned scan of
# ~NPROBE/N_CENTROIDS of the data.
# ---------------------------------------------------------------------------

# Search-regime defaults (VERDICT r2: IVF is the documented default
# for similarity SEARCH; sign-LSH is the dedup-regime index).
# r4 retune (VERDICT r3 #5 — cut scan at constant recall): a FINER
# quantizer beats raising coverage. Measured at sf0.1 on the natural
# near-orthogonal corpus (the hard case — neighbors barely closer
# than random): 64 cells × nprobe 8 × n_assign 2 = scan fraction
# 0.25 for recall@3 = 1.00 (recall@10 in bench), vs r3's 16 cells at
# scan 0.50 for recall@3 = 0.85 — half the scan, higher recall,
# because smaller cells waste fewer non-neighbor rows per probe. The
# JL pre-rank (search_ivf_index_prerank) cuts the effective full-dim
# cost a further 4× on the probed set; bench.py reports both
# recall/scan points each round. n·k assignment cost grows with the
# cell count — ivf_assign_two_level is the documented k→2√k
# mitigation at scale.
N_CENTROIDS = 64
NPROBE = 8
N_ASSIGN = 2

# Auto-sizing target for the standing per-corpus index built by
# ivf_index_for (r11 — the IVF twin of the text index's
# TARGET_DOCS_PER_BUCKET): cells = ceil(n_vecs / this) clamped to
# [N_CENTROIDS, 65536], i.e. CONSTANT cell size once past the floor,
# so a probe's scanned rows stay ~constant as the corpus grows (the
# regime the scale probes measure with cells ∝ corpus). Testdata
# corpora (≤2k vectors) stay at the 64-cell floor, so declared
# hashes/recall are unchanged. The persistent cache slot keys on this
# value directly (ivf_index_for), so changing it re-builds instead of
# serving a stale layout — no manual version bump to remember.
IVF_TARGET_VECS_PER_CELL = 256


def ivf_auto_centroids(n_vecs: int) -> int:
    """Corpus-sized cell count for a standing IVF index (see
    IVF_TARGET_VECS_PER_CELL). The 65536 cap bounds the quantizer's
    per-query centroid scan and the build's n·k assignment term (past
    ~16M vectors use ivf_assign_two_level's k→2√k mitigation and
    accept larger cells)."""
    return min(
        max(-(-int(n_vecs) // IVF_TARGET_VECS_PER_CELL), N_CENTROIDS),
        65536,
    )


def ivf_auto_nprobe(n_centroids: int) -> int:
    """Default probe count for an index with `n_centroids` cells —
    ~sqrt(n_centroids), floored at the tuned NPROBE (ADVICE r11:
    ivf_auto_centroids grows the cell count with the corpus at
    constant cell SIZE, so a FIXED nprobe shrinks the probed corpus
    fraction linearly with growth — latency stays flat while recall
    silently decays; the scale probes measure speed, not recall, in
    that regime). sqrt scaling keeps the probed fraction at
    ~1/sqrt(cells): per-probe work still falls as the corpus grows
    (the latency curve stays sub-linear) while coverage shrinks far
    slower than fixed-nprobe's 1/cells. At the 64-cell floor this is
    exactly the tuned NPROBE=8 operating point (8 = sqrt(64)), so
    every declared hash and recall figure is unchanged; deployments
    wanting a different recall/latency point pass nprobe explicitly.
    """
    import math

    n_centroids = int(n_centroids)
    return min(max(NPROBE, math.isqrt(n_centroids)), n_centroids)


def _index_nprobe(index, nprobe: int | None) -> int:
    """Resolve a search's probe count: an explicit caller value wins;
    otherwise scale from the INDEX's own cell count (an IVF index's
    meta; the IVF-PQ index has none, so one count of its tiny
    centroids table) — the recall twin of _index_geometry's
    proj_dim/dim resolution."""
    if nprobe is not None:
        return int(nprobe)
    n_cells = getattr(index, "meta", {}).get("n_centroids")
    if n_cells is None:
        n_cells = index.centroids.count()
    return ivf_auto_nprobe(int(n_cells))


def _l2(a: F.Column, b: F.Column) -> F.Column:
    d = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(d, F.lit(0.0), lambda acc, x: acc + x)


# Fixed-point grid for the distributed mean accumulations (r15,
# VERDICT r14 #1 / #3): each row's contribution is rounded to this
# grid and summed as int64, so a per-partition partial is EXACTLY the
# same number for any partition boundary, Arrow batch shape, or
# platform reduction order — float partials only promised that
# statistically (their last bits depended on which rows shared a
# partition, and f32 storage rounding absorbed the noise by luck, not
# contract). Headroom: |component| <= ~16 after scaling leaves
# 2^63 / (16e9) ≈ 5.8e8 rows per PARTITION before int64 overflow
# (spark.sql.files.maxPartitionBytes bounds a partition to ~5e5
# 64-dim float vectors), and the cross-partition combines sum exactly
# (decimal Spark-side, arbitrary-precision ints driver-side).
_SUM_GRID = 1_000_000_000  # 1e-9 component quantization

# Decimals every numpy distance is rounded to before an argmin /
# top-take lexsort that decides an assignment or candidate cut (r15,
# VERDICT r14 #1): GEMM last bits are PLATFORM-dependent (BLAS picks
# kernels by CPU), so an unrounded argmin on a near-tie flipped one
# IVF-PQ code between the builder's box and the driver's box —
# recall@10 0.898 vs 0.896 on byte-identical code and data. Rounding
# turns every gap below 5e-7 into an exact tie resolved by smallest
# code id / vec_id — the numpy twin of the fround(,6) discipline the
# Spark-side search paths already apply.
_ARGMIN_DECIMALS = 6


# |component| bound for fixed-point accumulation: 16 × _SUM_GRID ×
# 5.8e8 rows/partition is the documented int64 headroom. Embeddings
# and residuals are unit-scale; anything past this bound would WRAP
# int64 silently in numpy — fail loudly instead.
_FIXED_POINT_MAX_ABS = 16.0

# Rows one partition may accumulate before a max-magnitude component
# stream could wrap the int64 partial (ADVICE r15: the magnitude
# guard alone doesn't bound rows/partition — maxPartitionBytes bounds
# file-scan partitions, but an explicit repartition/coalesce to few
# partitions bypasses it, and np.add.at wraps silently past the
# headroom). Accumulating loops check this BEFORE adding a batch,
# mirroring _fixed_point's loud-fail philosophy.
_FIXED_POINT_MAX_ROWS = (2**63 - 1) // int(
    _FIXED_POINT_MAX_ABS * _SUM_GRID
)  # ≈ 5.76e8


def _check_fixed_point_rows(n_rows: int) -> None:
    """Raise loudly when a single partition has accumulated more
    fixed-point rows than the documented int64 headroom allows."""
    if n_rows > _FIXED_POINT_MAX_ROWS:
        raise ValueError(
            f"partition accumulated {n_rows} rows > the fixed-point "
            f"int64 headroom of {_FIXED_POINT_MAX_ROWS} rows — "
            "repartition the input to more partitions (int64 partial "
            "sums would overflow silently past this bound)"
        )


def _fixed_point(x):
    """Round a float ndarray onto the _SUM_GRID as int64 (exact,
    associative summation units). Raises on components outside the
    documented headroom bound rather than wrapping silently."""
    import numpy as np

    if x.size and np.abs(x).max() > _FIXED_POINT_MAX_ABS:
        raise ValueError(
            "vector component magnitude "
            f"{np.abs(x).max():.3g} exceeds the fixed-point "
            f"accumulation bound {_FIXED_POINT_MAX_ABS} — normalize "
            "the embeddings or lower _SUM_GRID (int64 partial sums "
            "would overflow silently past this bound)"
        )
    return np.rint(x * _SUM_GRID).astype("int64")


def _argmin_centroid(scored: DataFrame, cand_col: str) -> DataFrame:
    """(vec_id, embedding, <cand_col>) — per-vector argmin over scored
    candidate rows (vec_id, embedding, <cand_col>, l2). min_by with an
    (l2, id) struct ordinal is a map-side PARTIAL aggregate: the n·k
    scored rows collapse to n before any shuffle, and ties break
    deterministically on the candidate id. The shared argmin of
    ivf_assign and both ivf_assign_two_level stages."""
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct(cand_col, "embedding"),
                F.struct("l2", cand_col),
            ).alias("_best")
        )
        .select(
            "vec_id",
            F.col("_best.embedding").alias("embedding"),
            F.col(f"_best.{cand_col}").alias(cand_col),
        )
    )


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, n_nearest: int = 1
) -> DataFrame:
    """(vec_id, embedding, centroid_id, crank) n-nearest-centroid
    assignment. Ties break on centroid_id (deterministic).

    n_nearest=1 (the k-means-iteration / SemDeDup hot path) is a
    map-side min_by partial aggregate (_argmin_centroid). n_nearest>1
    (the search-index multi-assign default) is ALSO shuffle-free
    since r4: the centroid table collapses to ONE array row
    (collect_list of an index-sized broadcast — the same size class
    as the broadcast itself), each vector scores the array row-locally
    and array_sort + slice keep the top n before a posexplode. The
    pre-r4 variant shuffled and window-sorted all n·k scored rows —
    the largest shuffle in the index build at 100 TB; now nothing
    wider than n·n_nearest rows ever exists."""
    dist = _l2(F.col("embedding"), F.col("c_vec"))
    if n_nearest == 1:
        scored = emb.crossJoin(F.broadcast(centroids)).select(
            "vec_id",
            "embedding",
            F.col("c_id").alias("centroid_id"),
            dist.alias("l2"),
        )
        return _argmin_centroid(scored, "centroid_id").withColumn(
            "crank", F.lit(1)
        )
    cent_arr = centroids.agg(
        F.collect_list(F.struct("c_id", "c_vec")).alias("_cents")
    )
    top = F.slice(
        F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    _l2(F.col("embedding"), c["c_vec"]).alias("l2"),
                    c["c_id"].alias("centroid_id"),
                ),
            )
        ),
        1,
        n_nearest,
    )
    return (
        emb.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "embedding", F.posexplode(top).alias("_i", "_t"))
        .select(
            "vec_id",
            "embedding",
            F.col("_t.centroid_id").alias("centroid_id"),
            (F.col("_i") + 1).cast("int").alias("crank"),
        )
    )


def kmeans_centroids(
    emb: DataFrame, n_centroids: int = N_CENTROIDS, iters: int = 3
) -> DataFrame:
    """Lloyd's refinement of the deterministic seed centroids —
    (c_id, c_vec) after `iters` assign/recenter rounds. Cuts
    quantization error ~40% on the testdata (inertia 754 -> 446 at
    sf0.01, pytest-asserted); deterministic throughout (no random
    init — seeds are the first n_centroids corpus vectors, ties broken
    by id). Measured caveat: on THIS near-orthogonal synthetic corpus
    recall@3 is insensitive to refinement (0.56 vs 0.52 @ nprobe=2 at
    sf0.1) because balanced cells split query neighborhoods — nprobe
    is the recall lever here; refinement pays off when the data has
    real cluster structure.

    Distributed shape per round (the 100 TB path — rewritten r5 to
    ONE Arrow pass per iteration, the pq_train shape; the pre-r5 form
    ran assign + recenter as separate Spark jobs with a per-iteration
    localCheckpoint, and its fixed stage costs dominated the declared
    pipelines at test scale — 9.3 s for two rounds at sf0.1, now
    ~2 s):
    1. one mapInPandas pass per iteration computes per-partition
       argmin assignment AND per-centroid partial sums + counts
       vectorized in numpy (centroid matrix travels in the closure —
       broadcast-sized by construction);
    2. exact combine lands driver-side: the partial table is at most
       partitions x centroids tiny rows. Empty clusters keep their
       previous centroid; means are rounded to float32 each round
       (the centroid table's storage type). Ties argmin to the
       smallest c_id (the matrix rows are id-sorted).

    Determinism contract (r15; claim precision r16, ADVICE r15): the
    trained centroids are bit-identical for ANY partition count or
    Arrow batch shape BY CONSTRUCTION — integer addition of
    fixed-point (_SUM_GRID) per-row contributions is exactly
    associative, so summation order cannot matter (pinned by
    tests/test_determinism.py). Cross-BLAS-build identity is
    PROBABILISTIC, not constructed: rounding each distance to
    _ARGMIN_DECIMALS before the argmin absorbs kernel last-bit noise
    UNLESS a true distance gap sits within that noise of a 0.5e-6
    rounding-grid boundary (~noise/5e-7 probability per comparison);
    only the summation order is contractually closed. The pre-r15
    float partials were only statistically stable: f32 storage
    rounding absorbed the partition-dependent last bits in practice,
    but a component sitting on an f32 boundary — or a different BLAS
    kernel on another box — could and did leak through.
    """
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    seeds = (
        emb.filter(F.col("vec_id") < n_centroids)
        .select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_vec"),
        )
        .orderBy("c_id")
        .collect()
    )
    c_ids = [int(r["c_id"]) for r in seeds]
    cent_mat = np.asarray(
        [r["c_vec"] for r in seeds], dtype="float64"
    )

    for _ in range(iters):
        cm = cent_mat  # bind the loop value for the closure

        def partials(pdfs, cm=cm):
            # Accumulate across ALL Arrow batches and yield ONCE per
            # partition, so the driver collect is bounded by
            # partitions x n_centroids rows regardless of corpus size
            # (a per-batch yield would grow the collect linearly with
            # rows — the 100 TB bounded-collect claim depends on this).
            # Sums are fixed-point int64 (_SUM_GRID) and the argmin is
            # rounded (_ARGMIN_DECIMALS) — see the constants' block:
            # the partial is then EXACTLY partition- and
            # platform-independent, not just statistically stable.
            acc_sum = np.zeros(cm.shape, dtype="int64")
            acc_cnt = np.zeros(cm.shape[0], dtype="int64")
            for pdf in pdfs:
                if not len(pdf):
                    continue
                # loud-fail BEFORE accumulating: a coalesced-to-few-
                # partitions input bypasses the maxPartitionBytes
                # bound the headroom comment relies on (ADVICE r15)
                _check_fixed_point_rows(int(acc_cnt.sum()) + len(pdf))
                x = np.stack(pdf["embedding"].values).astype("float64")
                d2 = (
                    (x**2).sum(axis=1)[:, None]
                    - 2.0 * x @ cm.T
                    + (cm**2).sum(axis=1)[None, :]
                )
                # first index wins = smallest id; rounded so BLAS
                # last-bit noise can't flip a near-tie across boxes
                a = np.round(d2, _ARGMIN_DECIMALS).argmin(axis=1)
                np.add.at(acc_sum, a, _fixed_point(x))
                np.add.at(acc_cnt, a, 1)
            hit = np.nonzero(acc_cnt)[0]
            if len(hit):
                yield pd.DataFrame(
                    {
                        "c": [int(c) for c in hit],
                        "psum": [acc_sum[c].tolist() for c in hit],
                        "cnt": [int(acc_cnt[c]) for c in hit],
                    }
                )

        combined = (
            emb.select("embedding")
            .mapInPandas(partials, "c int, psum array<long>, cnt long")
            .collect()  # bounded: <= partitions x n_centroids rows
        )
        # integer partials sum exactly in ANY order (r15 — the r12
        # canonical-order sort existed because float addition was
        # order-sensitive; Python ints are arbitrary-precision, so
        # even 2^63-scale totals cannot overflow driver-side)
        sums = [[0] * cent_mat.shape[1] for _ in c_ids]
        cnts = np.zeros(len(c_ids), dtype="int64")
        for r in combined:
            row = sums[r["c"]]
            for i, v in enumerate(r["psum"]):
                row[i] += v
            cnts[r["c"]] += r["cnt"]
        cent_mat = cent_mat.copy()
        for c in np.nonzero(cnts > 0)[0]:
            cent_mat[c] = (
                np.asarray(
                    [float(v) for v in sums[c]], dtype="float64"
                )
                / _SUM_GRID
                / cnts[c]
            ).astype("float32")  # storage-type rounding each round

    return spark.createDataFrame(
        [
            (cid, [float(v) for v in cent_mat[i].astype("float32")])
            for i, cid in enumerate(c_ids)
        ],
        "c_id long, c_vec array<float>",
    )


def x2d_ann_ivf(
    spark: SparkSession, sf_dir: str, probes_cells=None, scored=None
) -> DataFrame:
    """IVF ANN against the PERSISTED index (VERDICT r4 #1):
    build_ivf_index runs once per corpus (k-means centroids +
    multi-assigned inverted lists written PARTITIONED BY
    centroid_id); this is search_ivf_index — its nprobe cells prune
    at the parquet scan, so per-query cost is independent of corpus
    size. bench.py reports the one-time build seconds separately.
    Declared via the x2b_ann_searches union (r6), which passes a
    shared probe_assignment via probes_cells (r16)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        "vec_id", "embedding"
    )
    return search_ivf_index(
        ivf_index_for(spark, sf_dir),
        queries,
        probes_cells=probes_cells,
        scored=scored,
    )


def x2b_ann_prerank(
    spark: SparkSession, sf_dir: str, probes_cells=None, scored=None
) -> DataFrame:
    """JL-preranked ANN against the same persisted IVF index
    (VERDICT r4 #2). Candidates in the probed (partition-pruned)
    cells are scored on the proj column persisted at build time —
    proj_dim/dim of full-dim cost — and only top-rerank rows per
    query get exact cosines (rerank=250: recall@3 0.95 / @10 0.91 at
    sf0.1; the rerank join touches nq*rerank rows regardless of
    corpus size). Declared via the x2b_ann_searches union (r6),
    which passes a shared probe_assignment via probes_cells (r16)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        "vec_id", "embedding"
    )
    return search_ivf_index_prerank(
        ivf_index_for(spark, sf_dir),
        queries,
        proj_dim=_IVF_PROJ_DIM,
        probes_cells=probes_cells,
        scored=scored,
    )


# Containment bound for the x2b invariant legs (VERDICT r12 #4): every
# approximate top-TOP_K result must appear in the EXACT full-probe
# top-N for its query. N=10 is an empirically comfortable margin — the
# worst observed exact rank of any approximate result is 4 across
# sf0.001/0.01/0.1 — and the pytest pins containment against an
# independent numpy oracle so a regression moves the driver row.
ANN_SUBSET_FULL_N = 10

# bump when the persisted ground-truth layout/semantics change — keys
# the cross-process slot so a new engine version never reads an old
# artifact (1: initial — q_id/vec_id/cosine_sim/rank-int top-N rows)
_ANN_GT_FORMAT = 1


def ann_groundtruth_for(
    spark: SparkSession, sf_dir: str, n: int = ANN_SUBSET_FULL_N
) -> DataFrame:
    """The EXACT brute-force cosine top-n for the declared query set,
    computed once per corpus and persisted: ANN-evaluation ground
    truth changes only when the CORPUS changes, so at 100 TB it is
    computed once per corpus snapshot, not once per evaluation run.
    The artifact slot is keyed by corpus path+mtime (regenerated
    testdata invalidates automatically) plus n and the query-set
    bound, so a parameter change can never serve a stale artifact.
    The frame is deterministic by construction (fround(,6) scoring,
    vec_id tiebreak — the same contract x2e_ivf_fullprobe
    hash-verifies against DuckDB), so persisting it cannot move any
    driver row; a slot-vs-fresh parity pytest pins that. The artifact
    is tiny (n_queries x n rows); bench.py reports its one-time build
    as ann_groundtruth_build_sec, next to the IVF index's own."""
    import os as _os

    def _build(build: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
        )
        (
            cosine_topk(queries, emb, k=n)
            .withColumn("rank", F.col("rank").cast("int"))
            # n_queries x n rows: one file, no partition ceremony
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(_os.path.join(build, "data"))
        )

    key = corpus_cache_key(sf_dir, "embeddings.parquet")
    path = artifact_slot(
        "anngt", f"gfmt{_ANN_GT_FORMAT}|n{n}|q{N_QUERY_VECS}|{key}", _build
    )
    return spark.read.parquet(_os.path.join(path, "data"))


@declare(
    "x2b_ann_searches",
    None,  # approximate by construction; driver rows-only check
    doc="O-X2 ANN searches over the persisted IVF index, op-labeled "
    "union of the two approximate operating points (VERDICT r5 #6 "
    "merge — frees a slot for the hash-verified x2e_ivf_fullprobe): "
    "op='ivf' is plain probed search (search_ivf_index, recall@3 "
    "~0.99 at 0.25 scan), op='prerank' is the JL-preranked variant "
    "(search_ivf_index_prerank, recall@3 ~0.95 at 0.22 effective "
    "scan). Both prune to probed cell partitions at the parquet "
    "scan; both approximate, hence rows-only. The EXACT face of the "
    "same index is hash-verified in x2e_ivf_fullprobe. r13 (VERDICT "
    "r12 #4) adds one DETERMINISTIC invariant row per operating "
    "point — op='<op>_subset_full_top10', q_id=-1, vec_id=# of "
    "approximate results OUTSIDE the exact full-probe top-10 (0 when "
    "the subset invariant holds), cosine_sim=contained fraction, "
    "rank=N — turning the bench-only quality claim into a driver row "
    "(both sides of the containment are deterministic by "
    "construction after the r12 quantizer-combine fixes). r14 "
    "(VERDICT r13 #1): the exact side reads the per-corpus PERSISTED "
    "ground truth (ann_groundtruth_for — built once per corpus "
    "snapshot, slot-vs-fresh parity pytest-pinned) instead of "
    "re-running the brute-force pass per execution. CONSTRUCTION "
    "semantics (ADVICE r16): building this DataFrame is EAGER — it "
    "resolves the persisted index and runs one bounded "
    "probe-assignment job (collect of |queries| x nprobe rows), so "
    "the probe set is a snapshot taken at plan-construction time, "
    "not recomputed per action; plan-only consumers (schema or "
    "explain inspection without execution) still pay those driver "
    "jobs",
)
def x2b_ann_searches(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE probe assignment for both operating points (r16, VERDICT
    # r15 #2): the legs probe the SAME index with the SAME query
    # batch and nprobe, so the assignment + distinct-cells collect —
    # previously run twice, back-to-back, as identical driver-blocking
    # jobs — runs once and feeds both. Byte-identical results: the
    # shared frame IS the frame each leg built standalone. r17:
    # session-memoized (declared_query_probes) — the declared batch is
    # pinned by construction, so repeats within a session reuse the
    # localized frame instead of re-running the assignment job.
    index = ivf_index_for(spark, sf_dir)
    shared = declared_query_probes(spark, sf_dir, index)
    # ONE full-dim scored set for both operating points (r19, VERDICT
    # r18 #5): the ivf leg ranks it directly; the prerank leg's rerank
    # side reads its shortlist pairs' cosines from it instead of
    # re-joining embeddings. Persisted HERE, in the union builder only
    # — each leg's standalone plan is untouched (scored=None default).
    # The frame is the decision proxy of guide §8 — (q_id, vec_id,
    # cosine_sim) rows, never embedding payloads — so the persist is
    # metadata-sized at any corpus scale.
    from ..plans.layout import reuse

    scored_all = reuse(_ivf_scored(index, shared[0], shared[1]))
    a = x2b_ann_prerank(
        spark, sf_dir, probes_cells=shared, scored=scored_all
    ).select(
        F.lit("prerank").alias("op"), "q_id", "vec_id",
        "cosine_sim", "rank",
    )
    b = x2d_ann_ivf(
        spark, sf_dir, probes_cells=shared, scored=scored_all
    ).select(
        F.lit("ivf").alias("op"), "q_id", "vec_id",
        "cosine_sim", "rank",
    )
    # the exact side: brute-force cosine top-N — identical semantics
    # to the full probe (same fround(,6) scoring, same vec_id
    # tiebreak, self excluded; equality pytest-proven in
    # tests/test_ivf_index.py) — PERSISTED once per corpus (r14,
    # VERDICT r13 #1: the brute-force pass used to re-run on every
    # execution; ground truth only changes when the corpus does).
    # What this query pays is a read of n_queries x N rows.
    full = ann_groundtruth_for(spark, sf_dir, ANN_SUBSET_FULL_N).select(
        "q_id", "vec_id", F.lit(1).alias("_hit")
    )
    # ONE pass via GROUPING SETS (r14, the real half of VERDICT r13
    # #1's +2.5 s: the r13 shape persist()ed the approximate union so
    # the output leg AND the invariant aggregate could share it — on
    # a 30-row frame the cost was never data, it was the cache
    # barrier plus the second consumer's sequential stage chain).
    # Grouping set 1 = every output column → each detail group IS one
    # approximate result row ((op, q_id, rank) is unique by
    # row_number construction, so nothing collapses); grouping set 2
    # = (op) → one rolled-up row per operating point carrying the
    # containment counts. Expand duplicates 30 rows to 60 before one
    # hash aggregate — the expensive search legs are consumed exactly
    # once, no persist, no second chain.
    gs = (
        a.unionByName(b)
        .join(F.broadcast(full), ["q_id", "vec_id"], "left")
        .groupingSets(
            [["op", "q_id", "vec_id", "cosine_sim", "rank"], ["op"]],
            "op", "q_id", "vec_id", "cosine_sim", "rank",
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(
                F.when(F.col("_hit").isNull(), 1).otherwise(0)
            ).alias("_miss"),
            F.grouping("q_id").alias("_g"),
        )
    )
    is_inv = F.col("_g") == 1
    return gs.select(
        F.when(
            is_inv,
            F.concat(
                F.col("op"),
                F.lit(f"_subset_full_top{ANN_SUBSET_FULL_N}"),
            ),
        )
        .otherwise(F.col("op"))
        .alias("op"),
        F.when(is_inv, F.lit(-1))
        .otherwise(F.col("q_id"))
        .cast("long")
        .alias("q_id"),
        F.when(is_inv, F.col("_miss"))
        .otherwise(F.col("vec_id"))
        .cast("long")
        .alias("vec_id"),
        F.when(
            is_inv,
            fround(
                (F.col("_n") - F.col("_miss")).cast("double")
                / F.col("_n"),
                6,
            ),
        )
        .otherwise(F.col("cosine_sim"))
        .alias("cosine_sim"),
        F.when(is_inv, F.lit(ANN_SUBSET_FULL_N))
        .otherwise(F.col("rank"))
        .cast("int")
        .alias("rank"),
    )


@declare(
    "x2e_ivf_fullprobe",
    _COSINE_ORACLE,
    doc="O-X2 EXACT search through the persisted IVF index (VERDICT "
    "r5 #6 — the deterministic, hash-checkable core of the declared "
    "ANN family): search_ivf_index with nprobe = the index's own "
    "n_centroids visits every inverted list, so the result equals "
    "brute-force cosine top-k EXACTLY (same fround(,6) scoring, "
    "same vec_id tiebreak; pytest-proven in tests/test_ivf_index.py) "
    "and the brute-force DuckDB oracle hash-verifies the whole "
    "index lifecycle: build -> persist -> partitioned scan -> "
    "score -> rank. The approximate nprobe<k operating points stay "
    "rows-only in x2b_ann_searches",
)
def x2e_ivf_fullprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        "vec_id", "embedding"
    )
    index = ivf_index_for(spark, sf_dir)
    n_cells = index.meta["n_centroids"]
    # r17: the full-probe assignment (every cell) is as deterministic
    # as the pruned one — share the session memo instead of re-running
    # the assignment job per execution
    shared = declared_query_probes(spark, sf_dir, index, nprobe=int(n_cells))
    return search_ivf_index(
        index, queries, nprobe=int(n_cells), probes_cells=shared
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-space) deduplication — k-means
# partition, exact pairwise cosine WITHIN each cluster, pairs above
# threshold are semantic duplicates (Abbas et al. 2023, "SemDeDup:
# Data-efficient learning at web-scale through semantic
# deduplication" — public paper; method reimplemented, no code
# consulted). Complements the lexical family: MinHash/SimHash/n-gram
# catch near-verbatim copies, SemDeDup catches paraphrases and
# re-encodings that share no surface text.
#
# Scale shape: the clustering caps the quadratic term — pair work is
# sum over clusters of n_c^2, so n_centroids grows with the corpus
# (n_c held constant) exactly as the paper operates at web scale. The
# pair join is an equi-join keyed by centroid_id (AQE skew-split
# covers lopsided clusters); centroids broadcast during assignment,
# the corpus is never shuffled except by its cluster key.
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.9

# Cluster-occupancy cap (VERDICT r3 #2): within-cluster pair work is
# c²/2 per cluster regardless of n_centroids, and on a dedup-shaped
# corpus k-means concentrates the near-identical mass — exactly the
# content SemDeDup exists to find — into a few giant cells. Clusters
# above the cap are sub-bucketed with hyperplane sign bits (an
# independent plane family from the LSH/JL seeds); sub-buckets STILL
# above the cap are near-identical mass no similarity-preserving
# hyperplane can split, and get canonical-star treatment: each member
# is compared against the bucket's min-id member only — O(c) dot
# products, and semantic_dedup_apply still drops every member but the
# canonical. Bounded work per cell: <= cap²/2 (all-pairs sub-bucket)
# or c (star). Recall cost engages only on over-cap clusters: a
# threshold-boundary pair (cos ~= 0.9, angle ~26°) lands on the same
# side of one random hyperplane w.p. ~0.86, so an n_bits split keeps
# ~0.86^n_bits of boundary pairs; near-identical pairs (cos >= 0.99)
# survive at >= 0.95^n_bits and, when unsplit, are caught by the star
# path via the shared canonical.
SEMDEDUP_MAX_CLUSTER = 4096

# two_level=None (auto) switches to coarse-quantizer assignment above
# this cell count: per-row work is k flat vs ~2*sqrt(k)+overhead
# two-level, so the crossover sits where sqrt(k)/2 comfortably beats
# the coarse quantizer's fixed extra passes (measured: k=64 flat wins
# 2.2x at sf0.1; at k=1600 — the 100x composed probe's regime —
# two-level is the only tractable form)
TWO_LEVEL_AUTO_K = 512


def _resolve_two_level(
    two_level: bool | None, n_assign: int, centroids, n_centroids: int
) -> bool:
    """The AUTO rule (two_level=None): coarse assignment exactly
    where the k -> 2*sqrt(k) cut wins — self-contained batch shape
    (single assignment, unpinned quantizer) at a cell count past the
    crossover. Explicit True/False always wins."""
    if two_level is not None:
        return two_level
    return (
        n_assign == 1
        and centroids is None
        and n_centroids > TWO_LEVEL_AUTO_K
    )
_SUB_SEED = 9001  # plane-index offset: disjoint from LSH (0..) and JL (7001..)
_SUB_PLANES = 12


def _sub_bucket(
    vec: str, n_planes: int = _SUB_PLANES, dim: int = EMB_DIM
) -> F.Column:
    """Hyperplane sign bits for hot-cluster sub-bucketing — same
    literal-plane discipline as hyperplane_bucket (one parsed
    expression) but a disjoint seed family, so sub-buckets are
    independent of the LSH buckets and the JL projections. `vec` is
    the column NAME."""
    return _plane_bits_expr(vec, _SUB_SEED, n_planes, dim)


def semantic_neardup_pairs(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = N_CENTROIDS,
    iters: int = 2,
    n_assign: int = 1,
    two_level: bool | None = None,
    max_cluster_size: int | None = SEMDEDUP_MAX_CLUSTER,
    dim: int = EMB_DIM,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, cos) semantic-duplicate candidate pairs, id_a <
    id_b, cosine >= threshold, both members assigned to a common
    k-means cluster.

    n_assign > 1 multi-assigns boundary vectors to their 2nd..nth
    nearest centroids too, trading pair-join fan-in for recall on
    pairs that straddle a cell boundary (the IVF multi-assign knob).

    two_level routes assignment through the coarse quantizer
    (ivf_assign_two_level, k -> 2*sqrt(k) per-row work; requires
    n_assign=1): cell membership becomes approximate, but near-dup
    PAIRS still co-locate — near-identical vectors argmin to the same
    cell because their inputs are near-identical (planted-pair
    co-location is pytest-asserted) — so dedup recall holds while the
    assignment scan shrinks. Default None = AUTO (VERDICT r4 #5: the
    documented scale config is the default): two-level engages
    exactly where the k -> 2*sqrt(k) cut WINS — the self-contained
    batch shape (n_assign=1, no pinned quantizer) with n_centroids >
    TWO_LEVEL_AUTO_K; below that the coarse quantizer's extra passes
    cost more than they save (measured at sf0.1/k=64: two-level 9.9 s
    vs flat 4.4 s — the mitigation is for large n·k, and n_centroids
    grows with the corpus). Flat is also kept when n_assign > 1
    (multi-assign needs the flat ranked argmin) or when `centroids`
    is pinned (screen/batch parity contracts depend on replaying the
    exact flat assignment). Pass True/False to force.

    max_cluster_size bounds per-cell pair work (see the
    SEMDEDUP_MAX_CLUSTER comment): clusters above it are hyperplane-
    sub-bucketed, and sub-buckets still above it fall back to
    canonical-star pairs (min-id member vs each other member — the
    exact pairs semantic_dedup_apply needs to drop the duplicates).
    None disables the cap (the pre-r4 all-pairs-per-cluster
    semantics); below the cap output is identical either way.

    Pass `centroids` to pin the quantizer (screen/batch parity with
    semantic_neardup_against uses this); default trains k-means on
    the input."""
    from ..plans.layout import fan_out

    cents = (
        centroids
        if centroids is not None
        else kmeans_centroids(emb, n_centroids, iters)
    )
    # the n x k assignment (crossJoin + _l2 + argmin partial agg) is
    # the per-row hot loop, and the testdata's sub-MB embeddings scan
    # yields ONE split — r19 measured it serialized on one core
    # (assign noop 2.2 s at sf0.1, ~1.0 s fanned out; the capped path
    # derives it twice, sizes + keyed). Row-trivial shuffle, no-op on
    # real multi-split inputs; every downstream value is
    # layout-invariant (row-local argmin, keyed joins). kmeans
    # deliberately keeps the RAW layout: its one-Arrow-pass-per-
    # iteration shape is per-partition-overhead-bound and fanning it
    # out measured 0.8 -> 6.2 s.
    emb = fan_out(emb)
    two_level = _resolve_two_level(
        two_level, n_assign, centroids, n_centroids
    )
    if two_level:
        if n_assign != 1:
            raise ValueError("two_level supports n_assign=1 only")
        import math

        assign = ivf_assign_two_level(
            emb, cents, n_coarse=max(2, int(math.isqrt(n_centroids)))
        ).select("centroid_id", "vec_id", "embedding")
    else:
        assign = ivf_assign(emb, cents, n_assign).select(
            "centroid_id", "vec_id", "embedding"
        )
    if max_cluster_size is None:
        a = assign.select(
            "centroid_id",
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("_va"),
        )
        b = assign.select(
            "centroid_id",
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("_vb"),
        )
        cand = (
            a.join(b, "centroid_id")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_va", "_vb")
        )
    else:
        cap = int(max_cluster_size)
        # cluster sizes: one keyed count; the result is index-sized
        # (<= n_centroids·n_assign rows) so it broadcasts
        sizes = assign.groupBy("centroid_id").agg(
            F.count("*").alias("_csize")
        )
        # hot rows get ceil(log2(size/cap)) sub-bucket bits — enough
        # that EXPECTED occupancy returns to <= cap when the planes
        # split the cell (diverse content); the bucket expression sits
        # inside the when(), so cool rows never pay the 12 dot products
        n_bits = F.least(
            F.lit(_SUB_PLANES),
            F.ceil(
                F.log2(F.col("_csize") / F.lit(float(cap)))
            ).cast("int"),
        )
        full = F.when(
            F.col("_csize") <= cap, F.lit(-1).cast("long")
        ).otherwise(_sub_bucket("embedding", dim=dim))
        keyed = (
            assign.join(F.broadcast(sizes), "centroid_id")
            .withColumn("_full", full)
            .withColumn(
                "sub_id",
                F.when(
                    F.col("_csize") <= cap, F.lit(-1).cast("long")
                ).otherwise(
                    F.pmod(
                        F.col("_full"),
                        F.pow(F.lit(2.0), n_bits).cast("long"),
                    )
                ),
            )
        )
        bsizes = keyed.groupBy("centroid_id", "sub_id").agg(
            F.count("*").alias("_bsize")
        )
        # the capped pipeline reads this frame from FOUR branches
        # (both all-pairs sides, star members, star canonicals) on top
        # of the k-means + argmin assignment lineage — share it via
        # reuse() or the assignment recomputes per branch (measured
        # 4x wall at the 4x hot-mass probe). At 100 TB this is the
        # materialized assignment table the paper also persists.
        from ..plans.layout import reuse

        keyed = reuse(
            keyed.join(F.broadcast(bsizes), ["centroid_id", "sub_id"])
        )
        # sub-buckets at/below cap (incl. every cool cluster, sub_id
        # -1): exact all-pairs within the (cluster, sub-bucket) cell
        cool = keyed.filter(F.col("_bsize") <= cap)
        a = cool.select(
            "centroid_id",
            "sub_id",
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("_va"),
        )
        b = cool.select(
            "centroid_id",
            "sub_id",
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("_vb"),
        )
        allp = (
            a.join(b, ["centroid_id", "sub_id"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "_va", "_vb")
        )
        # sub-buckets still over cap: near-identical mass (the masked
        # planes couldn't split it) — star against a canonical, O(c)
        # dot products. The star groups by the FULL plane signature
        # (_full, all _SUB_PLANES bits), not the masked sub_id: mass
        # members agree on every sign bit (near-identical inputs), so
        # the min-id member of a full-signature group is itself mass
        # — a bystander that merely collides on the masked bits can't
        # become the canonical and void every threshold comparison.
        # id_a = min < id_b always holds.
        hot = keyed.filter(F.col("_bsize") > cap)
        canon = hot.groupBy("centroid_id", "_full").agg(
            F.min("vec_id").alias("id_a"),
            F.min_by("embedding", "vec_id").alias("_va"),
        )
        star = (
            hot.join(F.broadcast(canon), ["centroid_id", "_full"])
            .filter(F.col("vec_id") != F.col("id_a"))
            .select(
                "id_a",
                F.col("vec_id").alias("id_b"),
                "_va",
                F.col("embedding").alias("_vb"),
            )
        )
        cand = allp.unionByName(star)
    cos = _cosine("_va", "_vb", guarded=False)
    return (
        # multi-assignment can surface one pair through several shared
        # cells — thin to distinct ids BEFORE the dot products
        cand.dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def semantic_dedup_apply(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """(vec_id, keep): drop every vector that duplicates a lower-id
    one (min-id canonical, matching the lexical dedup_apply
    convention; the paper keeps one arbitrary member per group). The
    pair table is duplicate-sized — broadcastable when dups are rare,
    plain keyed join otherwise."""
    drops = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return emb.select("vec_id").join(
        drops.withColumn("_drop", F.lit(True)), "vec_id", "left"
    ).select("vec_id", F.col("_drop").isNull().alias("keep"))


def semantic_neardup_against(
    new_emb: DataFrame,
    centroids: DataFrame,
    hist_assign: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental SemDeDup screen (VERDICT r3 #6): semantic near-dup
    pairs between each NEW embedding and the HISTORICAL corpus only —
    never old-vs-old (screened when those rows arrived) and never
    new-vs-new (run semantic_neardup_pairs on the batch for that).
    The embedding-space face of substring_spans_against /
    stream_neardup_candidates.

    centroids: the persisted quantizer (kmeans_centroids output —
    train once on the history, keep it fixed so assignments stay
    comparable across batches); hist_assign: the persisted assignment
    table (ivf_assign output, columns centroid_id/vec_id/embedding —
    append each accepted batch's rows). At 100 TB hist_assign is
    written bucketed by centroid_id, so the screen join prunes to the
    batch's cells.

    Output: (new_id, old_id, cos), cosine >= threshold. Cost per
    batch: |batch| x k centroid scores (broadcast argmin) + the keyed
    join touching only the batch's cells. Cap semantics: unlike
    semantic_neardup_pairs, no cluster-occupancy star path — a hot
    history cell costs |batch ∩ cell| x |cell|; keep the history
    SemDeDup'd (its hot mass collapsed to canonicals) and that factor
    stays bounded."""
    new_assign = ivf_assign(new_emb, centroids, n_assign).select(
        F.col("vec_id").alias("new_id"),
        F.col("embedding").alias("_vn"),
        "centroid_id",
    )
    hist = hist_assign.select(
        "centroid_id",
        F.col(id_col).alias("old_id"),
        F.col(vec_col).alias("_vh"),
    )
    cos = _cosine("_vn", "_vh", guarded=False)
    return (
        new_assign.join(hist, "centroid_id")
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id", "_vn", "_vh")
        .dropDuplicates(["new_id", "old_id"])
        .select("new_id", "old_id", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _literal_centroid_argmin(vec: F.Column, cents: list) -> F.Column:
    """Row-local nearest-centroid id from plan-literal centroids —
    the streaming-safe argmin: no groupBy, no shuffle, so it composes
    with append-mode streams. cents: [(c_id, [floats]), ...]."""
    scored = F.array(
        *[
            F.struct(
                _l2(
                    vec, F.array(*[F.lit(float(x)) for x in cv])
                ).alias("l2"),
                F.lit(int(cid)).cast("long").alias("c_id"),
            )
            for cid, cv in cents
        ]
    )
    return F.array_min(scored)["c_id"]


def stream_semantic_neardup_candidates(
    emb_stream: DataFrame,
    centroids: DataFrame,
    hist_assign: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming face of semantic_neardup_against: flag arriving
    embeddings that semantically duplicate the historical corpus
    (mirrors stream_neardup_candidates for MinHash).

    The centroid argmin is rebuilt as PLAN LITERALS (the quantizer is
    index-sized by construction — same discipline as the hyperplane
    literals), because ivf_assign's groupBy argmin would be a stateful
    streaming aggregate. Assignment is therefore map-only on the
    stream side; the only join is the stream-static equi-join on
    centroid_id — no stream state, append mode. Single-assignment
    regime, so (new, old) pairs are already distinct (no stateful
    dropDuplicates needed)."""
    cents = [
        (r["c_id"], list(r["c_vec"])) for r in centroids.collect()
    ]
    assigned = emb_stream.select(
        F.col(id_col).alias("new_id"),
        F.col(vec_col).alias("_vn"),
        _literal_centroid_argmin(F.col(vec_col), cents).alias(
            "centroid_id"
        ),
    )
    hist = hist_assign.select(
        "centroid_id",
        F.col(id_col).alias("old_id"),
        F.col(vec_col).alias("_vh"),
    )
    cos = _cosine("_vn", "_vh", guarded=False)
    return (
        assigned.join(hist, "centroid_id")
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def ivf_assign_two_level(
    emb: DataFrame,
    centroids: DataFrame,
    n_coarse: int | None = None,
) -> DataFrame:
    """(vec_id, embedding, centroid_id) nearest-centroid assignment
    through a coarse quantizer — the scale path SCALE.md promises for
    large n·k: instead of scoring all k centroids per vector, k-means
    the CENTROIDS into ~sqrt(k) coarse groups, argmin each vector over
    the coarse groups, then argmin over only that group's fine
    centroids. Per-row work drops k -> n_coarse + k/n_coarse (2*sqrt(k)
    at the default); both centroid tables stay broadcast, both argmins
    are map-side min_by partial aggregates — the corpus is never
    shuffled wider than n rows.

    Approximate by construction (a vector whose true nearest fine
    centroid sits in a non-nearest coarse group gets its in-group
    best); agreement with flat assignment is measured in
    tests/test_semdedup.py and SCALE.md. For a PARTITION consumer
    (SemDeDup, IVF lists) this trades a little boundary accuracy for
    the k -> 2*sqrt(k) scan cut."""
    import math

    if n_coarse is None:
        # the one eager action here; callers that know k (SemDeDup
        # passes its n_centroids) avoid it by supplying n_coarse
        n_coarse = max(2, int(math.isqrt(centroids.count())))
    as_vecs = centroids.select(
        F.col("c_id").alias("vec_id"), F.col("c_vec").alias("embedding")
    )
    coarse = kmeans_centroids(as_vecs, n_centroids=n_coarse, iters=2)
    # fine centroid -> its coarse group (k tiny rows; stage 1 of
    # ivf_assign reused — the same argmin as every other path)
    fine_map = ivf_assign(as_vecs, coarse, 1).select(
        F.col("vec_id").alias("f_id"),
        F.col("embedding").alias("f_vec"),
        F.col("centroid_id").alias("g_id"),
    )
    # kmeans can carry an EMPTY cluster forward (it keeps its previous
    # centroid) — a coarse group no fine centroid maps to. Vectors
    # argmin'd into such a group would vanish through the stage-2
    # inner join (review find), so restrict stage 1 to groups that
    # actually have members. Tiny semi-join of two <=k-row frames.
    g = coarse.join(
        fine_map.select("g_id").distinct(),
        coarse.c_id == F.col("g_id"),
        "semi",
    ).select(F.col("c_id").alias("g_id"), F.col("c_vec").alias("g_vec"))
    # stage 1: vector -> coarse group (n x n_coarse scored)
    to_group = _argmin_centroid(
        emb.crossJoin(F.broadcast(g)).select(
            "vec_id",
            "embedding",
            "g_id",
            _l2(F.col("embedding"), F.col("g_vec")).alias("l2"),
        ),
        "g_id",
    )
    # stage 2: vector -> fine centroid within its group
    return _argmin_centroid(
        to_group.join(F.broadcast(fine_map), "g_id").select(
            "vec_id",
            "embedding",
            F.col("f_id").alias("centroid_id"),
            _l2(F.col("embedding"), F.col("f_vec")).alias("l2"),
        ),
        "centroid_id",
    )


# ---------------------------------------------------------------------------
# Random-projection dimensionality reduction (Johnson–Lindenstrauss
# with ±1 entries, Achlioptas 2001 — public result): project d-dim
# embeddings to out_dim via deterministic sign matrices, scaled
# 1/sqrt(out_dim) so norms/distances are preserved in expectation.
# Preprocessing for the similarity family: a 4x narrower vector makes
# every downstream dot product (brute top-k, k-means assignment,
# SemDeDup pair cosines) 4x cheaper at a quantified recall cost.
# Row-local, zero shuffle; the sign matrix ships as plan literals
# (same discipline as hyperplane_bucket), seeded apart from the LSH
# planes so buckets and projections stay independent.
# ---------------------------------------------------------------------------

_PROJ_SEED = 7001  # plane-index offset: disjoint from LSH plane ids


def project_embeddings(
    emb: DataFrame,
    out_dim: int = 16,
    dim: int = EMB_DIM,
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Input plus `out_col`: array<float> of out_dim JL components
    (component j = dot(vec, signs_j) / sqrt(out_dim)).

    The expression is assembled as ONE SQL string parsed JVM-side
    (r16, profiling the x2b build: the Column-API form issued
    ~out_dim × dim py4j calls — 24 × 64 sign literals plus lambda
    crossings — costing ~2 s of DRIVER time per call before any
    execution; the parsed plan is identical: same fold, same double
    arithmetic, same literals, so projections stay bit-identical —
    pinned by tests/test_projection.py's numpy-exact check)."""
    import math

    if "`" in vec_col:
        raise ValueError(
            f"vec_col {vec_col!r} contains a backtick — it is embedded "
            "in a SQL identifier and cannot be quoted safely"
        )
    inv = 1.0 / math.sqrt(out_dim)

    def comp_sql(j: int) -> str:
        signs = ",".join(
            "1.0D" if s > 0 else "-1.0D"
            for s in _plane_signs(_PROJ_SEED + j, dim)
        )
        return (
            f"cast(aggregate(zip_with(`{vec_col}`, array({signs}), "
            "(x, s) -> cast(x as double) * s), 0.0D, "
            f"(acc, x) -> acc + x) * {inv!r}D as float)"
        )

    arr = "array(" + ",".join(comp_sql(j) for j in range(out_dim)) + ")"
    return emb.withColumn(out_col, F.expr(arr))


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, search many — the production ANN
# lifecycle (FAISS-style index files, re-expressed as parquet + Spark
# partition pruning). The inverted lists land on disk PARTITIONED BY
# centroid_id, so a search's nprobe cells prune to nprobe directories
# at the SCAN — the other (n_centroids - nprobe)/n_centroids of a
# 100 TB index is never read, which is the property that makes IVF an
# index rather than a re-scan.
# ---------------------------------------------------------------------------


class IvfIndex:
    """Handle to a persisted IVF index (see build_ivf_index). `meta`
    carries the build parameters (dim, proj_dim, n_centroids,
    n_assign) so search/insert derive the projection geometry from
    the index instead of trusting caller arguments (code review r5: a
    caller-side proj_dim/dim mismatch NULLed every projected score
    and silently returned garbage rankings)."""

    def __init__(
        self,
        path: str,
        centroids: DataFrame,
        lists: DataFrame,
        meta: dict,
    ):
        self.path = path
        self.centroids = centroids
        self.lists = lists
        self.meta = meta


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = N_CENTROIDS,
    n_assign: int = N_ASSIGN,
    refine_iters: int = 3,
    proj_dim: int | None = None,
    dim: int = EMB_DIM,
) -> IvfIndex:
    """Build + persist: k-means-refined centroids (deterministic
    Lloyd's) and multi-assigned inverted lists, written as
      path/centroids/   (c_id, c_vec)          — one small file
      path/lists/       (vec_id, embedding[, proj])
                        partitioned by centroid_id
    Index build is the one full-corpus pass; every later search reads
    nprobe partitions. With proj_dim set, each list row also carries
    its JL projection, so prerank search (search_ivf_index_prerank)
    scores candidates from the index alone — projection is paid once
    at build, never per query. Rebuild (or fold new vectors in with
    ivf_assign + append) when the corpus drifts."""
    spark = emb.sparkSession
    cents = kmeans_centroids(emb, n_centroids, iters=refine_iters)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cents_saved = spark.read.parquet(f"{path}/centroids")
    # fan_out before the multi-assign was A/B-measured NET-NEGATIVE
    # here (r19: lists write 3.8 -> 7-12.6 s at sf0.1) even though the
    # per-row assign work is the hot loop: the partitionBy write then
    # fans every upstream task across every centroid dir (32 x 64
    # part files + commit overhead instead of 1 x 64). The semdedup /
    # cosine_topk fan_outs stand because nothing downstream of them
    # writes a partitioned layout.
    lists = ivf_assign(emb, cents_saved, n_assign)
    cols = ["centroid_id", "vec_id", "embedding"]
    if proj_dim is not None:
        lists = project_embeddings(lists, out_dim=proj_dim, dim=dim)
        cols.append("proj")
    (
        lists.select(*cols)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )
    spark.createDataFrame(
        [(dim, proj_dim, n_centroids, n_assign)],
        "dim int, proj_dim int, n_centroids int, n_assign int",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    return load_ivf_index(spark, path)


def load_ivf_index(spark: SparkSession, path: str) -> IvfIndex:
    """Open an index build_ivf_index wrote. Its meta/ dir is the
    authoritative geometry; a root without one was not written by
    this engine and raises instead of guessing the geometry."""
    from pyspark.errors import AnalysisException

    try:
        meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    except AnalysisException as e:
        raise ValueError(
            f"{path} is not an IVF index this engine can open (no "
            "meta/ dir); rebuild it with build_ivf_index"
        ) from e
    return IvfIndex(
        path,
        centroids=spark.read.parquet(f"{path}/centroids"),
        lists=spark.read.parquet(f"{path}/lists"),
        meta=meta,
    )


def _in_cells(cells) -> F.Column:
    """`centroid_id IN (<ids>)` as ONE parsed expression. r19 build
    profile: Column.isin converts the probed-cell list element by
    element through py4j (~0.14 s per call at |queries| x nprobe
    scale, three calls per x2b build); the parsed literal In list is
    the same predicate, so partition pruning is unchanged. Cell ids
    are ints by construction (int() below enforces it)."""
    ids = ",".join(str(int(c)) for c in cells)
    if not ids:
        return F.lit(False)
    return F.expr(f"centroid_id IN ({ids})")


def probe_assignment(
    index: IvfIndex, queries: DataFrame, nprobe: int | None = None
) -> tuple[DataFrame, list]:
    """(probes, cells): the queries' nprobe-nearest-cell assignment
    frame (q_id, q_vec, centroid_id) and the distinct probed cell
    ids (collected — bounded by |queries| x nprobe; the query batch
    is small by contract). Factored out r16 (VERDICT r15 #2): the
    declared x2b union runs TWO searches over the SAME index with
    the SAME query batch and nprobe, and each used to run its own
    identical assignment + distinct-cells collect job back-to-back —
    pure sequential-stage floor. Both search functions accept the
    pair via `probes_cells` so one assignment feeds both operating
    points; results are byte-identical by construction (the shared
    frame IS the frame each leg built on its own).

    The returned probes frame is LOCALIZED (one collect, then a
    local relation): every consumer broadcasts some projection of it
    anyway — and broadcasting a distributed subtree collects it to
    the driver too, so this changes no memory bound; it just pays
    the assignment once instead of once per distinct broadcast
    subplan (x2b had three, plus the cells collect: four executions
    of the same assign pipeline per run). Values are bit-identical:
    float32 array elements round-trip exactly through collect /
    createDataFrame, and the probed-cell ids feed an
    order-insensitive partition IN filter (sorted here so the plan
    literal is canonical)."""
    nprobe = _index_nprobe(index, nprobe)
    probes = ivf_assign(queries, index.centroids, nprobe).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_vec"),
        "centroid_id",
    )
    rows = probes.collect()
    local = queries.sparkSession.createDataFrame(rows, probes.schema)
    cells = sorted({r["centroid_id"] for r in rows})
    return local, cells


def declared_query_probes(
    spark: SparkSession,
    sf_dir: str,
    index: IvfIndex,
    nprobe: int | None = None,
) -> tuple[DataFrame, list]:
    """probe_assignment for the declared vec_id < N_QUERY_VECS batch,
    memoized per (index.path, sf_dir, nprobe) within a session. The
    declared ANN queries all probe with this pinned batch, so the
    assignment is deterministic derived data of (corpus, index,
    nprobe): the first execution in a session pays the job, repeats
    reuse the localized frame. The index path is a content-keyed
    artifact slot, so a stale serve is impossible; values are
    bit-identical to a fresh assignment (pinned by
    test_declared_probes_memo_matches_fresh_assignment). Arbitrary
    user batches go through probe_assignment directly."""
    n = _index_nprobe(index, nprobe)

    def _assign() -> tuple[DataFrame, list]:
        emb = load_table(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
            "vec_id", "embedding"
        )
        return probe_assignment(index, queries, n)

    return session_memo(spark, (index.path, sf_dir, n), _assign)


def _ivf_scored(
    index: IvfIndex, probes: DataFrame, cells: list
) -> DataFrame:
    """(q_id, vec_id, cosine_sim) full-dim scores of every candidate
    in the probed cells — the shared subtree of the ivf and prerank
    operating points (r19, VERDICT r18 #5). Duplicate (q, v) rows (a
    vector multi-assigned to >1 probed cell) carry identical values;
    consumers run the lag() run-dedup on their own rank exchange."""
    cand = (
        index.lists.filter(_in_cells(cells))
        .join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    sim = _cosine("q_vec", "embedding")
    return cand.select(
        "q_id", "vec_id", fround(sim, 6).alias("cosine_sim")
    )


def search_ivf_index(
    index: IvfIndex,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int | None = None,
    probes_cells: tuple[DataFrame, list] | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine over the persisted lists of the queries' nprobe
    nearest cells. `queries`: (vec_id, embedding). nprobe defaults to
    the index's own cell count's sqrt scaling (ivf_auto_nprobe — an
    auto-sized index keeps its recall as it grows instead of probing
    a linearly-shrinking corpus fraction). The probed cell ids
    are collected (bounded by |queries| x nprobe — the query batch is
    small by contract) and pushed as an IN filter on the PARTITION
    column, so the parquet scan prunes to those directories; the
    candidate join then broadcasts the query set. `probes_cells` (r16)
    lets a caller running SEVERAL searches over the same index +
    query batch share one probe_assignment() instead of re-running
    the assignment job per search; `scored` (r19, VERDICT r18 #5)
    additionally shares the full-dim candidate scores themselves
    (a frame with _ivf_scored's exact contract — the x2b union
    persists one and feeds both operating points). Same output
    contract: (q_id, vec_id, cosine_sim, rank)."""
    from pyspark.sql import Window

    if scored is None:
        probes, cells = (
            probes_cells
            if probes_cells is not None
            else probe_assignment(index, queries, nprobe)
        )
        scored = _ivf_scored(index, probes, cells)
    # duplicate (q, v) pairs (a vector assigned to >1 probed cell,
    # n_assign > 1) carry IDENTICAL cosine_sim, so keeping the first
    # of each adjacent run under a per-query sort equals
    # dropDuplicates([q_id, vec_id]) — but as a window over the SAME
    # partition key as the rank window below, so both run after ONE
    # exchange on q_id instead of hash(q_id, vec_id) + hash(q_id)
    # (r18 opt, guide §2.4).
    wdup = Window.partitionBy("q_id").orderBy(F.asc("vec_id"))
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    deduped = scored.withColumn(
        "_prev", F.lag("vec_id").over(wdup)
    ).filter(
        F.col("_prev").isNull() | (F.col("_prev") != F.col("vec_id"))
    )
    return (
        deduped.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", "vec_id", "cosine_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# Module default projection width for JL-prerank columns: the width
# ivf_index_for builds with, and the width a search projects with on
# an index built without a persisted `proj` column.
_IVF_PROJ_DIM = 24

# IVF on-disk layout version — keys the cross-process artifact slot,
# so a persisted index of an older layout is never served. Bump
# whenever the IVF dirs' schema/layout or the build's semantics change.
_IVF_FORMAT = 1


def _index_geometry(
    index: IvfIndex, proj_dim: int | None, dim: int | None
) -> tuple[int, int]:
    """Resolve (proj_dim, dim) for a persisted index. Meta wins; a
    contradicting caller value raises, never silently NULLed
    arithmetic. An index built without a projection (meta proj_dim
    NULL) takes the caller's width, else _IVF_PROJ_DIM."""
    meta_pd = index.meta["proj_dim"]
    meta_dim = index.meta["dim"]
    if proj_dim is None:
        proj_dim = meta_pd if meta_pd is not None else _IVF_PROJ_DIM
    elif meta_pd is not None and proj_dim != meta_pd:
        raise ValueError(
            f"proj_dim={proj_dim} contradicts the index's "
            f"persisted projection width {meta_pd} ({index.path})"
        )
    if dim is None:
        dim = meta_dim
    elif dim != meta_dim:
        raise ValueError(
            f"dim={dim} contradicts the index's embedding dim "
            f"{meta_dim} ({index.path})"
        )
    return int(proj_dim), int(dim)


def search_ivf_index_prerank(
    index: IvfIndex,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int | None = None,
    proj_dim: int | None = None,
    rerank: int = 250,
    dim: int | None = None,
    probes_cells: tuple[DataFrame, list] | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """JL-preranked search over the persisted lists: the probed cells
    prune at the parquet scan exactly like search_ivf_index, then
    candidates are scored in proj_dim-dim projected space (read from
    the index when build_ivf_index persisted `proj`; projected on the
    pruned slice otherwise) and only the top `rerank` per query get
    exact full-dim cosines — full-dim arithmetic touches
    |queries| x rerank rows, never a cell's whole list. Same output
    contract as search_ivf_index: (q_id, vec_id, cosine_sim, rank).

    proj_dim/dim default to the INDEX's persisted meta (the geometry
    the lists were projected with) — a caller value that contradicts
    the meta raises instead of NULLing every projected score (code
    review r5: zip_with pads mismatched widths with nulls, which
    sorted into a plausible-looking but garbage shortlist).
    `probes_cells` (r16) shares one probe_assignment() across
    several searches of the same index + query batch; the query-side
    JL projection is applied here on top of the shared frame, so the
    scored plan is identical to the standalone one.

    `scored` (r19, VERDICT r18 #5): a shared full-dim candidate-score
    frame with _ivf_scored's contract. When given, the rerank side
    reads the shortlist pairs' cosines from it instead of re-joining
    embeddings — value-identical because a shortlist (q, v) pair
    exists iff some cell probed by q contains v, which is exactly
    scored's pair set, and duplicate rows (different multiplicity,
    identical values) are removed by the same lag() run-dedup that
    handled the duplicate embedding joins."""
    from pyspark.sql import Window

    proj_dim, dim = _index_geometry(index, proj_dim, dim)
    base, cells = (
        probes_cells
        if probes_cells is not None
        else probe_assignment(index, queries, nprobe)
    )
    probes = project_embeddings(
        base,
        out_dim=proj_dim,
        dim=dim,
        vec_col="q_vec",
        out_col="q_proj",
    )
    pruned = index.lists.filter(_in_cells(cells))
    if "proj" not in pruned.columns:
        pruned = project_embeddings(pruned, out_dim=proj_dim, dim=dim)
    cand = pruned.select("vec_id", "proj", "centroid_id").join(
        F.broadcast(probes.select("q_id", "q_proj", "centroid_id")),
        "centroid_id",
    ).filter(F.col("vec_id") != F.col("q_id"))
    psim = _cosine("q_proj", "proj")
    wpre = Window.partitionBy("q_id").orderBy(
        F.desc("psim"), F.asc("vec_id")
    )
    # dup (q, v) pairs carry IDENTICAL psim — first-of-adjacent-run
    # under a per-query sort == dropDuplicates([q_id, vec_id]), but
    # shares the prank window's q_id exchange (r18 opt, guide §2.4)
    wpdup = Window.partitionBy("q_id").orderBy(F.asc("vec_id"))
    shortlist = (
        cand.select("q_id", "vec_id", psim.alias("psim"))
        .withColumn("_prev", F.lag("vec_id").over(wpdup))
        .filter(
            F.col("_prev").isNull() | (F.col("_prev") != F.col("vec_id"))
        )
        .withColumn("prank", F.row_number().over(wpre))
        .filter(F.col("prank") <= rerank)
        .select("q_id", "vec_id")
    )
    # NO dropDuplicates on the full-dim side (r18 opt): a vector
    # assigned to >1 probed cell joins the shortlist 2x with the SAME
    # embedding bytes, so the duplicate (q, v) scored rows are
    # identical and the lag() run-dedup below — riding the rank
    # window's own q_id exchange — removes them for free, where the
    # old dropDuplicates([vec_id]) paid a dedicated exchange.
    if scored is not None:
        rescored = shortlist.join(scored, ["q_id", "vec_id"])
    else:
        full = pruned.select("vec_id", "embedding")
        qfull = probes.select("q_id", "q_vec").dropDuplicates(["q_id"])
        sim = _cosine("q_vec", "embedding")
        rescored = (
            shortlist.join(full, "vec_id")
            .join(F.broadcast(qfull), "q_id")
            .select("q_id", "vec_id", fround(sim, 6).alias("cosine_sim"))
        )
    wfdup = Window.partitionBy("q_id").orderBy(F.asc("vec_id"))
    w = Window.partitionBy("q_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        rescored.withColumn("_fprev", F.lag("vec_id").over(wfdup))
        .filter(
            F.col("_fprev").isNull() | (F.col("_fprev") != F.col("vec_id"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            "vec_id",
            "cosine_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_index_for(spark: SparkSession, sf_dir: str) -> IvfIndex:
    """The per-corpus persisted IVF index behind the declared x2b/x2d
    queries: built on first use into a cross-process artifact slot,
    so searches read nprobe partition directories of a standing
    artifact instead of re-deriving inverted lists per run. The slot
    key carries the IVF layout version and every build parameter that
    shapes the artifact (proj_dim drives the prerank columns;
    vecs-per-cell drives the cell count and thus the partition
    layout), so changing one can never serve a stale layout. The
    loaded handle (three DataFrames + a dict, ~0.4 s of meta collect
    and schema opens) is pure plan state, memoized per SparkSession."""

    def _build(build: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        # cells sized from the corpus (constant cell size past the
        # floor — see ivf_auto_centroids); the chosen count rides the
        # persisted meta, so searches resolve it from the index itself
        build_ivf_index(
            emb,
            build,
            n_centroids=ivf_auto_centroids(emb.count()),
            proj_dim=_IVF_PROJ_DIM,
        )

    key = corpus_cache_key(sf_dir, "embeddings.parquet")
    path = artifact_slot(
        "ivf",
        f"ifmt{_IVF_FORMAT}|pd{_IVF_PROJ_DIM}"
        f"|vpc{IVF_TARGET_VECS_PER_CELL}|{key}",
        _build,
    )
    return session_memo(spark, (path,), lambda: load_ivf_index(spark, path))


# -- Product quantization (PQ codes + ADC search) ---------------------------
# The memory-compression path for ANN at corpus scale (Jegou et al.
# 2011, "Product Quantization for Nearest Neighbor Search" — public
# paper): split each D-dim vector into M subvectors, k-means each
# subspace to 2^nbits sub-centroids, store each vector as M small
# codes. At prod sizing (D=768 float32, M=96, 8 bits) that is
# 3072 B -> 96 B per vector (32x), which is what lets a 100 TB
# embedding corpus's index live in cluster memory. Search is ADC
# (asymmetric distance): per query build an M x K lookup table of
# exact subspace distances, then every corpus distance is M table
# gathers + adds — no decode, no full-dim arithmetic.

PQ_M = 16  # subspaces (testdata D=64 -> 4 dims per subspace)
PQ_NBITS = 6  # 64 codes/subspace at test scale; 8 bits at prod scale


def _pq_seed_codebook(
    emb: DataFrame, m: int, ksub: int, id_col: str, vec_col: str
):
    """Deterministic init: sub-centroid j of subspace s is subvector s
    of the j-th smallest-id corpus vector (same no-randomness rule as
    kmeans_centroids). Returns numpy (m, ksub, dsub)."""
    import numpy as np

    seeds = (
        emb.orderBy(F.col(id_col))
        .limit(ksub)
        .select(vec_col)
        .collect()
    )
    mat = np.asarray([r[0] for r in seeds], dtype="float64")
    if mat.shape[0] < ksub:  # tiny corpus: pad by cycling
        reps = -(-ksub // mat.shape[0])
        mat = np.tile(mat, (reps, 1))[:ksub]
    dsub = mat.shape[1] // m
    return np.stack(
        [mat[:, s * dsub : (s + 1) * dsub] for s in range(m)], axis=0
    )


def pq_train(
    emb: DataFrame,
    m: int = PQ_M,
    nbits: int = PQ_NBITS,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Train M sub-quantizers (Lloyd's per subspace, all subspaces in
    ONE distributed pass per iteration). Returns the codebook as a
    numpy array (m, ksub, dsub) — broadcast-sized by construction
    (m * 2^nbits * dsub floats == one full-dim vector per code cell,
    e.g. 96 KiB at prod sizing), so it travels to executors inside
    the Arrow-UDF closure exactly like the kmeans centroid broadcast.

    Distributed shape per round (the 100 TB path — mirrors
    kmeans_centroids): one mapInPandas pass computes per-partition
    per-(subspace, code) partial sums + counts (output is at most
    partitions x m x ksub tiny rows regardless of corpus size); the
    exact combine posexplodes the partials and sums per (s, code,
    dim). Only partials are ever shuffled; the corpus is never
    re-keyed. Empty cells keep their previous sub-centroid.

    Determinism contract (r15, VERDICT r14 #1; claim precision r16,
    ADVICE r15): partials are fixed-point int64 (_SUM_GRID), so the
    trained codebook is bit-identical for any partition count or
    Arrow batch shape by construction (associative integer sums);
    the rounded code-assignment argmin (_ARGMIN_DECIMALS) makes
    cross-BLAS-build identity overwhelmingly likely but not
    constructed — see the kmeans_centroids contract paragraph for
    the grid-boundary caveat. The pre-r15 f64 partials were
    partition-dependent in their last bits, and a BLAS-kernel
    difference between boxes flipped one near-tied code (driver
    recall@10 0.896 vs the builder's 0.898)."""
    import numpy as np
    import pandas as pd

    ksub = 1 << nbits
    codebook = _pq_seed_codebook(emb, m, ksub, id_col, vec_col)
    dsub = codebook.shape[2]

    for _ in range(iters):
        cb = codebook  # bind loop value for the closure

        def partials(pdfs, cb=cb):
            for pdf in pdfs:
                x = np.stack(pdf[vec_col].values).astype("float64")
                n = x.shape[0]
                # per-batch sums only (each pdf yields its own
                # partials), so the headroom bound is per Arrow
                # batch here — checked for the same loud-fail
                # contract as the kmeans accumulator (ADVICE r15)
                _check_fixed_point_rows(n)
                xs = x.reshape(n, m, dsub)
                out_s, out_c, out_p, out_n = [], [], [], []
                for s in range(m):
                    # (n, ksub) squared L2 via the expansion trick
                    d2 = (
                        (xs[:, s, :] ** 2).sum(axis=1)[:, None]
                        - 2.0 * xs[:, s, :] @ cb[s].T
                        + (cb[s] ** 2).sum(axis=1)[None, :]
                    )
                    codes = np.round(d2, _ARGMIN_DECIMALS).argmin(axis=1)
                    for c in np.unique(codes):
                        mask = codes == c
                        out_s.append(s)
                        out_c.append(int(c))
                        out_p.append(
                            _fixed_point(xs[mask, s, :]).sum(axis=0).tolist()
                        )
                        out_n.append(int(mask.sum()))
                yield pd.DataFrame(
                    {"s": out_s, "code": out_c, "psum": out_p, "cnt": out_n}
                )

        part = emb.select(vec_col).mapInPandas(
            partials, "s int, code int, psum array<long>, cnt long"
        )
        combined = (
            part.select(
                "s", "code", "cnt", F.posexplode("psum").alias("pos", "v")
            )
            .groupBy("s", "code", "pos")
            # decimal sum over fixed-point int64 partials: exact and
            # order-insensitive (r12 moved to decimal for run-to-run
            # stability; r15 moved the partials themselves to the
            # fixed-point grid so they are also partition- and
            # platform-independent — see the determinism contract).
            # decimal(38,0) has 19 digits of headroom over int64.
            .agg(
                F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
                F.sum("cnt").alias("n"),
            )
            .collect()
        )
        # exact combine lands driver-side: m*ksub*dsub tiny rows.
        # float(Decimal) rounds once, deterministically by value.
        sums = np.zeros_like(codebook)
        cnts = np.zeros((m, ksub), dtype="int64")
        for r in combined:
            sums[r["s"], r["code"], r["pos"]] = float(r["sv"])
            # every pos row of a (s, code) carries the same summed n
            cnts[r["s"], r["code"]] = r["n"]
        new = codebook.copy()
        nz = cnts > 0
        new[nz] = sums[nz] / _SUM_GRID / cnts[nz][:, None]
        codebook = new
    return codebook


def pq_encode(
    emb: DataFrame,
    codebook,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Map-only encode: (id, codes array<int> of length m,
    passthrough...). One Arrow pass, vectorized argmin per subspace;
    zero shuffle. The codes frame is the compressed index — 32x
    smaller than the vectors at prod sizing, so it can be cached
    cluster-wide. `passthrough` columns (e.g. the IVF cell id) ride
    the same pass."""
    import numpy as np
    import pandas as pd

    m, ksub, dsub = codebook.shape
    cb = codebook
    extra_schema = "".join(f", {c} long" for c in passthrough)

    def enc(pdfs):
        for pdf in pdfs:
            x = np.stack(pdf[vec_col].values).astype("float64")
            n = x.shape[0]
            xs = x.reshape(n, m, dsub)
            codes = np.empty((n, m), dtype="int32")
            for s in range(m):
                d2 = (
                    (xs[:, s, :] ** 2).sum(axis=1)[:, None]
                    - 2.0 * xs[:, s, :] @ cb[s].T
                    + (cb[s] ** 2).sum(axis=1)[None, :]
                )
                # rounded argmin (r15): batch-shape / BLAS last-bit
                # noise can't flip a near-tied code across boxes
                codes[:, s] = np.round(d2, _ARGMIN_DECIMALS).argmin(axis=1)
            out = {id_col: pdf[id_col].values, "codes": list(codes)}
            for c in passthrough:
                out[c] = pdf[c].values
            yield pd.DataFrame(out)

    return emb.select(id_col, vec_col, *passthrough).mapInPandas(
        enc, f"{id_col} long, codes array<int>{extra_schema}"
    )


def pq_reconstruct_mse(emb: DataFrame, codebook, vec_col="embedding"):
    """Mean squared reconstruction error of the codebook over the
    corpus — the training-quality scalar (decreases with Lloyd
    iterations; pytest-asserted). One Arrow pass + tiny agg."""
    import numpy as np
    import pandas as pd

    m, ksub, dsub = codebook.shape
    cb = codebook

    def err(pdfs):
        for pdf in pdfs:
            x = np.stack(pdf[vec_col].values).astype("float64")
            n = x.shape[0]
            xs = x.reshape(n, m, dsub)
            tot = 0.0
            for s in range(m):
                d2 = (
                    (xs[:, s, :] ** 2).sum(axis=1)[:, None]
                    - 2.0 * xs[:, s, :] @ cb[s].T
                    + (cb[s] ** 2).sum(axis=1)[None, :]
                )
                tot += d2.min(axis=1).sum()
            yield pd.DataFrame({"sq": [tot], "n": [n]})

    part = emb.select(vec_col).mapInPandas(err, "sq double, n long")
    row = part.agg(
        (F.sum("sq") / F.sum("n")).alias("mse")
    ).collect()[0]
    return float(row["mse"])


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    codebook,
    k: int = TOP_K,
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k: (q_id, vec_id, adc_dist, rank), ascending squared-L2
    distance, vec_id tiebreak. The query batch is small by contract
    (same rule as cosine_topk / search_ivf_index): queries collect to
    an nq x m x ksub LUT of EXACT subspace distances, the LUT rides
    the Arrow closure, and one pass over the codes frame does M
    gathers + adds per (vector, query). Per-partition top-k is taken
    map-side (global top-k == top-k of per-partition top-k), so the
    only shuffle is nq * k * partitions candidate rows into the final
    window."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    m, ksub, dsub = codebook.shape
    q_rows = queries.select(id_col, "embedding").collect()
    q_ids = np.asarray([r[0] for r in q_rows], dtype="int64")
    q_mat = np.stack([np.asarray(r[1], dtype="float64") for r in q_rows])
    nq = q_mat.shape[0]
    qs = q_mat.reshape(nq, m, dsub)
    lut = np.empty((nq, m, ksub), dtype="float64")
    for s in range(m):
        lut[:, s, :] = (
            (qs[:, s, :] ** 2).sum(axis=1)[:, None]
            - 2.0 * qs[:, s, :] @ codebook[s].T
            + (codebook[s] ** 2).sum(axis=1)[None, :]
        )

    def scan(pdfs):
        for pdf in pdfs:
            c = np.stack(pdf["codes"].values).astype("int64")  # (n, m)
            ids = pdf[id_col].values.astype("int64")
            n = c.shape[0]
            dist = np.zeros((nq, n), dtype="float64")
            for s in range(m):
                dist += lut[:, s, :][:, c[:, s]]
            take = min(k, n)
            out_q, out_v, out_d = [], [], []
            for qi in range(nq):
                # partial top-k with (dist, id) tiebreak on ROUNDED
                # distances (r15): the candidate cut is then immune to
                # platform last-bit noise, matching the fround(,6)
                # output contract
                dq = np.round(dist[qi], _ARGMIN_DECIMALS)
                idx = np.lexsort((ids, dq))[:take]
                out_q.extend([int(q_ids[qi])] * take)
                out_v.extend(ids[idx].tolist())
                out_d.extend(dq[idx].tolist())
            yield pd.DataFrame(
                {"q_id": out_q, id_col: out_v, "adc_dist": out_d}
            )

    cand = codes.mapInPandas(
        scan, f"q_id long, {id_col} long, adc_dist double"
    ).filter(F.col("q_id") != F.col(id_col))
    w = Window.partitionBy("q_id").orderBy(
        F.asc("adc_dist"), F.asc(id_col)
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id",
            id_col,
            fround(F.col("adc_dist"), 6).alias("adc_dist"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


PQ_RERANK = 50  # ADC candidates per query fed to the exact rerank


def pq_search_rerank(
    queries: DataFrame,
    codes: DataFrame,
    emb: DataFrame,
    codebook,
    k: int = TOP_K,
    rerank: int = PQ_RERANK,
    id_col: str = "vec_id",
) -> DataFrame:
    """The production PQ shape: ADC over the compressed codes picks
    `rerank` candidates per query (the only full scan, and it touches
    12-byte codes, not 256-byte vectors), then ONE keyed join against
    the original vectors re-scores just nq x rerank rows exactly.
    Output (q_id, vec_id, l2_dist, rank) ascending exact squared-L2.
    Measured on the testdata (m=16, 6-bit): raw ADC recall@10 0.61 ->
    0.94 with rerank=50, 1.0 with rerank=100, while the exact path
    reads only rerank/N of the corpus vectors per query."""
    from pyspark.sql import Window

    cand = pq_search(queries, codes, codebook, k=rerank, id_col=id_col)
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = (
        cand.select("q_id", id_col)
        .join(emb.select(id_col, "embedding"), id_col)
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            id_col,
            fround(_l2(F.col("q_vec"), F.col("embedding")), 6).alias(
                "l2_dist"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("l2_dist"), F.asc(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", id_col, "l2_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# -- IVF-PQ persisted index (residual quantization) -------------------------
# The composed big-corpus index (Jegou et al. 2011 §IV, the FAISS
# IVFADC layout, public): coarse quantizer partitions the corpus into
# cells; each vector stores only PQ codes of its RESIDUAL from the
# cell centroid (residuals are small, so the same code budget buys
# much finer quantization than coding raw vectors). A search prunes
# to nprobe cell partitions at the parquet scan, ADCs the cells'
# codes against per-(query, cell) lookup tables, and exact-reranks
# the short candidate list against the original vectors. At 100 TB:
# the scan touches nprobe/n_cells of a codes table that is itself
# ~30x smaller than the vectors, and full-dim arithmetic happens on
# nq x rerank rows only.


class IvfPqIndex:
    """Handle to a persisted IVF-PQ index (see build_ivfpq_index)."""

    def __init__(self, path: str, centroids: DataFrame, lists: DataFrame, codebook):
        self.path = path
        self.centroids = centroids
        self.lists = lists  # (vec_id, codes, centroid_id) part. by cell
        self.codebook = codebook  # numpy (m, ksub, dsub)


def _residuals(assign: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, crank, residual) — broadcast centroid
    join + row-local subtract; the vector never shuffles."""
    return assign.join(
        F.broadcast(centroids),
        assign.centroid_id == centroids.c_id,
    ).select(
        "vec_id",
        "centroid_id",
        "crank",
        F.zip_with(
            "embedding",
            "c_vec",
            lambda x, y: (x.cast("double") - y.cast("double")).cast(
                "float"
            ),
        ).alias("residual"),
    )


def build_ivfpq_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = N_CENTROIDS,
    n_assign: int = N_ASSIGN,
    refine_iters: int = 3,
    m: int = PQ_M,
    nbits: int = PQ_NBITS,
    pq_iters: int = 3,
    two_level: bool = False,
) -> IvfPqIndex:
    """Build + persist:
      path/centroids/  (c_id, c_vec)
      path/codebook/   (s, code, vec)     — m x 2^nbits tiny rows
      path/lists/      (vec_id, codes) PARTITIONED BY centroid_id
    The PQ codebook is trained on primary-assignment residuals
    (crank=1, so the training input is one row per vector and the
    deterministic seed order is unambiguous); multi-assigned copies
    are then encoded against it. Index build = the kmeans passes +
    two more corpus scans (assign+residual, encode); everything else
    is broadcast-sized."""
    import pandas as pd

    spark = emb.sparkSession
    cents = kmeans_centroids(emb, n_centroids, iters=refine_iters)
    cents.write.mode("overwrite").parquet(f"{path}/centroids")
    cents_saved = spark.read.parquet(f"{path}/centroids")

    # two_level: corpus-side assignment through the coarse quantizer
    # (k -> 2*sqrt(k) per-row work — the SemDeDup scale mitigation
    # applied to index build; cells become approximate, searches stay
    # exact within probed cells). Requires n_assign=1.
    if two_level:
        if n_assign != 1:
            raise ValueError("two_level supports n_assign=1 only")
        import math

        assign = ivf_assign_two_level(
            emb,
            cents_saved,
            n_coarse=max(2, int(math.isqrt(n_centroids))),
        ).withColumn("crank", F.lit(1))
    else:
        assign = ivf_assign(emb, cents_saved, n_assign)
    res = _residuals(assign, cents_saved)
    codebook = pq_train(
        res.filter(F.col("crank") == 1),
        m=m,
        nbits=nbits,
        iters=pq_iters,
        id_col="vec_id",
        vec_col="residual",
    )
    ksub = codebook.shape[1]
    cb_rows = [
        (s, c, codebook[s, c].tolist())
        for s in range(m)
        for c in range(ksub)
    ]
    spark.createDataFrame(
        pd.DataFrame(cb_rows, columns=["s", "code", "vec"])
    ).write.mode("overwrite").parquet(f"{path}/codebook")
    (
        pq_encode(
            res,
            codebook,
            id_col="vec_id",
            vec_col="residual",
            passthrough=("centroid_id",),
        )
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )
    return load_ivfpq_index(spark, path)


def load_ivfpq_index(spark: SparkSession, path: str) -> IvfPqIndex:
    import numpy as np

    cb_rows = spark.read.parquet(f"{path}/codebook").collect()
    m = 1 + max(r["s"] for r in cb_rows)
    ksub = 1 + max(r["code"] for r in cb_rows)
    dsub = len(cb_rows[0]["vec"])
    codebook = np.zeros((m, ksub, dsub))
    for r in cb_rows:
        codebook[r["s"], r["code"]] = r["vec"]
    return IvfPqIndex(
        path,
        centroids=spark.read.parquet(f"{path}/centroids"),
        lists=spark.read.parquet(f"{path}/lists"),
        codebook=codebook,
    )


def search_ivfpq_index(
    index: IvfPqIndex,
    queries: DataFrame,
    emb: DataFrame,
    k: int = TOP_K,
    nprobe: int | None = None,
    rerank: int = PQ_RERANK,
) -> DataFrame:
    """ADC over the probed cells' codes + exact rerank against the
    original vectors. Output (q_id, vec_id, l2_dist, rank) ascending
    EXACT squared L2 (the rerank recomputes it full-dim), vec_id
    tiebreak.

    Scale shape: the probed cell ids are collected (|queries| x
    nprobe, bounded by the small-query-batch contract) and pushed as
    an IN filter on the PARTITION column — the codes scan prunes to
    nprobe directories. Per-(query, cell) ADC lookup tables are exact
    ||(q - c)_s - codeword||^2 grids computed driver-side (nq x
    nprobe x m x ksub floats) and ride the Arrow closure. Per-batch
    top-`rerank` is taken map-side; only nq x rerank candidates join
    the full-dim vectors."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    nprobe = _index_nprobe(index, nprobe)
    m, ksub, dsub = index.codebook.shape
    cb = index.codebook
    probes = (
        ivf_assign(queries, index.centroids, nprobe)
        .join(
            F.broadcast(index.centroids),
            F.col("centroid_id") == F.col("c_id"),
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            "centroid_id",
            "c_vec",
        )
        .collect()
    )
    luts: dict = {}
    for r in probes:
        q = np.asarray(r["q_vec"], dtype="float64")
        c = np.asarray(r["c_vec"], dtype="float64")
        res = (q - c).reshape(m, dsub)
        lut = np.empty((m, ksub))
        for s in range(m):
            lut[s] = (
                (res[s] ** 2).sum()
                - 2.0 * cb[s] @ res[s]
                + (cb[s] ** 2).sum(axis=1)
            )
        luts.setdefault(int(r["centroid_id"]), []).append(
            (int(r["q_id"]), lut)
        )
    cells = sorted(luts)

    def scan(pdfs):
        for pdf in pdfs:
            frames = []
            for cid, grp in pdf.groupby("centroid_id"):
                qlist = luts.get(int(cid))
                if not qlist:
                    continue
                codes = np.stack(grp["codes"].values).astype("int64")
                ids = grp["vec_id"].values.astype("int64")
                n = codes.shape[0]
                take = min(rerank, n)
                for q_id, lut in qlist:
                    dist = np.zeros(n)
                    for s in range(m):
                        dist += lut[s][codes[:, s]]
                    # rounded cut (r15): see pq_search — candidate
                    # selection is platform-noise-immune
                    dist = np.round(dist, _ARGMIN_DECIMALS)
                    idx = np.lexsort((ids, dist))[:take]
                    frames.append(
                        pd.DataFrame(
                            {
                                "q_id": q_id,
                                "vec_id": ids[idx],
                                "adc_dist": dist[idx],
                            }
                        )
                    )
            if frames:
                yield pd.concat(frames)

    cand = (
        index.lists.filter(_in_cells(cells))
        .mapInPandas(scan, "q_id long, vec_id long, adc_dist double")
        .filter(F.col("q_id") != F.col("vec_id"))
    )
    wa = Window.partitionBy("q_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    short = (
        # multi-assign copies: a vector lives in up to n_assign cells
        # with DIFFERENT residual codes, so its per-cell ADC distances
        # differ — keep the BEST estimate (min is order-insensitive).
        # r15: this was dropDuplicates, which keeps whichever copy a
        # task happened to deliver first — the rerank-shortlist
        # boundary (and therefore the published recall) flickered
        # run-to-run with task order: probe3 caught query 29's true
        # neighbor 31 in the shortlist on one run and out of it on
        # the next, the last source of the 0.898-vs-0.896 drift.
        cand.groupBy("q_id", "vec_id")
        .agg(F.min("adc_dist").alias("adc_dist"))
        .withColumn("_r", F.row_number().over(wa))
        .filter(F.col("_r") <= rerank)
        .select("q_id", "vec_id")
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = (
        short.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(q), "q_id")
        .select(
            "q_id",
            "vec_id",
            fround(_l2(F.col("q_vec"), F.col("embedding")), 6).alias(
                "l2_dist"
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("l2_dist"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", "vec_id", "l2_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_index_insert(
    index: IvfIndex, new_emb: DataFrame, n_assign: int | None = None
) -> IvfIndex:
    """Fold a batch of new vectors into the persisted plain-IVF index
    WITHOUT a rebuild (r5 — completes the build/search/insert
    lifecycle the IVF-PQ index already had): assign against the
    frozen centroids (broadcast argmin), re-derive the persisted JL
    projection when the index carries one, append to the partitioned
    lists. O(batch): existing lists are never read or rewritten; a
    batch touches only the cell directories it lands in. Rebuild
    (build_ivf_index) when quantizer drift accumulates."""
    spark = new_emb.sparkSession
    if n_assign is None:
        # the index's own multi-assignment factor is authoritative
        # (review r5 pass 2: a module-default 2 against an n_assign=1
        # index double-assigned inserted vectors, breaking the
        # indexed-exactly-once invariant)
        n_assign = int(index.meta["n_assign"])
    assign = ivf_assign(new_emb, index.centroids, n_assign)
    cols = ["centroid_id", "vec_id", "embedding"]
    if "proj" in index.lists.columns:
        # match the persisted projection GEOMETRY — both the width
        # and the embedding dim the planes were generated for (code
        # review r5: re-deriving with the default dim against a
        # dim!=EMB_DIM index produced NULL projections that silently
        # never shortlisted). Meta is authoritative.
        proj_dim, dim = _index_geometry(index, None, None)
        assign = project_embeddings(assign, out_dim=proj_dim, dim=dim)
        cols.append("proj")
    (
        assign.select(*cols)
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{index.path}/lists")
    )
    return load_ivf_index(spark, index.path)


def ivfpq_index_insert(
    index: IvfPqIndex, new_emb: DataFrame, n_assign: int = N_ASSIGN
) -> IvfPqIndex:
    """Fold a batch of new vectors into the persisted IVF-PQ index
    WITHOUT a rebuild: assign against the frozen centroids (broadcast
    argmin), encode residuals against the frozen codebook (one Arrow
    pass), append to the partitioned lists. Cost is O(batch) — the
    existing lists are never read or rewritten; a batch touches only
    the cell directories it lands in. Quantizer drift under sustained
    ingest is handled the standard IVF way: rebuild the codebook
    periodically (build_ivfpq_index) and swap paths."""
    spark = new_emb.sparkSession
    assign = ivf_assign(new_emb, index.centroids, n_assign)
    res = _residuals(assign, index.centroids)
    (
        pq_encode(
            res,
            index.codebook,
            id_col="vec_id",
            vec_col="residual",
            passthrough=("centroid_id",),
        )
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{index.path}/lists")
    )
    return load_ivfpq_index(spark, index.path)
