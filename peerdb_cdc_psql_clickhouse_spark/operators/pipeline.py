"""Corpus-selection pipeline: the end-to-end composition a training-
data pipeline actually runs — quality gate + language agreement +
near-dup keep — declared as one query so the composed plan is
oracle-checked, not just the stages.

Plan shape: every row-local signal (token count, language detection)
is computed in ONE projection over ONE scan of documents — signals
are never joined back by doc_id, joins are reserved for the one stage
that genuinely needs a shuffle (the duplicate-cluster table). At
100 TB the row-local stage is a map-only pass over file splits; the
cluster join is keyed on doc_id and broadcastable whenever the
duplicate set is small relative to the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import declare
from ..session import hadoop_fs
from . import dedup as _dedup  # ensure registration + reuse
from . import text as _text

TOKENS_MIN = 30
TOKENS_MAX = 90


def _x7_ctes() -> str:
    """The x7 corpus-selection dataflow as CTEs ending in `x7sel`
    (shared by the x7 oracle and the composed x7b pipeline oracle)."""
    lang_sql = _text.LANG_ID_ORACLE
    return f"""{_dedup._closure_ctes()},
clusters AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id
  FROM lab GROUP BY node
), lang AS ({lang_sql}),
scored AS (
  SELECT d.doc_id,
         CAST(len(list_filter(string_split_regex(lower(d.text), '\\s+'),
                              t -> t <> '')) AS BIGINT) AS token_cnt,
         l.lang, l.detected_lang
  FROM documents d JOIN lang l USING (doc_id)
), x7sel AS (
  SELECT s.doc_id, s.token_cnt, s.detected_lang,
         (s.detected_lang = s.lang) AS lang_ok,
         (c.cluster_id IS NULL OR c.cluster_id = s.doc_id) AS dedup_keep,
         (s.token_cnt BETWEEN {TOKENS_MIN} AND {TOKENS_MAX}
          AND s.detected_lang = s.lang
          AND (c.cluster_id IS NULL OR c.cluster_id = s.doc_id)) AS selected
  FROM scored s LEFT JOIN clusters c USING (doc_id)
)"""


def _oracle() -> str:
    return f"""
WITH RECURSIVE {_x7_ctes()}
SELECT doc_id, token_cnt, detected_lang, lang_ok, dedup_keep, selected
FROM x7sel
"""


@declare(
    "x7_corpus_select",
    _oracle(),
    doc="brief/training-data pipeline: composed corpus selection — "
    f"token count in [{TOKENS_MIN},{TOKENS_MAX}], language detector "
    "agrees with the labeled lang, and the doc is its near-dup "
    "cluster's canonical member (or a singleton). Row-local signals "
    "fused into one scan projection; the only join is the cluster "
    "keep table (r14: the per-corpus PERSISTED dup_clusters_for "
    "table, parity-pinned — not a per-query label-prop re-run). "
    "Oracle composes the x3e lang CTE with the x1e recursive "
    "closure.",
)
def x7_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = _text.detect_language(docs, "text").select(
        "doc_id",
        "lang",
        "detected_lang",
        F.size(_text.tokens_col(F.col("text"))).cast("long").alias(
            "token_cnt"
        ),
    )
    # r14: join the per-corpus PERSISTED cluster table (the x1e
    # derivation, built once per corpus snapshot — see
    # dedup.dup_clusters_for) instead of re-running the iterative
    # label propagation inside every selection query
    clusters = _dedup.dup_clusters_for(spark, sf_dir)
    out = scored.join(clusters, "doc_id", "left")
    dedup_keep = F.col("cluster_id").isNull() | (
        F.col("cluster_id") == F.col("doc_id")
    )
    lang_ok = F.col("detected_lang") == F.col("lang")
    selected = (
        F.col("token_cnt").between(TOKENS_MIN, TOKENS_MAX)
        & lang_ok
        & dedup_keep
    )
    return out.select(
        "doc_id",
        "token_cnt",
        "detected_lang",
        lang_ok.alias("lang_ok"),
        dedup_keep.alias("dedup_keep"),
        selected.alias("selected"),
    )


def pack_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "token_cnt",
    budget: int = 2048,
    shards: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Sequence packing: assign docs to training-sequence bins so each
    bin's token total stays <= budget (docs larger than the budget get
    a bin of their own). Greedy packing is inherently sequential, so
    the distributed shape is shard-parallel: docs hash-shard by id,
    each shard packs ITS docs greedily inside one applyInPandas Arrow
    batch (the standard practice — each worker packs its partition),
    and bin ids are namespaced by shard so they never collide. One
    shuffle on the shard key; waste is bounded by the per-shard tail
    bin.

    Output: (id, token_cnt, bin_id); sum(token_cnt) per bin <= budget
    except single-doc oversize bins.

    portable=True shards by the md5-derived hash64 instead of
    xxhash64, so a SQL oracle (DuckDB) can reproduce the exact bin
    assignment — used by the declared x7b pipeline; xxhash64 stays
    the default (cheaper, JVM-side).
    """
    import pandas as pd

    from pyspark.sql import types as T

    if budget <= 0:
        raise ValueError("budget must be positive")
    n_shards = shards or docs.sparkSession.sparkContext.defaultParallelism
    # Output field types come from the input schema — a hardcoded
    # `long` would silently break string/decimal doc ids (ADVICE r2).
    in_fields = {f.name: f.dataType for f in docs.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(id_col, in_fields[id_col]),
            T.StructField(token_col, in_fields[token_col]),
            T.StructField("bin_id", T.LongType()),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        shard = int(pdf["_shard"].iloc[0])
        bins = []
        local_bin, acc, n_in_bin = 0, 0, 0
        for tok in pdf[token_col].astype("int64"):
            # occupancy (not acc>0) guards the split: zero-token docs
            # leave acc at 0 but must still force an over-budget
            # follower into its own bin (hypothesis-found edge)
            if n_in_bin > 0 and acc + tok > budget:
                local_bin += 1
                acc = 0
                n_in_bin = 0
            acc += int(tok)
            n_in_bin += 1
            bins.append(shard * (1 << 40) + local_bin)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].values,
                token_col: pdf[token_col].values,
                "bin_id": pd.Series(bins, dtype="int64").values,
            }
        )

    if portable:
        from ..functions.hashing import hash64

        shard_key = hash64(
            F.concat(F.lit("shard:"), F.col(id_col).cast("string"))
        ) % n_shards
    else:
        shard_key = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    sharded = docs.select(
        F.col(id_col), F.col(token_col), shard_key.alias("_shard")
    )
    return sharded.groupBy("_shard").applyInPandas(pack, out_schema)


def stratified_sample(
    docs: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    seed: int = 42,
    exact: bool = False,
    id_col: str | None = None,
    portable: bool = False,
) -> DataFrame:
    """Training-mix construction: per-stratum sampling (e.g. language
    or quality band -> target fraction). Strata absent from
    `fractions` are dropped — the dict IS the mix recipe.

    exact=False (default, the 100 TB path): `DataFrame.sampleBy` —
    a map-only Bernoulli filter per row, zero shuffle, fraction
    approached in expectation. exact=True: exact per-stratum counts
    via one window (rank by deterministic per-row hash within
    stratum, keep rank <= ceil(frac * stratum_count)) — one shuffle
    on the stratum key; use when the mix must be byte-reproducible
    and exact, e.g. eval holdouts.

    Byte-reproducibility caveat (ADVICE r2): the in-stratum order key
    is a hash, so ties must be broken deterministically. Pass a unique
    `id_col` and the order is total (hash, then id). Without `id_col`
    the hash covers every column, which is only a total order when
    input rows are DISTINCT — fully duplicate rows tie and the cutoff
    rank between them is partitioning-dependent.
    """
    if not all(0.0 <= f <= 1.0 for f in fractions.values()):
        raise ValueError("fractions must be within [0, 1]")
    if not exact:
        return docs.sampleBy(stratum_col, fractions, seed=seed)

    from pyspark.sql import Window

    frac_map = F.create_map(
        *[
            c
            for k, v in sorted(fractions.items())
            for c in (F.lit(k), F.lit(float(v)))
        ]
    )
    w = Window.partitionBy(stratum_col)
    # deterministic in-stratum order: seeded hash (never rand():
    # retries would resample). With a unique id_col the (hash, id)
    # pair is a total order; otherwise hash all columns (total only
    # for distinct rows — see docstring).
    if portable:
        # md5-derived hash so a DuckDB oracle reproduces the sample
        # bit-for-bit (registry determinism rules); requires id_col
        from ..functions.hashing import hash64

        if id_col is None:
            raise ValueError("portable sampling requires id_col")
        order_key = hash64(
            F.concat(F.lit(f"s{seed}:"), F.col(id_col).cast("string"))
        )
        ordering = [order_key.asc(), F.col(id_col).asc()]
    elif id_col is not None:
        order_key = F.xxhash64(F.lit(seed), F.col(id_col))
        ordering = [order_key.asc(), F.col(id_col).asc()]
    else:
        order_key = F.xxhash64(
            F.lit(seed), *[F.col(c) for c in docs.columns]
        )
        ordering = [order_key.asc()]
    ranked = docs.select(
        "*",
        F.row_number()
        .over(w.orderBy(*ordering))
        .alias("_rk"),
        F.count(F.lit(1)).over(w).alias("_n"),
        frac_map.getItem(F.col(stratum_col)).alias("_frac"),
    )
    return (
        ranked.filter(
            F.col("_frac").isNotNull()
            & (F.col("_rk") <= F.ceil(F.col("_n") * F.col("_frac")))
        )
        .drop("_rk", "_n", "_frac")
    )


# ---------------------------------------------------------------------------
# x7b: the FULL training-mix pipeline, declared — select (x7's quality
# + language + near-dup gate) -> exact stratified sample (the mix
# recipe over detected language) -> greedy sequence packing. Every
# stage uses the portable md5-derived hash so the DuckDB oracle
# replays the identical sample membership and bin assignment; the
# greedy packer is expressed in SQL as a per-shard recursive CTE
# walking rows in id order (one step per row — exactly the pandas
# loop's semantics).
# ---------------------------------------------------------------------------

X7B_MIX = {"en": 0.6, "fr": 0.5, "es": 0.4}  # de dropped: the recipe
X7B_SEED = 7
X7B_BUDGET = 256
X7B_SHARDS = 4
_BIN_STRIDE = 1 << 40


def _x7b_oracle() -> str:
    from ..functions.hashing import hash64_sql

    frac_case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(X7B_MIX.items())
    )
    order_h = hash64_sql(f"CONCAT('s{X7B_SEED}:', CAST(doc_id AS VARCHAR))")
    shard_h = hash64_sql("CONCAT('shard:', CAST(doc_id AS VARCHAR))")
    return f"""
WITH RECURSIVE {_x7_ctes()},
sampled AS (
  SELECT doc_id, token_cnt FROM (
    SELECT doc_id, token_cnt,
           ROW_NUMBER() OVER (
             PARTITION BY detected_lang
             ORDER BY {order_h}, doc_id) AS rk,
           COUNT(*) OVER (PARTITION BY detected_lang) AS n,
           CASE detected_lang {frac_case} END AS frac
    FROM x7sel WHERE selected)
  WHERE frac IS NOT NULL AND rk <= CEIL(n * frac)
),
ordered AS (
  SELECT doc_id, token_cnt,
         {shard_h} % {X7B_SHARDS} AS shard,
         ROW_NUMBER() OVER (
           PARTITION BY {shard_h} % {X7B_SHARDS}
           ORDER BY doc_id) AS rn
  FROM sampled
),
packed AS (
  SELECT shard, rn, doc_id, token_cnt,
         0 AS bin, token_cnt AS acc
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.token_cnt,
         CASE WHEN p.acc + o.token_cnt > {X7B_BUDGET}
              THEN p.bin + 1 ELSE p.bin END,
         CASE WHEN p.acc + o.token_cnt > {X7B_BUDGET}
              THEN o.token_cnt ELSE p.acc + o.token_cnt END
  FROM packed p
  JOIN ordered o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT doc_id, token_cnt,
       CAST(shard * {_BIN_STRIDE} + bin AS BIGINT) AS bin_id
FROM packed
"""


@declare(
    "x7b_training_mix",
    _x7b_oracle(),
    doc="brief/training-data pipeline COMPOSED end-to-end: x7 corpus "
    "selection -> exact stratified sample (mix recipe over detected "
    "language, portable md5 order hash) -> greedy sequence packing "
    "(hash-sharded, per-shard greedy in one Arrow batch). Oracle "
    "replays the packer as a per-shard recursive CTE — sample "
    "membership AND bin assignment are hash-exact, not just counts.",
)
def x7b_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sel = x7_corpus_select(spark, sf_dir).filter(F.col("selected"))
    sample = stratified_sample(
        sel,
        "detected_lang",
        X7B_MIX,
        seed=X7B_SEED,
        exact=True,
        id_col="doc_id",
        portable=True,
    ).select("doc_id", "token_cnt")
    return pack_documents(
        sample,
        id_col="doc_id",
        token_col="token_cnt",
        budget=X7B_BUDGET,
        shards=X7B_SHARDS,
        portable=True,
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle: the training-loader step after
# select/sample/pack — a reproducible global permutation of the
# corpus, parameterized by epoch. Order is the portable seeded hash
# (total: ties broken by the unique id), so the same (corpus, seed)
# yields the same sequence on any cluster, any partitioning, any
# engine — and a DuckDB oracle can replay it bit-for-bit.
#
# Scale shape: ONE range shuffle on the hash (the sort), then a
# map-only Arrow pass for local ranks; global positions come from a
# per-partition row-count offset table (#partitions rows — tiny)
# joined broadcast. No global window, no single-partition sort.
# ---------------------------------------------------------------------------


def shuffle_corpus(
    docs: DataFrame,
    seed: int = 0,
    id_col: str = "doc_id",
    partitions: int | None = None,
    assert_permutation: bool = False,
) -> DataFrame:
    """Input plus `shuffle_pos` — a contiguous 0-based global position
    under the seed's permutation; rows are range-partitioned and
    sorted so iterating partitions in order streams the corpus in
    shuffle order (what a training loader consumes). Epochs are
    seeds: shuffle_corpus(df, seed=epoch).

    Positions come from VALUE-based hash-range buckets (fixed stride
    over hash64's [0, 2^60) output), never from physical partition
    ids: the offsets subtree and the rank subtree must agree on which
    bucket every row is in, and `repartitionByRange`'s sampled bounds
    are job-dependent (its reservoir seed varies per job), which
    silently broke the permutation above ~sample-size rows — caught by
    review, regression-tested at 200k rows. Buckets are uniform
    (md5-derived key), so the rank window has no skew. The offsets
    subtree (per-bucket counts -> bounded cumsum window, <= partitions
    rows, broadcast back — in-plan since r18, no build-time collect)
    re-executes the upstream plan once; persist heavy upstreams first
    (plans.layout.reuse).

    id_col must be UNIQUE: it is the hash tiebreak, so duplicate ids
    make the order (and therefore positions between the duplicates)
    partitioning-dependent — the stratified_sample(exact=True) rule.

    assert_permutation=True runs a post-hoc invariant job (ADVICE r3:
    the offsets job and the rank job execute the upstream plan twice,
    so a NONDETERMINISTIC input — or one whose source files change
    between the jobs — silently breaks the permutation): asserts
    shuffle_pos is exactly 0..n-1 distinct. Opt-in because it is one
    extra pass; deterministic inputs don't need it."""
    from pyspark.sql import Window

    from ..functions.hashing import hash64

    reserved = {"_sk", "_bkt", "_lrk", "_off", "shuffle_pos"}
    clash = reserved & set(docs.columns)
    if clash:
        raise ValueError(f"column(s) {sorted(clash)} are reserved")

    key = hash64(
        F.concat(
            F.lit(f"shuf{seed}:"), F.col(id_col).cast("string")
        )
    )
    n_parts = partitions or int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    stride = max((1 << 60) // n_parts, 1)
    keyed = docs.withColumn("_sk", key).withColumn(
        "_bkt",
        F.least(
            F.floor(F.col("_sk") / F.lit(stride)), F.lit(n_parts - 1)
        ).cast("int"),
    )
    w = Window.partitionBy("_bkt").orderBy(
        F.col("_sk").asc(), F.col(id_col).asc()
    )
    ranked = keyed.withColumn("_lrk", F.row_number().over(w) - 1)
    # per-bucket counts -> cumulative offsets IN-PLAN (r18 opt): the
    # cumsum window runs over the POST-aggregation counts frame — one
    # row per non-empty bucket, <= n_parts rows total — the same
    # bounded single-partition step global_rank uses. The old
    # collect() + createDataFrame form ran a driver-blocking job at
    # plan-BUILD time; now the offsets subtree evaluates as a
    # broadcast input of the caller's own action. Same arithmetic,
    # same positions.
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = (
        keyed.groupBy("_bkt")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "_bkt",
            F.coalesce(F.sum("_n").over(w_off), F.lit(0))
            .cast("long")
            .alias("_off"),
        )
    )
    out = (
        ranked.join(F.broadcast(off), "_bkt")
        .withColumn("shuffle_pos", F.col("_off") + F.col("_lrk"))
        .drop("_sk", "_bkt", "_lrk", "_off")
        # physical layout for sequential loaders: partitions in index
        # order stream ascending shuffle_pos (bounds sampling only
        # places cuts — it cannot reorder an already-total order)
        .repartitionByRange(n_parts, F.col("shuffle_pos"))
        .sortWithinPartitions("shuffle_pos")
    )
    if assert_permutation:
        chk = out.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("shuffle_pos")).alias("d"),
            F.min("shuffle_pos").alias("lo"),
            F.max("shuffle_pos").alias("hi"),
        ).collect()[0]
        if chk.n and not (
            chk.n == chk.d and chk.lo == 0 and chk.hi == chk.n - 1
        ):
            raise AssertionError(
                "shuffle_pos is not a permutation of 0..n-1 "
                f"(n={chk.n}, distinct={chk.d}, range=[{chk.lo},{chk.hi}]); "
                "the input plan is nondeterministic between jobs — "
                "persist it (plans.layout.reuse) before shuffling"
            )
    return out


def shuffle_oracle(seed: int, id_col: str = "doc_id") -> str:
    """DuckDB replay of shuffle_corpus positions on the documents
    table (pytest parity — registry determinism rules)."""
    from ..functions.hashing import hash64_sql

    h = hash64_sql(f"CONCAT('shuf{seed}:', CAST({id_col} AS VARCHAR))")
    return f"""
SELECT {id_col},
       ROW_NUMBER() OVER (ORDER BY {h}, {id_col}) - 1 AS shuffle_pos
FROM documents
"""


def budget_sample(
    docs: DataFrame,
    stratum_col: str,
    budgets: dict[str, int],
    token_col: str = "token_cnt",
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget stratified selection — the mix recipe real
    training runs use: per stratum (domain/language/quality band),
    take documents in seeded-hash order until the stratum's TOKEN
    budget is reached (first doc to cross the line is included, so
    every non-empty stratum makes progress even when budget < its
    first doc). Strata absent from `budgets` are dropped.

    Deterministic and engine-portable: order is (md5 hash of
    seed||id, id) — a total order for unique ids — and the running
    sum is integer, so DuckDB replays membership bit-for-bit
    (tests/test_budget_sample.py). One shuffle keyed by the stratum;
    per-stratum running sums stream through the window frame.
    """
    from pyspark.sql import Window

    from ..functions.hashing import hash64

    # b == 0 would silently starve the stratum while the docstring
    # promises boundary-doc progress; dropping a stratum is spelled
    # "leave it out of the dict"
    if any(b <= 0 for b in budgets.values()):
        raise ValueError("budgets must be positive (omit a stratum to drop it)")
    budget_map = F.create_map(
        *[
            c
            for k, v in sorted(budgets.items())
            for c in (F.lit(k), F.lit(int(v)))
        ]
    )
    order_key = hash64(
        F.concat(F.lit(f"b{seed}:"), F.col(id_col).cast("string"))
    )
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(order_key.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = F.sum(F.col(token_col)).over(w)
    return (
        docs.withColumn(
            "_budget", F.element_at(budget_map, F.col(stratum_col))
        )
        .filter(F.col("_budget").isNotNull())
        .withColumn("_run", run)
        # include the boundary-crossing doc: everything BEFORE this row
        # fit the budget
        .filter(F.col("_run") - F.col(token_col) < F.col("_budget"))
        .drop("_budget", "_run")
    )


def budget_sample_oracle(
    budgets: dict[str, int],
    seed: int = 42,
    stratum_expr: str = "lang",
) -> str:
    """DuckDB replay over the documents table (token_cnt =
    whitespace token count, the x3b convention)."""
    from ..functions.hashing import hash64_sql

    h = hash64_sql(f"CONCAT('b{seed}:', CAST(doc_id AS VARCHAR))")
    cases = " ".join(
        f"WHEN '{k}' THEN {int(v)}" for k, v in sorted(budgets.items())
    )
    return f"""
WITH d AS (
  SELECT doc_id, {stratum_expr} AS stratum,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '')) AS token_cnt,
         CASE {stratum_expr} {cases} END AS budget,
         {h} AS hk
  FROM documents
), r AS (
  SELECT *, SUM(token_cnt) OVER (
    PARTITION BY stratum ORDER BY hk, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM d
)
SELECT doc_id, stratum, token_cnt FROM r
WHERE budget IS NOT NULL AND run - token_cnt < budget
"""


# ---------------------------------------------------------------------------
# clean_corpus — the full dedup-cleaning chain as ONE composition
# (the sequence real pretraining pipelines run, coarsest-to-finest:
# whole-document exact dedup -> repeated-line removal -> shared-
# substring removal). Each stage is the already-verified operator;
# this entry point wires them with the right sharing/persist points
# so users get the production shape, not a lineage bomb.
# ---------------------------------------------------------------------------


def _stage_complete(spark, path: str) -> bool:
    """A stage directory counts as done only with its _SUCCESS marker
    — a crash mid-write leaves no marker, so restart recomputes that
    stage instead of trusting partial files. Hadoop FS API, so the
    check works on any supported filesystem, not just local."""
    fs, p, _ = hadoop_fs(spark, f"{path}/_SUCCESS")
    return fs.exists(p)


_FP_FILE = "_FINGERPRINT"


def _read_fingerprint(spark, stage_path: str) -> str | None:
    fs, p, jvm = hadoop_fs(spark, f"{stage_path}/{_FP_FILE}")
    if not fs.exists(p):
        return None
    br = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(p))
    )
    try:
        return br.readLine()
    finally:
        br.close()


def _write_fingerprint(spark, stage_path: str, fp: str) -> None:
    fs, p, _ = hadoop_fs(spark, f"{stage_path}/{_FP_FILE}")
    out = fs.create(p, True)
    try:
        out.write(bytearray(fp.encode("ascii")))
    finally:
        out.close()


def _plan_fingerprint(df: DataFrame, extra: str = "") -> str:
    """Stable digest of (canonicalized analyzed plan, output schema,
    sorted input files[, extra caller params]).

    The CANONICALIZED plan (Catalyst's own `QueryPlan.canonicalized`)
    replaces the r5 regex normalization wholesale: r6 review showed
    any string-level rewrite of `#\\d+` must choose between erasing
    data literals shaped like `bug#123` (wrong-hit: two configs
    differing only in such a needle fingerprint identically) and
    missing non-word-anchored attribute ids like `count(1)#12L`
    (always-miss: session-specific ids survive, so the cross-session
    cache never matches). Canonicalization rewrites expression ids
    POSITIONALLY inside the plan tree — deterministic across
    sessions — while leaving every data literal byte-for-byte intact,
    and it normalizes higher-order-function lambda variables too (no
    session-global x_1/x_4 counter residue). Python UDFs canonicalize
    to their function NAME (no `at 0xADDR` repr), so same-named
    closures with different captured params are indistinguishable in
    the plan — callers must pass such params via `extra` (clean_corpus
    does for its own kwargs).

    Canonicalization erases output column NAMES, so the schema string
    re-adds them; the inputFiles list carries the INPUT IDENTITY, file
    by file — r5 review proved plan strings alone cannot (location is
    truncated at maxMetadataStringLength). inputFiles also catches
    files appended under an unchanged path; only data rewritten IN
    PLACE (same file names) remains undetected — the make-style
    contract; use fresh stage dirs for that."""
    import hashlib

    plan = df._jdf.queryExecution().analyzed().canonicalized().toString()
    payload = "\x00".join(
        [
            plan,
            df.schema.simpleString(),
            "\n".join(sorted(df.inputFiles())),
            extra,
        ]
    )
    return hashlib.md5(payload.encode()).hexdigest()


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact: bool = True,
    lines: bool = True,
    substrings: bool = True,
    line_min_count: int = 2,
    span_kwargs: dict | None = None,
    decontaminate=None,
    min_shared: int = 2,
    stage_dir: str | None = None,
) -> DataFrame:
    """Chained corpus cleaning: (id, text, removed_lines,
    removed_tokens) — exact-duplicate docs DROPPED (lowest-id copy
    survives), then duplicated lines cut (line_dedup_apply), then
    shared substrings cut (substring_spans + substring_dedup_apply),
    each stage operating on the previous stage's output. Disabled
    stages contribute zero-cost passthroughs (their count column still
    appears, as 0).

    Near-idempotent: every stage keeps exactly one canonical copy of
    whatever it dedups, so a second pass removes nothing
    (pytest-asserted) — except in the degenerate corner where
    cleaning EMPTIES two docs into identical residue (e.g. ""), which
    the second exact stage then collapses; filter empties between
    passes if re-running.

    Scale notes: stage order matters — exact dedup first shrinks the
    corpus for everything downstream at one cheap hash-shuffle; line
    dedup is two line-keyed shuffles; the substring stage is the
    expensive one and runs LAST on minimal data. The substring stage
    consumes its input twice (span mining + apply), so the line-stage
    output is shared via reuse() — at 100 TB pass a materialized
    frame or swap reuse for a checkpoint between stages.

    `decontaminate` drops benchmark-overlapping docs FIRST (on the
    original text, before any dedup work is spent on them): pass a
    benchmark DataFrame with a `text` column for the exact broadcast
    screen, or a text.BloomFilter for the fixed-size scale screen
    (one-sided error — only clean docs can be over-dropped, never a
    contaminated doc kept). `min_shared` is the screen's threshold.

    `stage_dir` makes the chain RESTARTABLE: each enabled stage's
    output is written to `stage_dir/<stage>/` and read back, so (a)
    downstream lineage starts from disk (the materialized-frame form
    the scale note above asks for — no stage is ever recomputed by a
    downstream branch), and (b) a re-run with the same stage_dir
    SKIPS every stage whose _SUCCESS marker exists, resuming after
    the last completed stage — kill the job mid-substring and only
    the substring stage re-runs. A stage that does re-run invalidates
    everything downstream of it (stale-cache guard, pytest-asserted).
    Each stage dir carries a _FINGERPRINT of the stage's logical plan
    (inputs + all parameters), so resuming with a different corpus or
    settings rebuilds instead of silently reusing stale output; the
    one blind spot is data rewritten IN PLACE behind an unchanged
    path — use fresh stage dirs for that.
    """
    from ..plans.layout import reuse
    from .dedup import (
        exact_dedup,
        line_dedup_apply,
        substring_dedup_apply,
        substring_spans,
    )

    spark = docs.sparkSession
    rebuilt = False  # once a stage re-runs, everything downstream must
    # explicit-params token for the fingerprint (r6 review): the
    # canonical plan carries every SQL-level parameter, but params
    # applied through Python closures (a BloomFilter's bits, a scoring
    # threshold inside a mapInPandas fn) canonicalize to just the
    # function name — hash them explicitly so two configs can never
    # alias.
    _deconta_token = ""
    if decontaminate is not None:
        from .text import BloomFilter as _BF

        if isinstance(decontaminate, _BF):
            import hashlib as _hl

            _deconta_token = "bloom:" + _hl.md5(
                repr(
                    (
                        decontaminate.m_bits,
                        decontaminate.k,
                        decontaminate.words,
                    )
                ).encode()
            ).hexdigest()
        else:
            # ADVICE r7: a benchmark frame built in memory
            # canonicalizes to a LocalRelation whose plan string
            # omits the ROW DATA — a plan-only token would let a
            # swapped benchmark set (same schema) resume with the
            # stale decontaminated stage. Purely file-backed frames
            # keep the cheap plan fingerprint (the input paths ARE in
            # the plan); any plan CONTAINING a LocalRelation leaf
            # (fully in-memory, inputFiles() empty — or MIXED, e.g. a
            # parquet benchmark unioned with an in-memory one, where
            # inputFiles() is non-empty yet the in-memory half is
            # still invisible to the plan string) additionally hashes
            # the collected rows — benchmark sets are small by the
            # contamination screen's own contract (they broadcast).
            try:
                _files = decontaminate.inputFiles()
            except Exception:  # noqa: BLE001 - treat as data-carrying
                _files = []
            _plan_str = (
                decontaminate._jdf.queryExecution()
                .analyzed()
                .toString()
            )
            # data-carrying leaves: createDataFrame renders as
            # LocalRelation (small literal) OR LogicalRDD/ExistingRDD
            # (Arrow path) — neither prints its row data
            _opaque = any(
                leaf in _plan_str
                for leaf in ("LocalRelation", "LogicalRDD", "ExistingRDD")
            )
            if _files and not _opaque:
                _deconta_token = "df:" + _plan_fingerprint(decontaminate)
            else:
                import hashlib as _hl

                _rows = sorted(
                    repr(tuple(r)) for r in decontaminate.collect()
                )
                _deconta_token = "dfrows:" + _hl.md5(
                    "\n".join(
                        [
                            _plan_fingerprint(decontaminate),
                            decontaminate.schema.simpleString(),
                            *_rows,
                        ]
                    ).encode()
                ).hexdigest()

    def staged(name, build, extra: str = ""):
        nonlocal rebuilt
        if stage_dir is None:
            return build()
        path = f"{stage_dir}/{name}"
        df = build()
        # resume key = _SUCCESS + a fingerprint of the stage's logical
        # plan (ADVICE r4: inputs and every SQL-level parameter that
        # changes the computation are IN the canonical plan as
        # literals, so re-running with a different corpus / min_count /
        # span_kwargs forces a rebuild instead of silently reusing
        # stale stage output). `extra` carries ONLY the params that
        # bypass the plan for THIS stage (closure/LocalRelation-level,
        # e.g. bloom bits) — r6 VERDICT: one global token on every
        # stage made a lines-only kwarg change invalidate the exact
        # stage too, defeating stage-granular reuse on restart.
        fp = _plan_fingerprint(df, extra=extra)
        if (
            rebuilt
            or not _stage_complete(spark, path)
            or _read_fingerprint(spark, path) != fp
        ):
            df.write.mode("overwrite").parquet(path)
            _write_fingerprint(spark, path, fp)
            rebuilt = True
        return spark.read.parquet(path)

    cur = docs.select(id_col, text_col)
    if decontaminate is not None:
        from .text import (
            BloomFilter,
            bloom_contamination_flags,
            contamination_flags,
        )

        if isinstance(decontaminate, BloomFilter):
            flags = bloom_contamination_flags(
                cur, decontaminate, id_col, text_col, min_shared=min_shared
            )
        else:
            flags = contamination_flags(
                cur, decontaminate, id_col, text_col, min_shared=min_shared
            )
        # the bloom words ride a 1-row LocalRelation (data absent from
        # the canonical plan string) and a reference-frame
        # decontaminate may too — so this stage, and only this stage,
        # hashes the screen's identity explicitly. min_shared rides
        # along for the closure-safety of either flags impl.
        cur = staged(
            "decontaminated",
            lambda cur=cur, flags=flags: cur.join(
                flags.filter(~F.col("contaminated")).select(id_col),
                id_col,
            ),
            extra=repr(("deconta", _deconta_token, min_shared)),
        )
    if exact:

        def _exact(cur=cur):
            keep = exact_dedup(cur, text_col, id_col).select(
                F.col("keep_id").alias(id_col)
            )
            return cur.join(keep, id_col)  # lowest-id copy survives

        cur = staged("exact", _exact)
    if lines:
        cur = staged(
            "lines",
            lambda cur=cur: line_dedup_apply(
                cur, id_col, text_col, min_count=line_min_count
            ),
        )
    else:
        cur = cur.withColumn("removed_lines", F.lit(0).cast("long"))
    if substrings:

        def _substrings(cur=cur):
            shared = cur if stage_dir is not None else reuse(cur)
            spans = substring_spans(
                shared, id_col, text_col, **(span_kwargs or {})
            )
            cut = substring_dedup_apply(shared, spans, id_col, text_col)
            return shared.drop(text_col).join(cut, id_col).select(
                id_col, text_col, "removed_lines", "removed_tokens"
            )

        # span_kwargs are SQL literals today, but hash them here as a
        # guard against future closure-level span params — a
        # span_kwargs change legitimately invalidates ONLY this stage.
        cur = staged(
            "substrings",
            _substrings,
            extra=repr(("spans", sorted((span_kwargs or {}).items()))),
        )
    else:
        cur = cur.withColumn("removed_tokens", F.lit(0).cast("long"))
    return cur


# ---------------------------------------------------------------------------
# Late-r4 declared promotions (slots freed by the d13-d15 merge): the
# two loader-side pipeline ops whose DuckDB replays were already
# bit-exact in pytest join the driver hash surface.
# ---------------------------------------------------------------------------

X7C_SEED = 3


@declare(
    "x7c_epoch_shuffle",
    shuffle_oracle(X7C_SEED),
    doc="O-X7/brief: reproducible epoch shuffle — every doc's global "
    "position under the seed's permutation (epoch = seed), the order "
    "a training loader consumes. Value-based hash-range buckets + "
    "per-bucket rank + tiny offset join: no global sort, no global "
    "window, partitioning-independent (the repartitionByRange trap is "
    "documented on shuffle_corpus). Promoted from pytest-only late r4.",
)
def x7c_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return shuffle_corpus(docs, seed=X7C_SEED).select(
        "doc_id", "shuffle_pos"
    )


X7D_BUDGETS = {"en": 1500, "de": 900, "es": 600, "zh": 400}
X7D_SEED = 7


@declare(
    "x7d_budget_sample",
    budget_sample_oracle(X7D_BUDGETS, seed=X7D_SEED),
    doc="O-X7/brief: token-budget stratified selection — the training "
    "mix recipe (per language, take docs in seeded-hash order until "
    "the stratum's token budget is crossed; fr intentionally absent "
    "from the budget map = dropped stratum). One stratum-keyed window "
    "shuffle; integer running sums make membership engine-exact. "
    "Promoted from pytest-only late r4.",
)
def x7d_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = _text.tokens_col(F.col("text"))
    staged = docs.select(
        "doc_id",
        F.col("lang").alias("stratum"),
        F.size(toks).cast("long").alias("token_cnt"),
    )
    return budget_sample(staged, "stratum", X7D_BUDGETS, seed=X7D_SEED)


def temperature_rates(
    counts: dict[str, int], temperature: float, total: int | None = None
) -> dict[str, float]:
    """Per-source keep-rates for temperature-flattened mixing (the
    multilingual-pretraining recipe, e.g. XLM-R: sample sources
    proportional to n^(1/T), public method). T=1 reproduces the
    natural mix (all rates 1 when total is the corpus size); larger T
    flattens toward uniform, downsampling the head. Rates are clipped
    to 1 — selection can only THIN a source; tail upsampling is the
    loader's epoch-repetition job, not the sampler's. `total` defaults
    to the corpus size (pure re-weighting); pass a smaller document
    budget to also downscale overall."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    n_all = sum(counts.values())
    if total is None:
        total = n_all
    weights = {s: n ** (1.0 / temperature) for s, n in counts.items()}
    z = sum(weights.values())
    return {
        s: min(1.0, total * weights[s] / z / counts[s])
        for s in counts
        if counts[s] > 0
    }


def temperature_sample(
    docs: DataFrame,
    source_col: str = "source",
    temperature: float = 2.0,
    total: int | None = None,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic temperature-flattened source mix: one tiny
    groupBy(source) count (collected — source cardinality is bounded
    by construction), rates from `temperature_rates` baked into a
    plan-literal map, and membership decided row-locally by portable
    seeded hash — keep iff md5-derived u(id) < rate. No shuffle
    beyond the counts agg; the selection pass is map-only and
    composes with the rest of the loader chain. DuckDB replays
    membership bit-for-bit (tests/test_temperature.py)."""
    from ..functions.hashing import hash64

    counts = {
        r[source_col]: r["n"]
        for r in docs.groupBy(source_col)
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rates = temperature_rates(counts, temperature, total)
    rate_map = F.create_map(
        *[
            c
            for k in sorted(rates)
            for c in (F.lit(k), F.lit(rates[k]))
        ]
    )
    # u in [0, 1): 60-bit portable hash scaled by 2^60 (same trick at
    # both engines; exact because 2^60 is a power of two)
    u = (
        hash64(
            F.concat(F.lit(f"t{seed}:"), F.col(id_col).cast("string"))
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    return docs.filter(
        u < F.element_at(rate_map, F.col(source_col))
    )


def temperature_oracle(
    counts: dict[str, int],
    temperature: float,
    total: int | None = None,
    seed: int = 42,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of temperature_sample membership on the
    documents table, given the same (pre-computed) counts."""
    from ..functions.hashing import hash64_sql

    rates = temperature_rates(counts, temperature, total)
    cases = " ".join(
        f"WHEN '{s}' THEN {r!r}" for s, r in sorted(rates.items())
    )
    h = hash64_sql(f"CONCAT('t{seed}:', CAST({id_col} AS VARCHAR))")
    return f"""
SELECT * FROM documents
WHERE CAST({h} AS DOUBLE) / {float(1 << 60)!r}
      < CASE {source_col} {cases} END
"""


def split_corpus(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test assignment: one `split` column
    from the portable seeded hash — u(id) in [0,1) lands in the
    cumulative-weight interval of its split. Map-only, reproducible
    across runs/engines/partitionings, and STABLE UNDER CORPUS
    GROWTH: a document's split depends only on (seed, id), so adding
    new documents never reassigns old ones (the property that keeps
    eval sets frozen across corpus refreshes — a fresh random split
    would leak yesterday's val docs into tomorrow's train set).
    Thresholds are embedded as literals on both engines, so DuckDB
    replays assignment bit-for-bit (tests/test_split.py)."""
    from ..functions.hashing import hash64

    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    u = (
        hash64(
            F.concat(F.lit(f"sp{seed}:"), F.col(id_col).cast("string"))
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return docs.withColumn("split", expr)


def split_oracle(
    weights: dict[str, float] | None = None,
    seed: int = 42,
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of split_corpus on the documents table — same
    literal thresholds, same hash, bit-identical assignment."""
    from ..functions.hashing import hash64_sql

    weights = weights or {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(weights.values())
    h = hash64_sql(f"CONCAT('sp{seed}:', CAST({id_col} AS VARCHAR))")
    u = f"(CAST({h} AS DOUBLE) / {float(1 << 60)!r})"
    names = list(weights)
    acc, whens = 0.0, []
    for name in names[:-1]:
        acc += weights[name] / total
        whens.append(f"WHEN {u} < {acc!r} THEN '{name}'")
    case = " ".join(whens)
    return f"""
SELECT *, CASE {case} ELSE '{names[-1]}' END AS split FROM documents
"""


def chunk_documents(
    docs: DataFrame,
    max_tokens: int = 128,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split long documents into overlapping token windows — the
    long-document complement of pack_documents: chunk c covers tokens
    [c*stride, c*stride + max_tokens). stride defaults to max_tokens
    (disjoint chunks); stride < max_tokens overlaps consecutive
    chunks by (max_tokens - stride) tokens, the standard long-context
    pretraining recipe. Row-local: tokenize once, posexplode the
    chunk starts, slice — zero shuffle, chunk text re-joined with
    single spaces (whitespace-normalized, like every token-level op
    here). Empty docs yield no chunks."""
    if stride is None:
        stride = max_tokens
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    from .text import tokens_col

    staged = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    ).filter(F.size("_toks") > 0)
    n_chunks = F.greatest(
        F.ceil(
            (F.size("_toks") - F.lit(max_tokens)).cast("double")
            / F.lit(stride)
        ).cast("long")
        + 1,
        F.lit(1).cast("long"),
    )
    return (
        staged.select(
            id_col,
            "_toks",
            F.posexplode(
                F.sequence(F.lit(0), (n_chunks - 1).cast("int"))
            ).alias("chunk_id", "_c"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(
                "_toks", F.col("_c") * stride + 1, max_tokens
            ).alias("_chunk"),
        )
        .select(
            id_col,
            "chunk_id",
            F.concat_ws(" ", "_chunk").alias("chunk_text"),
            F.size("_chunk").cast("long").alias("n_tokens"),
        )
    )


def chunk_oracle(
    max_tokens: int = 128,
    stride: int | None = None,
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of chunk_documents over documents."""
    if stride is None:
        stride = max_tokens
    return f"""
WITH toks AS (
  SELECT {id_col},
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tk
  FROM documents
), nz AS (
  SELECT {id_col}, tk,
         GREATEST(CAST(CEIL((len(tk) - {max_tokens}) /
                            CAST({stride} AS DOUBLE)) AS BIGINT) + 1,
                  1) AS nc
  FROM toks WHERE len(tk) > 0
)
SELECT {id_col},
       CAST(c AS BIGINT) AS chunk_id,
       array_to_string(tk[c * {stride} + 1 : c * {stride} + {max_tokens}],
                       ' ') AS chunk_text,
       CAST(len(tk[c * {stride} + 1 : c * {stride} + {max_tokens}])
            AS BIGINT) AS n_tokens
FROM nz, UNNEST(generate_series(0, nc - 1)) AS t(c)
"""
