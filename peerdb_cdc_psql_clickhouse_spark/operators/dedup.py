"""Deduplication operators for training-data pipelines (O-X1 + brief:
exact, MinHash+LSH, SimHash, n-gram Jaccard).

Scale design:
- exact dedup = hash-groupBy on a content digest: one shuffle keyed by
  a uniform 256-bit hash — no skew by construction;
- near-dup never compares all pairs: LSH banding turns O(n^2) into a
  self-join on band buckets (candidate pairs only), which Spark executes
  as a shuffle join on the band key. At 100 TB the band key is uniform
  enough that AQE skew-split covers pathological buckets.
- all hashes are md5-derived (functions.hashing) so the DuckDB oracle
  reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact_slot
from ..catalog import corpus_cache_key, load_table
from ..functions.hashing import content_sha256, hash64, hash64_sql
from ..registry import declare

# ---------------------------------------------------------------------------
# O-X1 exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per identical content (hash-groupBy)."""
    return (
        df.withColumn("content_hash", content_sha256(F.col(content_col)))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


@declare(
    "x1_exact_dedup",
    """
SELECT sha256(text) AS content_hash,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS dup_cnt
FROM documents GROUP BY content_hash
""",
    doc="O-X1 exact dedup by content hash: sha256 group, keep min id. "
    "Single shuffle on a uniform key",
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
#
# shingles: w-word shingles from whitespace tokens;
# signature: K independent min-hashes h_k(s) = hash64(k || ':' || s);
# bands: B bands of R rows (K = B*R); candidate pair = same value in
# any band; estimated Jaccard = fraction of equal signature slots.
# ---------------------------------------------------------------------------

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # MINHASH_K / LSH_BANDS
SHINGLE_W = 5


def _tokens(text: F.Column) -> F.Column:
    """Whitespace tokens with empties removed (stage me as a column
    before passing to _shingles_of)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def _shingles_of(toks: F.Column, w: int = SHINGLE_W) -> F.Column:
    """w-word shingles as an array<string> (empty-safe). `toks` MUST
    be a STAGED column reference, not an inline expression: it is
    referenced inside the transform lambda, and a non-trivial captured
    expression there re-evaluates once per shingle position — the
    measured-64x re-tokenization trap (NOTES_r1).

    Per-position form is concat_ws over w direct element accesses
    (r18 opt): array_join(slice(...)) allocated a w-element array per
    shingle position; F.get is O(1), NULL past the end (ANSI-safe),
    and concat_ws SKIPS nulls — so short docs still produce the same
    clipped shingle as slice's truncation (parity A/B: 0 differing
    rows corpus-wide)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - w + 1, F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(toks, i + j - 1) for j in range(w)]
        ),
    )


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, k: int = MINHASH_K
) -> DataFrame:
    """(id, sig_0..sig_{k-1}) — one row per doc, signature as columns.

    Fully row-local: shingle array → one md5 per shingle → k hash
    functions by double hashing (h_i = a + i*b,
    functions.hashing.hash_pair) → array_min per function. ZERO
    shuffle and zero row expansion — at 100 TB the signature stage is
    a map-only pass that scales with input splits; the only shuffle in
    the whole dedup is the LSH band self-join.
    """
    from ..functions.hashing import HASH_PAIR_LIM
    from ..plans.layout import fan_out

    def _half(m: F.Column, start: int) -> F.Column:
        return (
            F.conv(F.substring(m, start, 15), 16, 10).cast("long")
            % HASH_PAIR_LIM
        )

    sh = (
        fan_out(df)
        .select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), _shingles_of(F.col("_toks")).alias("_sh"))
    )
    # one md5 per shingle, shared by all k functions
    withm = sh.select(
        F.col(id_col),
        F.transform(F.col("_sh"), lambda s: F.md5(s)).alias("_m"),
    )
    pairs = withm.select(
        F.col(id_col),
        F.transform(F.col("_m"), lambda m: _half(m, 1)).alias("_ha"),
        F.transform(F.col("_m"), lambda m: _half(m, 17)).alias("_hb"),
    )
    # one parsed SQL expression per hash function (r16): the Column-
    # API form crossed py4j ~8x per function — k x 8 driver calls per
    # signature build; the parsed plan is identical long arithmetic,
    # so signatures are bit-identical
    sigs = [
        F.expr(
            f"array_min(zip_with(_ha, _hb, (a, b) -> a + {i}L * b))"
        ).alias(f"sig_{i}")
        for i in range(k)
    ]
    return pairs.select(F.col(id_col), *sigs)


def band_keys(
    sig: DataFrame,
    id_col: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """(id, band_idx, band_key) — the exploded LSH banding of a
    signature frame. Row-local (streaming-safe); shared by the batch
    self-join and the stream-vs-history screen.

    Assembled as parsed SQL (r19): the Column-API form issued ~6 py4j
    calls per band column plus three chained selects (~0.23 s of
    driver time per x1b build); inline(array(struct...)) yields the
    same (id, band_idx, band_key) rows as explode-then-project."""
    if "`" in id_col:
        raise ValueError(f"id_col may not contain a backtick: {id_col!r}")
    rows = k // bands
    band_cols = [
        "concat_ws('_', "
        + ", ".join(
            f"cast(sig_{b * rows + r} as string)" for r in range(rows)
        )
        + f") AS band_{b}"
        for b in range(bands)
    ]
    band_arr = (
        "array("
        + ", ".join(
            f"struct({b} as band_idx, band_{b} as band_key)"
            for b in range(bands)
        )
        + ")"
    )
    return sig.selectExpr(f"`{id_col}`", *band_cols).selectExpr(
        f"`{id_col}`", f"inline({band_arr})"
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Self-join on band keys -> candidate pairs (id_a < id_b) with
    estimated Jaccard = matching signature slots / k.

    Shuffle-width discipline (VERDICT r1 #8): the band self-join
    carries only (id, band_idx, band_key) — NOT the k signature
    columns. The exploded band relation is `bands`x the corpus row
    count, so every extra column rides the shuffle `bands` times per
    side; signatures re-attach to the (much smaller, deduplicated)
    pair set afterwards via two keyed joins against the un-exploded
    signature frame. Callers that persist `sig` (x1b does, via
    reuse()) pay no recompute for the re-attach."""
    if "`" in id_col:
        raise ValueError(f"id_col may not contain a backtick: {id_col!r}")
    keyed = band_keys(sig, id_col, k, bands)
    a = keyed.selectExpr(f"`{id_col}` AS id_a", "band_idx", "band_key")
    b = keyed.selectExpr(f"`{id_col}` AS id_b", "band_idx", "band_key")
    pairs = (
        a.join(b, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # k-column renames and the match count as parsed SQL (r19): the
    # Column-API form crossed py4j ~3x per signature column on each
    # side plus k CASE WHEN constructions (~0.6 s of driver time per
    # x1b build); values are identical long/int arithmetic.
    sig_a = sig.selectExpr(
        f"`{id_col}` AS id_a",
        *[f"sig_{i} AS a_sig_{i}" for i in range(k)],
    )
    sig_b = sig.selectExpr(
        f"`{id_col}` AS id_b",
        *[f"sig_{i} AS b_sig_{i}" for i in range(k)],
    )
    enriched = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    from ..functions.numeric import fround

    matches = F.expr(
        " + ".join(
            f"(CASE WHEN a_sig_{i} = b_sig_{i} THEN 1 ELSE 0 END)"
            for i in range(k)
        )
    )
    return enriched.select(
        "id_a",
        "id_b",
        fround(matches / F.lit(float(k)), 4).alias("est_jaccard"),
    )


def stream_neardup_candidates(
    doc_stream: DataFrame,
    history_sig: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
) -> DataFrame:
    """Incremental-ingestion near-dup screen: flag arriving documents
    whose LSH band collides with the HISTORICAL corpus — the streaming
    face of x1b for continuously-ingested training data.

    doc_stream: streaming (id, text); history_sig: the static
    signature table (minhash_signature output — at 100 TB the
    materialized table reuse() writes). Signature + banding on the
    stream are row-local (map-only on the stream side); the only join
    is the stream-static equi-join on (band_idx, band_key), which
    Spark plans as a per-micro-batch join against the static side —
    no stream state. Output: (id, band collisions with hist_id,
    est_jaccard) in append mode; one (doc, hist) pair may surface once
    per shared band — dedupe downstream per micro-batch if exactness
    matters (collisions are candidates, not verdicts).
    """
    sig_s = minhash_signature(doc_stream, id_col, text_col, k)
    # stream side carries its signature columns THROUGH the band
    # explode: re-joining them (as the batch self-join does) would make
    # this a stream-stream self-join — stateful, unbounded. Arriving
    # micro-batches are small, so the x`bands` fan-out of k longs is
    # cheap; the big (history) side stays narrow + static.
    rows = k // bands
    sig_cols = [F.col(f"sig_{i}") for i in range(k)]
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"sig_{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    bands_s = sig_s.select(
        F.col(id_col).alias("stream_id"),
        *[c.alias(f"a_sig_{i}") for i, c in enumerate(sig_cols)],
        F.explode(band_structs).alias("bk"),
    ).select(
        "stream_id",
        *[f"a_sig_{i}" for i in range(k)],
        F.col("bk.band_idx").alias("band_idx"),
        F.col("bk.band_key").alias("band_key"),
    )
    bands_h = band_keys(history_sig, id_col, k, bands).withColumnRenamed(
        id_col, "hist_id"
    )
    sig_h = history_sig.select(
        F.col(id_col).alias("hist_id"),
        *[F.col(f"sig_{i}").alias(f"b_sig_{i}") for i in range(k)],
    )
    hist = bands_h.join(sig_h, "hist_id")  # static side, precomputable
    matches = F.expr(
        " + ".join(
            f"(CASE WHEN a_sig_{i} = b_sig_{i} THEN 1 ELSE 0 END)"
            for i in range(k)
        )
    )
    from ..functions.numeric import fround

    return bands_s.join(hist, ["band_idx", "band_key"]).select(
        F.col("stream_id").alias(id_col),
        "hist_id",
        fround(matches / F.lit(float(k)), 4).alias("est_jaccard"),
    )


def _minhash_oracle_sql(k: int = MINHASH_K, bands: int = LSH_BANDS, w: int = SHINGLE_W) -> str:
    from ..functions.hashing import hash_pair_sql

    rows = k // bands
    ha, hb = hash_pair_sql("shingle")
    sig_aggs = ",\n         ".join(
        f"MIN(ha + {i} * hb) AS sig_{i}" for i in range(k)
    )
    band_keys = ",\n         ".join(
        "CONCAT_WS('_', "
        + ", ".join(f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows))
        + f") AS band_{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, band_{b} AS band_key, "
        + ", ".join(f"sig_{i}" for i in range(k))
        + " FROM banded"
        for b in range(bands)
    )
    matches = " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tokens
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(tokens) - {w} + 1, 1)),
           i -> array_to_string(tokens[i:i+{w - 1}], ' '))) AS shingle
  FROM toks
), hashed AS (
  SELECT doc_id, {ha} AS ha, {hb} AS hb FROM sh
), sig AS (
  SELECT doc_id,
         {sig_aggs}
  FROM hashed GROUP BY doc_id
), banded AS (
  SELECT *,
         {band_keys}
  FROM sig
), keyed AS (
  {band_union}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         {matches} AS n_match
  FROM keyed a JOIN keyed b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       FLOOR((CAST(n_match AS BIGINT) / {float(k)}) * 10000.0 + 0.5) / 10000.0
       AS est_jaccard
FROM pairs
"""


@declare(
    "x1b_minhash_lsh",
    _minhash_oracle_sql(),
    doc="O-X1 MinHash+LSH near-dup: 5-word shingles, 16 md5-derived "
    "min-hashes, 4x4 banding, candidate pairs via band self-join. "
    "No O(n^2): the only join is on band keys",
)
def x1b_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.layout import reuse

    docs = load_table(spark, sf_dir, "documents")
    # reuse(): both sides of the band self-join read the signature
    # once instead of recomputing the shingle+hash subtree twice
    sig = reuse(minhash_signature(docs, "doc_id", "text"))
    return lsh_candidate_pairs(sig, "doc_id").select(
        F.col("id_a"), F.col("id_b"), F.col("est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash: 64-bit signature; per-token hash votes per bit position,
# signature bit = majority. Near-dups = small Hamming distance.
# SQL-oracle-able because hash64 is portable.
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16  # 16 bits keeps the oracle SQL tractable; API allows 64


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) — weighted-bit-vote signature over whitespace
    tokens. Row-local: token array → one hash64 per token → per-bit
    vote sums via array folds. Zero shuffle, zero row expansion — a
    map-only pass at any scale (same rewrite as minhash_signature)."""
    from ..plans.layout import fan_out

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    # size>0 filter keeps oracle semantics: the unnest+groupBy form
    # drops token-less docs entirely
    hashed = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.transform(toks, lambda t: hash64(t)).alias("_h"),
        )
        .filter(F.size("_h") > 0)
    )
    # parsed SQL per bit (r16, same py4j-call cut as minhash sigs):
    # identical int vote arithmetic, bit-identical signatures
    votes = [
        F.expr(
            "aggregate(_h, 0, (acc, h) -> acc + "
            f"(CASE WHEN (shiftright(h, {i}) & 1) = 1 "
            "THEN 1 ELSE -1 END))"
        ).alias(f"v_{i}")
        for i in range(bits)
    ]
    agg = hashed.select(F.col(id_col), *votes)
    sig = sum(
        F.when(F.col(f"v_{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        for i in range(bits)
    )
    return agg.select(F.col(id_col), sig.cast("long").alias("simhash"))


def _simhash_oracle_sql(bits: int = SIMHASH_BITS) -> str:
    h = hash64_sql("token")
    votes = ",\n         ".join(
        f"SUM(CASE WHEN ({h} >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v_{i} > 0 THEN {2**i} ELSE 0 END" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents
), votes AS (
  SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
"""


@declare(
    "x1c_simhash",
    _simhash_oracle_sql(),
    doc="O-X1 SimHash document signatures: per-token md5-derived hash, "
    "majority vote per bit. One shuffle (groupBy doc)",
)
def x1c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(load_table(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup: Jaccard over each document's DISTINCT word
# 3-grams, restricted to grams with document frequency <= GRAM_DF_CAP
# (rare-gram Jaccard). The cap is the skew guard AND the semantics:
# a ubiquitous gram produces df^2 candidate rows at scale while
# carrying zero near-dup signal — an idf-style cutoff, applied to
# numerator and denominator alike so the measure stays a true Jaccard
# (of capped gram sets). Shared-gram counts come from per-gram
# inverted lists (one groupBy shuffle + row-local pair combos), never
# a string-keyed self-join.
# ---------------------------------------------------------------------------

NGRAM_N = 3
JACCARD_THRESHOLD = 0.8
# max docs a gram may appear in and still participate; at 100 TB tune
# so df_cap^2 stays a sane per-gram pair fan-out
GRAM_DF_CAP = 1000


@declare(
    "x1d_ngram_jaccard",
    f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tokens
  FROM documents
), inv AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(tokens) - {NGRAM_N} + 1, 1)),
           i -> array_to_string(tokens[i:i+{NGRAM_N - 1}], ' ')))) AS gram
  FROM toks
), rare AS (
  SELECT doc_id, gram FROM inv
  QUALIFY COUNT(*) OVER (PARTITION BY gram) <= {GRAM_DF_CAP}
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM rare GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
  FROM rare a JOIN rare b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       FLOOR((CAST(n_common AS DOUBLE) /
              (sa.n_grams + sb.n_grams - n_common)) * 10000.0 + 0.5)
         / 10000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_grams + sb.n_grams - n_common)
      >= {JACCARD_THRESHOLD}
""",
    doc="O-X1 n-gram Jaccard near-dup over df-capped distinct 3-grams "
    "(idf-style skew guard); shared counts via per-gram inverted "
    "lists + pair combos, threshold 0.8",
)
def x1d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.numeric import fround
    from ..plans.layout import fan_out, reuse

    docs = load_table(spark, sf_dir, "documents")
    inv = (
        fan_out(docs)
        .select("doc_id", _tokens(F.col("text")).alias("_toks"))
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(_shingles_of(F.col("_toks"), NGRAM_N))
            ).alias("gram"),
        )
    )
    # per-gram inverted lists: ONE shuffle keyed by gram; the df cap
    # bounds each list, so pair generation is a row-local combo explode.
    # collect_list, NOT collect_set (r18 opt, A/B-measured -0.6 s):
    # (gram, doc_id) pairs are already UNIQUE here — inv explodes
    # array_distinct'd per-doc grams — so the set semantics bought
    # nothing and ObjectHashAggregate's per-group hash sets cost ~60%
    # over plain list append; every consumer is order-insensitive
    # (size filter, explode+count, array_sort before combos).
    lists = reuse(
        inv.groupBy("gram")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= GRAM_DF_CAP)
    )
    sizes = (
        lists.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )
    # STAGE the sorted list as a real column before the combo lambdas:
    # referencing array_sort(ids) inside transform() would re-sort the
    # list once per element (the measured 64x x3f lesson)
    sids = F.col("_sids")
    combos = F.flatten(
        F.transform(
            sids,
            lambda x, i: F.transform(
                F.slice(sids, i + 2, F.size(sids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    inter = (
        lists.filter(F.size("ids") >= 2)
        .select(F.array_sort("ids").alias("_sids"))
        .select(F.explode(combos).alias("p"))
        .groupBy(
            F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("id_a"), F.col("n_grams").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("id_b"), F.col("n_grams").alias("nb")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_common")
    )
    # shuffle_hash, never broadcast (r18, found by the 50x extended
    # leg): `sizes` is O(corpus) — one row per doc — and at 50x its
    # ~60 MB serialized estimate slid just under the 64 MB broadcast
    # threshold, OOMing the driver-side build (the same boundary
    # SCALE.md documents for substring_spans at 100x). A corpus-sized
    # side must never ride a size estimate into a broadcast; after
    # the shuffle each partition's hash build is n_docs/partitions,
    # bounded at any scale.
    return (
        inter.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", fround(jac, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# O-X1e duplicate clustering: near-dup pairs are only half a dedup
# pipeline — to drop duplicates you need the transitive closure
# (connected components) and one canonical doc per component.
# ---------------------------------------------------------------------------

WINNOW_MAX_DF = 20   # drop fingerprints shared by more docs (stopword-y)
WINNOW_MIN_SHARED = 2  # docs sharing >= this many fingerprints are dups
CLUSTER_MAX_ITERS = 20  # label propagation rounds (>= graph diameter)
# r18 (VERDICT r17 #2): propagation still changing after this many
# rounds means a component's diameter exceeds the near-dup regime
# (boilerplate-heavy crawls grow giant components) — auto-dispatch to
# the O(log^2 n) large-star/small-star variant instead of burning
# diameter-many rounds or, worse, returning cap-truncated labels.
STAR_DISPATCH_ROUNDS = 6


def winnow_edges(
    fp: DataFrame,
    max_df: int = WINNOW_MAX_DF,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """(src, dst) doc pairs sharing >= min_shared winnowing
    fingerprints, src < dst. Per-fingerprint inverted lists (the x1d
    pattern, r19 opt, guide §2.3/§2.4): ONE shuffle keyed by the
    fingerprint builds the df-capped lists, pair generation is a
    row-local combo explode — where the old shape paid a df-cap agg,
    a filtering join AND a fingerprint-keyed self-join (plus a
    persist of fp to feed all three). Exact-equivalence precondition:
    (fingerprint, doc_id) rows are UNIQUE — winnow_fp explodes
    array_distinct'd per-doc minima (pinned by
    test_winnow_fp_doc_pairs_unique) — so list length == df and the
    sorted i<j combos are exactly the self-join's src < dst rows,
    each once per shared fingerprint; the per-pair count is
    identical. collect_list, not collect_set, for the same uniqueness
    reason as x1d (r18 A/B: set semantics cost ~60% for nothing)."""
    lists = (
        fp.groupBy("fingerprint")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") <= max_df)
    )
    # STAGE the sorted list as a real column before the combo lambdas
    # (the measured 64x x3f lesson: inlining array_sort(ids) inside
    # transform() re-sorts the list once per element)
    sids = F.col("_sids")
    combos = F.flatten(
        F.transform(
            sids,
            lambda x, i: F.transform(
                F.slice(sids, i + 2, F.size(sids)),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    return (
        lists.filter(F.size("ids") >= 2)
        .select(F.array_sort("ids").alias("_sids"))
        .select(F.explode(combos).alias("p"))
        .groupBy(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_shared)
        .select("src", "dst")
    )


def dup_clusters(
    edges: DataFrame,
    max_iters: int = CLUSTER_MAX_ITERS,
    star_after: int | None = STAR_DISPATCH_ROUNDS,
) -> DataFrame:
    """Connected components by min-label propagation: (doc_id,
    cluster_id) where cluster_id = min doc_id in the component.

    Each round is one distributed join + min-agg; the driver loop only
    checks a changed-count scalar (no data collected) and stops at
    fixpoint — iterations = graph diameter, which for near-dup
    clusters is small. localCheckpoint() truncates lineage each round
    so plans don't grow.

    Giant-component auto-dispatch (r18, VERDICT r17 #2): if labels are
    still moving after `star_after` rounds, a component's diameter has
    outgrown the near-dup regime, and the loop hands the ORIGINAL edge
    set to the O(log^2 n) large-star/small-star variant
    (dup_clusters_star) — same contract, same fixpoint labels
    (equivalence pinned by tests/test_clusters.py), so the switch is
    invisible to consumers' hashes. The dispatch only fires strictly
    inside the caller's round budget (star_after < max_iters): a small
    explicit max_iters keeps the documented cap-truncation semantics
    (test_iteration_cap_respected). star_after=None disables dispatch
    (pure propagation, used by the equivalence tests themselves).
    """
    # materialize edges BEFORE the symmetric union — union reads its
    # input twice, which would re-run the whole edge derivation
    edges = edges.localCheckpoint()
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # lazy checkpoint (r18 opt, guide §1/§5): the label frame is tiny
    # (one row per node) — marking it for checkpoint and letting round
    # 1's count job materialize it saves one driver-blocking job; the
    # lineage cut is identical once materialized.
    lbl = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for i in range(max_iters):
        neigh = (
            sym.join(lbl, sym.dst == lbl.node)
            .groupBy("src")
            .agg(F.min("lbl").alias("nlbl"))
        )
        new = (
            lbl.join(neigh, lbl.node == neigh.src, "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))
                ).alias("lbl"),
                (F.col("nlbl") < F.col("lbl")).alias("_chg"),
            )
        )
        # lazy: the changed-count action below materializes the
        # checkpoint in the SAME job that computes the round (one job
        # per round instead of eager-checkpoint + count = two)
        new = new.localCheckpoint(eager=False)
        changed = new.filter(F.col("_chg")).count()
        lbl = new.drop("_chg")
        if changed == 0:
            break
        if star_after is not None and star_after <= i + 1 < max_iters:
            # diameter outgrew the dispatch bound: finish with the
            # star variant on the (already-checkpointed) edges
            return dup_clusters_star(edges, max_iters)
    return lbl.select(F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id"))


def _star_labels(edges: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star / small-star rounds (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC'14 — public
    algorithm) until the edge set is stable; returns (node, lbl) with
    lbl = component-min node id.

    Round count is O(log^2 n) regardless of component DIAMETER — the
    giant-component regime where plain min-label propagation
    (diameter-bounded) degrades. Every step is a keyed groupBy +
    equi-join; no all-pairs anywhere.
    """

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
        m = F.least(F.col("src"), F.col("_mn"))
        # connect every strictly-larger neighbor to min(N(u) ∪ {u})
        return (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient u >= v, then connect every smaller neighbor (and u)
        # to min(N(u) ∪ {u})
        oriented = e.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        ).filter(F.col("src") != F.col("dst"))
        mins = oriented.groupBy("src").agg(F.min("dst").alias("_mn"))
        moved = oriented.join(mins, "src").select(
            F.col("dst").alias("src"), F.col("_mn").alias("dst")
        )
        self_link = mins.select("src", F.col("_mn").alias("dst"))
        return (
            moved.union(self_link)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    cur = edges.localCheckpoint()  # materialize edge derivation once
    # lazy: nodes is only consumed by the final roots anti-join, and
    # its input is the already-materialized edges checkpoint — no
    # reason to run a dedicated job up front (r18 opt)
    nodes = (
        cur.select(F.col("src").alias("node"))
        .union(cur.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iters):
        # lazy checkpoint: the count() below materializes it in the
        # same job that computes the round (r18 opt, one job saved
        # per star round)
        nxt = small_star(large_star(cur)).localCheckpoint(eager=False)
        # set equality of deduped edge lists: same count + empty diff
        if nxt.count() == cur.count() and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            break
        cur = nxt
    # converged: every non-root points directly at its component min
    non_roots = cur.groupBy("src").agg(F.min("dst").alias("lbl"))
    roots = nodes.join(
        non_roots, nodes.node == non_roots.src, "left_anti"
    ).select("node", F.col("node").alias("lbl"))
    return non_roots.select(
        F.col("src").alias("node"), "lbl"
    ).unionByName(roots)


# bump when the persisted cluster-table semantics change in a way the
# key's explicit parameters don't capture (the dup_clusters label
# contract); every label-shaping PARAMETER — WINNOW_MAX_DF /
# WINNOW_MIN_SHARED / WINNOW_W / WINNOW_SHINGLE_K / CLUSTER_MAX_ITERS
# (the iteration cap shapes labels too, as test_iteration_cap_respected
# proves) — rides the key itself, so changing any of them rebuilds
# without a manual version bump
_DUP_CLUSTERS_FORMAT = 1


def dup_clusters_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-corpus PERSISTED duplicate-cluster table (doc_id,
    cluster_id) for sf_dir's documents — the exact x1e derivation
    (winnow_fp -> df-capped winnow_edges -> min-label dup_clusters),
    built once per corpus snapshot and reused by every consumer
    (x1f_dedup_apply, x7_corpus_select, x7b_training_mix join against
    it instead of re-running the iterative label propagation per
    execution). At 100 TB, near-dup clustering is a preprocessing
    pass over the corpus, not per-query work. The artifact slot is
    keyed by corpus path+mtime plus the edge parameters, so
    regenerated testdata or a parameter change can never serve a
    stale table. The derivation is deterministic (portable hashes;
    min-label fixpoint is order-insensitive) — x1e hash-matches the
    recursive-SQL oracle on the SAME derivation, and a slot-vs-fresh
    parity pytest pins the persisted copy — so consumers' oracle
    hashes cannot move. x1e itself stays live: it IS the declared
    cluster-construction operator."""
    import os as _os

    from .text import WINNOW_SHINGLE_K, WINNOW_W, winnow_fp

    def _build(build: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        (
            dup_clusters(winnow_edges(winnow_fp(docs)))
            .write.mode("overwrite")
            .parquet(_os.path.join(build, "data"))
        )

    key = corpus_cache_key(sf_dir, "documents.parquet")
    path = artifact_slot(
        "dupclusters",
        f"cfmt{_DUP_CLUSTERS_FORMAT}|df{WINNOW_MAX_DF}"
        f"|ms{WINNOW_MIN_SHARED}|w{WINNOW_W}|k{WINNOW_SHINGLE_K}"
        f"|it{CLUSTER_MAX_ITERS}|sa{STAR_DISPATCH_ROUNDS}|{key}",
        _build,
    )
    return spark.read.parquet(_os.path.join(path, "data"))


def dup_clusters_star(
    edges: DataFrame, max_iters: int = CLUSTER_MAX_ITERS
) -> DataFrame:
    """dup_clusters with large-star/small-star rounds instead of
    min-label propagation: same contract ((doc_id, cluster_id),
    cluster_id = component-min doc_id, nodes = endpoints of `edges`),
    but round count bounded by O(log^2 n) instead of component
    diameter — use for corpora where a giant near-dup component is
    plausible (boilerplate-heavy web crawls)."""
    lab = _star_labels(edges, max_iters)
    return lab.select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _closure_ctes() -> str:
    """CTE chain (for WITH RECURSIVE) ending in `lab(node, lbl)` —
    the label-propagation closure over fingerprint-overlap edges."""
    from .text import WINNOW_FP_CTE

    return f"""{WINNOW_FP_CTE.lstrip()}, fp_ok AS (
  SELECT fingerprint FROM fp
  GROUP BY fingerprint HAVING COUNT(*) <= {WINNOW_MAX_DF}
), fpf AS (
  SELECT fp.doc_id, fp.fingerprint FROM fp JOIN fp_ok USING (fingerprint)
), pairs AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM fpf a JOIN fpf b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
), edges AS (
  SELECT src, dst FROM pairs
  UNION ALL SELECT dst AS src, src AS dst FROM pairs
), nodes AS (SELECT DISTINCT src AS node FROM edges),
lab AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.dst AS node, l.lbl FROM lab l JOIN edges e ON e.src = l.node
)"""


@declare(
    "x1e_dup_clusters",
    f"""
WITH RECURSIVE {_closure_ctes()}
SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
FROM lab GROUP BY node
""",
    doc="O-X1/brief: duplicate CLUSTERS, not just pairs — winnowing-"
    "fingerprint overlap edges (df-capped self-join, >= "
    f"{WINNOW_MIN_SHARED} shared fingerprints) -> connected components "
    "by distributed min-label propagation; cluster_id = min doc_id. "
    "Oracle: the same edges + WITH RECURSIVE closure in DuckDB. "
    "Iterations bound by component diameter; each round is one keyed "
    "join + partial min-agg, lineage cut by localCheckpoint.",
)
def x1e_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import winnow_fp

    docs = load_table(spark, sf_dir, "documents")
    return dup_clusters(winnow_edges(winnow_fp(docs)))


@declare(
    "x1f_dedup_apply",
    f"""
WITH RECURSIVE {_closure_ctes()},
clusters AS (
  SELECT node AS doc_id, MIN(lbl) AS cluster_id
  FROM lab GROUP BY node
)
SELECT d.doc_id,
       (c.cluster_id IS NULL OR c.cluster_id = d.doc_id) AS keep,
       CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN clusters c USING (doc_id)
""",
    doc="O-X1/brief: the dedup APPLY step — every doc tagged with its "
    "cluster and a keep/drop decision (keep = canonical min-id member "
    "or singleton). docs LEFT JOIN clusters on doc_id: broadcastable "
    "when the duplicate set is small relative to the corpus, plain "
    "keyed join otherwise; the downstream corpus is filter(keep). "
    "r14: clusters come from the per-corpus persisted table "
    "(dup_clusters_for — parity-pinned against the live derivation), "
    "not a per-execution label-propagation re-run",
)
def x1f_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # r14: the apply step joins the per-corpus PERSISTED cluster
    # table (dup_clusters_for) instead of re-running the iterative
    # label-propagation per execution — at 100 TB clustering is a
    # preprocessing pass; x1e stays the live construction query
    clusters = dup_clusters_for(spark, sf_dir)
    return docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        (
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id"))
        ).alias("keep"),
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# Substring-overlap spans: the distributed approximation of exact
# substring deduplication (the suffix-array method of "Deduplicating
# Training Data Makes Language Models Better", Lee et al. 2022 —
# public paper; no code consulted). A suffix array is inherently
# sequential; the Spark-native equivalent hashes every k-token shingle
# WITH its position, inverts by hash, and finds runs of consecutive
# matching positions on each (doc_a, doc_b, offset) diagonal: a run of
# m consecutive shingle matches == a shared verbatim substring of
# m + k - 1 tokens. Exact for substrings >= k tokens (no false
# positives beyond hash collisions at 60 bits; no false negatives).
#
# Scale shape: one shuffle keyed by the uniform shingle hash (inverted
# occurrence lists, the x1d pattern — never a string self-join), pair
# combos row-local and bounded by SPAN_OCC_CAP^2, then one shuffle
# keyed by (doc_a, doc_b, diagonal) whose partitions are tiny (matches
# of ONE doc pair on ONE offset). The occurrence cap is the boilerplate
# guard: a shingle occurring everywhere ("lorem ipsum dolor sit amet")
# carries no span signal and would fan out df^2.
# ---------------------------------------------------------------------------

SPAN_SHINGLE_K = 5  # tokens per positional shingle
SPAN_MIN_RUN = 4  # consecutive shingle matches => span >= K + MIN_RUN - 1
SPAN_OCC_CAP = 200  # max occurrences of one shingle hash corpus-wide
# reuse() size-hint scaling for the shared shingle frame (ADVICE r12):
# rows ~= corpus tokens ~= decompressed text bytes / 6 (avg token+sep),
# parquet text compresses ~2.5x, and a cached (long, int, long) row
# costs ~32 B with Tungsten overhead -> ~(2.5/6)*32 ~= 13x the on-disk
# corpus bytes. Past MATERIALIZE_THRESHOLD_BYTES reuse() then takes the
# write-once-parquet path instead of pinning executor storage memory.
SHINGLE_FRAME_BYTES_PER_SOURCE_BYTE = 13


def shingle_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_SHINGLE_K,
) -> DataFrame:
    """(id, pos, h): 60-bit hash of the k-token shingle starting at
    1-based token position pos. Map-only; the whole corpus pass is one
    scan projection."""
    from ..plans.layout import fan_out

    return (
        fan_out(docs)
        .select(F.col(id_col), _tokens(F.col(text_col)).alias("_toks"))
        .select(
            id_col,
            F.posexplode(_shingles_of(F.col("_toks"), k)).alias(
                "_pos0", "_shingle"
            ),
        )
        .select(
            id_col,
            (F.col("_pos0") + 1).cast("long").alias("pos"),
            hash64(F.col("_shingle")).alias("h"),
        )
    )


def substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_SHINGLE_K,
    min_run: int = SPAN_MIN_RUN,
    occ_cap: int = SPAN_OCC_CAP,
    hot_path: bool = True,
    shingle_size_hint_bytes: int | None = None,
    materialize_shingles: bool | None = None,
) -> DataFrame:
    """All maximal shared-substring spans of >= k + min_run - 1 tokens
    between any two documents: (doc_a, doc_b, start_a, start_b,
    match_shingles, span_tokens), doc_a < doc_b, starts 1-based.

    Shingles occurring in <= occ_cap places pair all-ways (exact).
    Shingles occurring in MORE than occ_cap places — boilerplate
    repeated across thousands of documents, the highest-value target
    of exact-substring dedup (VERDICT r3: pre-r4 these were silently
    DROPPED) — take a canonical-star path: every occurrence pairs with
    the corpus-wide minimum (id, pos) occurrence only, O(occurrences)
    instead of O(occurrences²). Star matches flow through the same
    diagonal-island machinery, so a hot boilerplate block still
    surfaces as one maximal span per (canonical, other) doc pair, and
    substring_dedup_apply cuts it from every doc but the canonical
    carrier. Non-canonical pair spans of hot content are intentionally
    not emitted (that is the complexity bound); hot_path=False
    restores the pre-r4 drop semantics.

    For docs shorter than k tokens the single shingle covers the whole
    doc, so span_tokens may overstate by up to k-1 there.

    shingle_size_hint_bytes / materialize_shingles (ADVICE r12): the
    shared shingle frame is ~one row per corpus TOKEN, so at the
    100 TB design point it must take reuse()'s write-once-parquet
    path, not pin executor storage memory. Callers who know their
    corpus bytes pass a hint (see SHINGLE_FRAME_BYTES_PER_SOURCE_BYTE
    for the scaling) or force materialize_shingles; with neither the
    frame persists MEMORY_AND_DISK (right for test-scale corpora)."""
    from pyspark.sql import Window

    from ..plans import layout

    # reuse(): the shingle derivation (tokenize + k-gram concat + md5)
    # is referenced by FOUR plan branches below (count, cool join,
    # hot-canonical agg, hot join) and none of their exchanges are
    # shape-identical, so without sharing Catalyst re-tokenizes the
    # corpus four times — measured r12 as the floored-worst scaled
    # query and the widest-dispersion 100x probe row (memory pressure
    # from four concurrent corpus scans). The shared frame is compact
    # — (id, pos, hash64) ≈ 24 bytes/row — so persisting it is far
    # cheaper than one recompute, let alone three.
    sh = layout.reuse(
        shingle_positions(docs, id_col, text_col, k),
        materialize=materialize_shingles,
        size_hint_bytes=shingle_size_hint_bytes,
    )
    # occurrence COUNTS first (map-combined partial agg): the
    # collect_list below must never materialize a hot shingle's full
    # occurrence list (pre-r4 it built the list and then filtered it
    # out — an executor-memory hazard exactly on boilerplate). The
    # count join and both downstream groupBys key on h, so the
    # partitioning is reused across the pipeline.
    cnt = sh.groupBy("h").agg(F.count(F.lit(1)).alias("_n"))
    cool_sh = sh.join(
        cnt.filter(
            (F.col("_n") >= 2) & (F.col("_n") <= occ_cap)
        ).select("h"),
        "h",
    )
    # inverted occurrence lists: keyed by the uniform hash; the
    # occurrence cap bounds the row-local combo explode below.
    lists = cool_sh.groupBy("h").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col("pos"))
        ).alias("occ")
    )
    # STAGE the sorted list before the combo lambdas (the measured 64x
    # re-sort trap): pairs are ordered entries (x before y), so
    # x.id <= y.id; the cross-doc filter runs post-explode
    socc = F.col("_socc")
    combos = F.flatten(
        F.transform(
            socc,
            lambda x, i: F.transform(
                F.slice(socc, i + 2, F.size(socc)),
                lambda y: F.struct(
                    x["id"].alias("doc_a"),
                    y["id"].alias("doc_b"),
                    x["pos"].alias("pa"),
                    y["pos"].alias("pb"),
                ),
            ),
        )
    )
    matches = (
        lists.select(F.array_sort("occ").alias("_socc"))
        .select(F.explode(combos).alias("p"))
        .select("p.*")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("d", F.col("pa") - F.col("pb"))
    )
    if hot_path:
        # hot shingles: one canonical occurrence per hash (lexicographic
        # min (id, pos) — a map-side partial min, no list built), every
        # other occurrence pairs against it. Consecutive boilerplate
        # shingles share the same min doc at consecutive positions, so
        # star matches land on one diagonal and island-group into the
        # full span; the block's context-blended edge shingles are
        # rarer, fall under the cap, and extend the same islands via
        # the pairwise path. Within-canonical-doc repeats drop with
        # the c_id < id filter (same doc_a < doc_b convention).
        hot_canon = (
            sh.join(cnt.filter(F.col("_n") > occ_cap).select("h"), "h")
            .groupBy("h")
            .agg(
                F.min(
                    F.struct(F.col(id_col).alias("id"), F.col("pos"))
                ).alias("_c")
            )
        )
        hot_matches = (
            sh.join(hot_canon, "h")
            .filter(F.col("_c.id") < F.col(id_col))
            .select(
                F.col("_c.id").alias("doc_a"),
                F.col(id_col).alias("doc_b"),
                F.col("_c.pos").alias("pa"),
                F.col("pos").alias("pb"),
                (F.col("_c.pos") - F.col("pos")).alias("d"),
            )
        )
        matches = matches.unionByName(hot_matches)
    # island trick: within one (doc_a, doc_b, diagonal) partition,
    # consecutive pa values share (pa - row_number) — each island is
    # one maximal run of consecutive shingle matches
    w = Window.partitionBy("doc_a", "doc_b", "d").orderBy("pa")
    return (
        matches.withColumn("_isl", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "d", "_isl")
        .agg(
            F.min("pa").alias("start_a"),
            F.min("pb").alias("start_b"),
            F.count(F.lit(1)).alias("match_shingles"),
        )
        .filter(F.col("match_shingles") >= min_run)
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            "start_b",
            "match_shingles",
            (F.col("match_shingles") + k - 1).alias("span_tokens"),
        )
    )


# DuckDB replay of substring_spans on the documents table — the
# declared x1g oracle (promoted r4 after the d16-d18 merge freed a
# slot) and the pytest parity oracle in tests/test_substring.py.
def substring_spans_oracle(
    k: int = SPAN_SHINGLE_K,
    min_run: int = SPAN_MIN_RUN,
    occ_cap: int = SPAN_OCC_CAP,
) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS tokens
  FROM documents
), sh AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         {hash64_sql(f"array_to_string(tokens[i:i+{k - 1}], ' ')")} AS h
  FROM toks,
       UNNEST(generate_series(1, greatest(len(tokens) - {k} + 1, 1)))
         AS t(i)
), capped AS (
  SELECT * FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY h) BETWEEN 2 AND {occ_cap}
), hot AS (
  SELECT h, doc_id AS c_id, pos AS c_pos
  FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY h) > {occ_cap}
     AND ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) = 1
), m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.pos AS pa, b.pos AS pb, a.pos - b.pos AS d
  FROM capped a JOIN capped b
    ON a.h = b.h AND a.doc_id < b.doc_id
  UNION ALL
  SELECT hot.c_id AS doc_a, sh.doc_id AS doc_b,
         hot.c_pos AS pa, sh.pos AS pb, hot.c_pos - sh.pos AS d
  FROM sh JOIN hot
    ON sh.h = hot.h AND hot.c_id < sh.doc_id
), isl AS (
  SELECT *, pa - ROW_NUMBER() OVER (
    PARTITION BY doc_a, doc_b, d ORDER BY pa) AS grp
  FROM m
)
SELECT doc_a, doc_b,
       MIN(pa) AS start_a, MIN(pb) AS start_b,
       CAST(COUNT(*) AS BIGINT) AS match_shingles,
       CAST(COUNT(*) + {k} - 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_a, doc_b, d, grp
HAVING COUNT(*) >= {min_run}
"""


_X1G_DOC = (
    "O-X1/brief: exact-substring duplicate spans (Lee et al. 2022 "
    "suffix-array dedup re-expressed for Spark): all maximal shared "
    f"token runs >= {SPAN_SHINGLE_K + SPAN_MIN_RUN - 1} tokens between "
    "any two documents, via positional k-token shingle hashing + the "
    "diagonal-island window. Scale shape: one shingle-keyed shuffle; "
    "<= occ_cap occurrences pair all-ways (bounded row-local combo "
    "explode), hotter shingles — cross-corpus boilerplate — take the "
    "canonical-star path (every occurrence vs the corpus-min "
    "occurrence, O(occ) not O(occ^2)); occurrence counts precede "
    "collect_list so no hot list is ever materialized. Promoted from "
    "pytest-only to the declared hash surface in r4."
)


@declare("x1g_substring_spans", substring_spans_oracle(), doc=_X1G_DOC)
def x1g_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_bytes

    # size the shared shingle frame off the known on-disk corpus bytes
    # (ADVICE r12): at driver scales this keeps the persist path; a
    # corpus-scale input crosses reuse()'s materialize threshold.
    src_bytes = table_bytes(sf_dir, "documents")
    return substring_spans(
        load_table(spark, sf_dir, "documents"),
        shingle_size_hint_bytes=(
            src_bytes * SHINGLE_FRAME_BYTES_PER_SOURCE_BYTE
            if src_bytes
            else None
        ),
    )


def substring_dedup_apply(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The APPLY step of exact-substring dedup (Lee et al. 2022
    remove all but one copy of each duplicated substring): given
    substring_spans output, cut every reported token range from the
    HIGHER-id member of each pair (doc_a < doc_b, so content survives
    exactly in its lowest-id carrier), and rebuild the text.

    Output: (id, text, removed_tokens) for EVERY input doc; untouched
    docs pass through with removed_tokens = 0. Text is rebuilt from
    whitespace tokens joined by single spaces — the token model's
    inherent normalization (same convention as the span positions).

    Scale shape: the interval table is duplicate-sized (one row per
    span) — grouped to per-doc sorted lists (one small shuffle),
    joined to the corpus keyed by id (broadcastable when dups are
    rare), then everything is row-local array work: a position is
    dropped when any interval covers it, overlaps need no explicit
    merging. Per-doc cost O(tokens x spans-on-doc)."""
    iv_lists = (
        spans.select(
            F.col("doc_b").alias(id_col),
            F.struct(
                F.col("start_b").alias("s"),
                (F.col("start_b") + F.col("span_tokens")).alias("e"),
            ).alias("_iv"),
        )
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("_iv")).alias("_ivs"))
    )
    # rebuild from ORIGINAL-case tokens: span positions come from the
    # lowercased hashing tokenization, but whitespace splitting is
    # case-independent, so positions line up 1:1 and the output keeps
    # the source casing (the lowercase variant leaked into output
    # text until a test caught it)
    raw_toks = F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != ""
    )
    staged = docs.join(iv_lists, id_col, "left").select(
        id_col, raw_toks.alias("_toks"), "_ivs"
    )
    toks = F.col("_toks")
    ivs = F.col("_ivs")
    # empty-doc guard: sequence(1, 0) DESCENDS — produce [] explicitly
    idx = F.when(
        F.size(toks) >= 1, F.sequence(F.lit(1), F.size(toks))
    ).otherwise(F.array().cast("array<int>"))
    kept = F.when(ivs.isNull(), idx).otherwise(
        F.filter(
            idx,
            lambda p: ~F.exists(
                ivs, lambda iv: (p >= iv["s"]) & (p < iv["e"])
            ),
        )
    )
    return staged.select(
        id_col,
        F.concat_ws(
            " ", F.transform(kept, lambda p: F.element_at(toks, p))
        ).alias(text_col),
        (F.size(toks) - F.size(kept)).cast("long").alias("removed_tokens"),
    )


def substring_spans_against(
    new_docs: DataFrame,
    corpus_sh: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_SHINGLE_K,
    min_run: int = SPAN_MIN_RUN,
    occ_cap: int = SPAN_OCC_CAP,
) -> DataFrame:
    """Incremental substring screen: shared-substring spans between
    each NEW document and the HISTORICAL corpus only — never
    old-vs-old (already screened when those docs arrived) and never
    new-vs-new (run substring_spans on the batch for that). The
    batch-arrival shape of exact-substring dedup, mirroring the
    MinHash stream screen (stream_neardup_candidates).

    corpus_sh is shingle_positions() of the history — the persistent
    index: write it once, append each accepted batch's positions, and
    every screen joins against it without rescanning old text.

    Output: (new_id, old_id, start_new, start_old, match_shingles,
    span_tokens); ids share a namespace only if the caller says so —
    no id ordering is applied across the two sides.

    Scale shape: per-hash occurrence lists built from the HISTORY
    (occ-capped exactly like the batch operator), keyed join from the
    (small) batch side, then the same per-(pair, diagonal) island
    grouping — cost scales with the batch, not the corpus.

    Cap semantics vs the batch operator (ADVICE r3): the cap here
    applies to the HISTORY-side occurrence list only, while
    substring_spans caps the combined (all-docs) list. Shingles hot in
    HISTORY (> occ_cap occurrences) mirror the batch operator's r4
    canonical-star path: each NEW occurrence pairs against the
    history's min (id, pos) occurrence only — so a new doc made of
    known boilerplate still flags (pre-r4 it silently passed the
    screen), at O(batch) extra cost. Screen/batch parity is exact only
    when no shingle approaches occ_cap from either side; near the
    boundary the two sides can express the same content as pairwise
    vs star spans."""
    from pyspark.sql import Window

    new_sh = shingle_positions(new_docs, id_col, text_col, k).select(
        F.col(id_col).alias("new_id"),
        F.col("pos").alias("pn"),
        "h",
    )
    # counts first so a hot shingle's occurrence list is never
    # materialized (same executor-memory discipline as the batch
    # operator); one partial-agg pass over the history index
    hist_stats = corpus_sh.groupBy("h").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(
            F.struct(F.col(id_col).alias("id"), F.col("pos"))
        ).alias("_c"),
    )
    hist_lists = (
        corpus_sh.join(
            hist_stats.filter(F.col("_n") <= occ_cap).select("h"), "h"
        )
        .groupBy("h")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("pos"))
            ).alias("occ")
        )
    )
    matches = (
        new_sh.join(hist_lists, "h")
        .select("new_id", "pn", F.explode("occ").alias("o"))
        .select(
            "new_id",
            F.col("o.id").alias("old_id"),
            "pn",
            F.col("o.pos").alias("po"),
            (F.col("pn") - F.col("o.pos")).alias("d"),
        )
    )
    # history-hot shingles: pair each NEW occurrence against the
    # history's canonical occurrence only (the batch operator's star
    # path) — O(batch occurrences), and island grouping below still
    # assembles consecutive hot matches into one span
    hot_matches = (
        new_sh.join(
            hist_stats.filter(F.col("_n") > occ_cap).select("h", "_c"),
            "h",
        )
        .select(
            "new_id",
            F.col("_c.id").alias("old_id"),
            "pn",
            F.col("_c.pos").alias("po"),
            (F.col("pn") - F.col("_c.pos")).alias("d"),
        )
    )
    matches = matches.unionByName(hot_matches)
    w = Window.partitionBy("new_id", "old_id", "d").orderBy("pn")
    return (
        matches.withColumn("_isl", F.col("pn") - F.row_number().over(w))
        .groupBy("new_id", "old_id", "d", "_isl")
        .agg(
            F.min("pn").alias("start_new"),
            F.min("po").alias("start_old"),
            F.count(F.lit(1)).alias("match_shingles"),
        )
        .filter(F.col("match_shingles") >= min_run)
        .select(
            "new_id",
            "old_id",
            "start_new",
            "start_old",
            "match_shingles",
            (F.col("match_shingles") + k - 1).alias("span_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Line-level exact dedup (C4 / FineWeb style): drop every repeated LINE
# corpus-wide, keeping one canonical copy. Catches the boilerplate the
# document-level family can't (nav bars, cookie banners, license
# headers repeated across millions of pages) at line granularity,
# complementing substring_spans (token runs) with the cheaper
# newline-delimited form real web-corpus pipelines apply first.
#
# Scale shape: lines explode map-only off the corpus scan; occurrence
# stats are one line-hash-keyed shuffle with map-side partial agg (the
# canonical = MIN(struct(id, line_no)) is a partial min — no occurrence
# list is ever materialized, so a line repeated in 10^7 docs costs one
# combiner cell, the substring-family hot-path discipline); the
# keep/drop decision joins stats back on the SAME key (partitioning
# reused, no second shuffle of the corpus); doc rebuild is one
# doc-keyed shuffle of surviving lines. Nothing is all-pairs.
# ---------------------------------------------------------------------------


def line_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lines: DataFrame | None = None,
) -> DataFrame:
    """(line_hash, occurrences, canon_id, canon_line_no): corpus-wide
    occurrence count and canonical (lowest (id, line_no)) carrier per
    distinct line. Blank/whitespace-only lines are ignored (they are
    separators, not content — and the all-pairs hot key at scale).
    `lines` (r18 opt): a caller that already derived (and persisted)
    the _doc_lines frame passes it to share the split+hash pass."""
    if lines is None:
        lines = _doc_lines(docs, id_col, text_col)
    return lines.groupBy("line_hash").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.min(F.struct(F.col("_id").alias("id"), F.col("line_no"))).alias(
            "_c"
        ),
    ).select(
        "line_hash",
        "occurrences",
        F.col("_c.id").alias("canon_id"),
        F.col("_c.line_no").alias("canon_line_no"),
    )


def _doc_lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(_id, line_no, line, line_hash): non-blank lines with 1-based
    positions. Lines are matched EXACTLY as they appear (no trim/case
    fold) — line dedup is an exact-duplicate screen by contract."""
    from ..plans.layout import fan_out

    return (
        fan_out(docs)
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(F.col(text_col), r"\n")).alias(
                "_ln0", "line"
            ),
        )
        .filter(F.trim(F.col("line")) != "")
        .select(
            "_id",
            (F.col("_ln0") + 1).cast("long").alias("line_no"),
            "line",
            hash64(F.col("line")).alias("line_hash"),
        )
    )


def line_dedup_apply(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    size_hint_bytes: int | None = None,
) -> DataFrame:
    """Remove every line occurring >= min_count times corpus-wide from
    all docs except its canonical carrier (lowest (id, line_no)), and
    rebuild each doc's text from its surviving lines in order.

    Output: (id, text, removed_lines) for EVERY input doc — untouched
    docs pass through verbatim (original text, including blank lines);
    docs that lose lines are rebuilt newline-joined from non-blank
    survivors (the token-model normalization, same convention as
    substring_dedup_apply's whitespace rebuild)."""
    from ..plans.layout import reuse

    # one split+hash pass (r18 opt, guide §2.4): the line frame feeds
    # BOTH the per-line join side and the corpus-wide stats agg —
    # without the persist Catalyst derives _doc_lines twice (two full
    # corpus scans + splits). At 100 TB the lines frame is the
    # written-out intermediate of a preprocessing pass either way —
    # size_hint_bytes (ADVICE r18: callers pass the corpus size scaled
    # for the line explosion) lets reuse() take that materialize path
    # past MATERIALIZE_THRESHOLD_BYTES instead of memory-persisting a
    # corpus-scale exploded frame.
    lines = reuse(
        _doc_lines(docs, id_col, text_col),
        size_hint_bytes=size_hint_bytes,
    )
    stats = line_stats(docs, id_col, text_col, lines=lines)
    keep = (
        lines.join(stats, "line_hash")
        .withColumn(
            "_keep",
            (F.col("occurrences") < min_count)
            | (
                (F.col("canon_id") == F.col("_id"))
                & (F.col("canon_line_no") == F.col("line_no"))
            ),
        )
    )
    rebuilt = keep.groupBy("_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("line_no"), F.col("line")),
                        )
                    )
                ),
                lambda x: x["line"],
            ),
        ).alias("_new_text"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("removed_lines"),
    )
    return (
        docs.join(rebuilt, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.when(
                F.coalesce(F.col("removed_lines"), F.lit(0)) == 0,
                F.col(text_col),
            )
            .otherwise(F.col("_new_text"))
            .alias(text_col),
            F.coalesce(F.col("removed_lines"), F.lit(0))
            .cast("long")
            .alias("removed_lines"),
        )
    )


def line_dedup_oracle(min_count: int = 2) -> str:
    """DuckDB replay of line_dedup_apply over the documents table
    (pytest parity; ALSO the declared x1h oracle since r4 s3)."""
    return f"""
WITH lines AS (
  SELECT doc_id, CAST(i AS BIGINT) AS line_no, ls[i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
       UNNEST(generate_series(1, len(ls))) AS t(i)
  WHERE trim(ls[i]) <> ''
), cnts AS (
  SELECT line, COUNT(*) AS occurrences FROM lines GROUP BY line
), canon AS (
  SELECT line, doc_id AS canon_id, line_no AS canon_line_no
  FROM lines
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY line ORDER BY doc_id, line_no) = 1
), keep AS (
  SELECT l.doc_id, l.line_no, l.line,
         (cnts.occurrences < {min_count}
          OR (canon.canon_id = l.doc_id
              AND canon.canon_line_no = l.line_no)) AS keep_it
  FROM lines l JOIN cnts USING (line) JOIN canon USING (line)
), rebuilt AS (
  SELECT doc_id,
         string_agg(CASE WHEN keep_it THEN line END, chr(10)
                    ORDER BY line_no) AS new_text,
         CAST(COUNT(*) FILTER (WHERE NOT keep_it) AS BIGINT)
           AS removed_lines
  FROM keep GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN COALESCE(r.removed_lines, 0) = 0 THEN d.text
            ELSE COALESCE(r.new_text, '') END AS text,
       COALESCE(r.removed_lines, 0) AS removed_lines
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


def line_stats_merge(history: DataFrame, batch_docs: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Fold a new batch into a persisted line_stats table: union the
    batch's stats and re-aggregate on line_hash (occurrences add,
    canonical = min of the two candidates). Keyed entirely by
    line_hash — at 100 TB this is one shuffle of history-stats (tiny
    vs the corpus: one row per DISTINCT line) plus the batch's.
    Line text is not stored in stats; the hash alone drives dedup."""
    batch = line_stats(batch_docs, id_col, text_col)
    return (
        history.unionByName(batch)
        .groupBy("line_hash")
        .agg(
            F.sum("occurrences").cast("long").alias("occurrences"),
            F.min(
                F.struct(
                    F.col("canon_id").alias("id"),
                    F.col("canon_line_no").alias("line_no"),
                )
            ).alias("_c"),
        )
        .select(
            "line_hash",
            "occurrences",
            F.col("_c.id").alias("canon_id"),
            F.col("_c.line_no").alias("canon_line_no"),
        )
    )


def line_dedup_against(
    new_docs: DataFrame,
    history_stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingestion line screen: strip from each NEW doc every
    line already present in the HISTORICAL corpus (its canonical
    carrier lives in history, so new copies are always redundant).
    Same output contract as line_dedup_apply: (id, text,
    removed_lines) for every batch doc, untouched docs verbatim.

    new-vs-history ONLY (the substring_spans_against convention):
    batch-internal duplicates are the eventual batch operator's job —
    run line_dedup_apply within the batch first if both screens are
    wanted. Cost scales with the BATCH (its lines joined against the
    keyed stats table), not with corpus size; matches the batch
    operator exactly when batch ids sort after history ids (then the
    corpus-wide canonical is always the history copy)."""
    lines = _doc_lines(new_docs, id_col, text_col)
    hist = history_stats.select("line_hash").withColumn(
        "_in_hist", F.lit(True)
    )
    keep = lines.join(hist, "line_hash", "left").withColumn(
        "_keep", F.col("_in_hist").isNull()
    )
    rebuilt = keep.groupBy("_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("line_no"), F.col("line")),
                        )
                    )
                ),
                lambda x: x["line"],
            ),
        ).alias("_new_text"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("removed_lines"),
    )
    return (
        new_docs.join(rebuilt, F.col(id_col) == F.col("_id"), "left")
        .select(
            id_col,
            F.when(
                F.coalesce(F.col("removed_lines"), F.lit(0)) == 0,
                F.col(text_col),
            )
            .otherwise(F.col("_new_text"))
            .alias(text_col),
            F.coalesce(F.col("removed_lines"), F.lit(0))
            .cast("long")
            .alias("removed_lines"),
        )
    )


def stream_line_dedup_candidates(
    doc_stream: DataFrame,
    history_stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming face of the line screen: flag arriving docs' lines
    that duplicate historical content. Stream side is map-only
    (split + posexplode + hash); the ONLY join is stream-static on
    line_hash against the persisted stats table — append mode, no
    stream state (the stream_neardup_candidates shape). Output one
    row per duplicated line: (id, line_no, canon_id, canon_line_no);
    a foreachBatch consumer can regroup per doc and apply the cut."""
    lines = _doc_lines(doc_stream, id_col, text_col)
    return lines.join(history_stats, "line_hash").select(
        F.col("_id").alias(id_col),
        "line_no",
        "canon_id",
        "canon_line_no",
    )


@declare(
    "x1h_line_dedup",
    line_dedup_oracle(),
    doc="O-X1/brief: line-level exact dedup (C4/FineWeb style) — "
    "repeated lines removed corpus-wide, lowest-(doc_id, line_no) "
    "canonical kept, docs rebuilt in order. Canonical election is a "
    "map-side partial MIN struct (no occurrence lists — a line "
    "repeated in every doc costs one combiner cell). Promoted to the "
    "declared hash surface r4 s3 (slot freed by the c10-c12 merge); "
    "the DuckDB replay oracle had been pytest-proven since the op "
    "landed (tests/test_line_dedup.py).",
)
def x1h_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_bytes

    # lines frame ~= the corpus re-laid one row per line plus an 8-byte
    # hash and position per row; x2 on the compressed on-disk figure
    # covers the envelope overhead (same convention as d5's x3 hint)
    src_bytes = table_bytes(sf_dir, "documents")
    return line_dedup_apply(
        load_table(spark, sf_dir, "documents"),
        size_hint_bytes=src_bytes * 2 if src_bytes else None,
    )
