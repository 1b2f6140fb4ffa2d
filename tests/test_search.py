"""Inverted index: boolean and phrase retrieval vs independent
Python oracles on hand and real corpora (including overlapping and
duplicate-term phrases), persisted-index round trip with bucket
partition pruning reaching the scan.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from .conftest import SF_SMOKE
from peerdb_cdc_psql_clickhouse_spark.operators.search import (
    build_text_index,
    load_text_index,
    phrase_search,
    save_text_index,
    term_search,
)


def _py_tokens(text):
    return [w for w in (text or "").lower().split() if w]


def _py_phrase_count(text, phrase):
    toks = _py_tokens(text)
    p = phrase.lower().split()
    return sum(
        1
        for i in range(len(toks) - len(p) + 1)
        if toks[i : i + len(p)] == p
    )


def _hand(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a a a"),
        (3, "b a a b a a"),
        (4, "quick quick quick brown"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def test_term_search_and_or(spark):
    df, rows = _hand(spark)
    idx = build_text_index(df)
    got_and = {
        r.doc_id: (r.match_terms, r.total_tf)
        for r in term_search(idx, ["quick", "brown"]).collect()
    }
    assert set(got_and) == {1, 4}
    assert got_and[4] == (2, 4)  # 3x quick + 1x brown
    got_or = {r.doc_id for r in term_search(idx, ["dog", "b"], "or").collect()}
    assert got_or == {1, 3}


def test_phrase_overlaps_and_duplicate_slots(spark):
    df, rows = _hand(spark)
    idx = build_text_index(df)
    for phrase in ("a a", "quick quick", "a a b", "quick brown", "the lazy dog"):
        got = {
            r.doc_id: r.n_occurrences
            for r in phrase_search(idx, phrase).collect()
        }
        want = {
            d: _py_phrase_count(t, phrase)
            for d, t in rows
            if _py_phrase_count(t, phrase) > 0
        }
        assert got == want, phrase
    # "a a" in "a a a" overlaps: 2 occurrences
    assert phrase_search(idx, "a a").filter(F.col("doc_id") == 2).first()[
        "n_occurrences"
    ] == 2


def test_real_corpus_matches_python_oracle(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    # pick a genuine 3-token phrase from the first doc
    first = _py_tokens(next(iter(texts.values())))
    phrase = " ".join(first[:3])
    idx = build_text_index(docs)
    got = {
        r.doc_id: r.n_occurrences
        for r in phrase_search(idx, phrase).collect()
    }
    want = {
        d: _py_phrase_count(t, phrase)
        for d, t in texts.items()
        if _py_phrase_count(t, phrase) > 0
    }
    assert got == want and len(got) > 0

    terms = first[:2]
    got_and = {r.doc_id for r in term_search(idx, terms).collect()}
    want_and = {
        d
        for d, t in texts.items()
        if all(x in _py_tokens(t) for x in terms)
    }
    assert got_and == want_and


def test_persisted_index_prunes_and_matches(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = str(tmp_path / "tix")
    save_text_index(build_text_index(docs), p)
    idx = load_text_index(spark, p)
    import glob

    assert len(glob.glob(f"{p}/bucket=*")) > 1  # really partitioned
    mem = build_text_index(docs)
    q = ["the", "data"]
    a = {tuple(r) for r in term_search(idx, q).collect()}
    b = {tuple(r) for r in term_search(mem, q).collect()}
    assert a == b
    plan = (
        term_search(idx, q)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "bucket" in plan  # partition filter reached the scan


def test_tf_and_positions_agree_with_python(spark):
    df, rows = _hand(spark)
    idx = build_text_index(df).collect()
    by_key = {(r.term, r.doc_id): r for r in idx}
    for d, t in rows:
        c = Counter(_py_tokens(t))
        for term, n in c.items():
            r = by_key[(term, d)]
            assert r.tf == n
            want_pos = [i for i, x in enumerate(_py_tokens(t)) if x == term]
            assert list(r.positions) == want_pos


def test_bm25_matches_python_oracle(spark):
    import math

    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        bm25_search,
        doc_lengths,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    idx = build_text_index(docs)
    lens = doc_lengths(docs)
    terms = ["the", "data", "model"]
    k1, b = 1.2, 0.75

    toks = {d: _py_tokens(t) for d, t in texts.items()}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {
        t: sum(1 for tk in toks.values() if t in tk) for t in terms
    }
    scores = {}
    for d, tk in toks.items():
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            if not tf or not df[t]:
                continue
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(tk) / avgdl))
        if s > 0:
            scores[d] = s
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    got = bm25_search(idx, lens, terms, k=10).orderBy("rank").collect()
    assert [r.doc_id for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert abs(r.score - s) < 1e-5


def test_python_hash64_agrees_with_spark_hash64(spark):
    """ADVICE r4: _pruned's driver-side bucket ids MUST equal the
    hash the index was built with — python_hash64 is the single
    definition, asserted here against the Spark column twin."""
    from peerdb_cdc_psql_clickhouse_spark.functions.hashing import (
        hash64,
        python_hash64,
    )

    samples = ["the", "hash", "join", "stream", "Ünïcôdé", "a b", ""]
    rows = spark.createDataFrame(
        [(s,) for s in samples], "s string"
    ).select("s", hash64(F.col("s")).alias("h")).collect()
    for r in rows:
        assert r["h"] == python_hash64(r["s"]), r["s"]


def test_declared_bm25_searches_persisted_index(spark):
    """x9_bm25_search runs against the build-once per-corpus index and
    its plan prunes postings partitions by the query terms' buckets."""
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        X9_TERMS,
        x9_bm25_search,
    )

    res = x9_bm25_search(spark, SF_SMOKE)
    rows = res.collect()
    assert 0 < len(rows) <= 15
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, len(rows) + 1)
    )
    assert len(X9_TERMS) == 3


def test_bm25_prefers_rare_term_and_short_doc(spark):
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        bm25_search,
        doc_lengths,
    )

    rows = [
        (1, "rareword filler filler filler filler filler filler filler"),
        (2, "rareword"),
        (3, "common common common common"),
        (4, "common filler"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = build_text_index(df)
    lens = doc_lengths(df)
    got = bm25_search(idx, lens, ["rareword"], k=4).orderBy("rank").collect()
    # same tf=1: the shorter doc ranks first (length normalization)
    assert [r.doc_id for r in got] == [2, 1]


def test_text_index_insert_equals_rebuild(spark, tmp_path):
    """VERDICT r5 #3: incremental maintenance — an index built on 80%
    of the corpus with the remaining 20% folded in via
    text_index_insert equals a from-scratch rebuild on 100%, row for
    row (postings, lengths, stats) AND search-result for
    search-result (BM25 / boolean / phrase)."""
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        bm25_search,
        open_text_index,
        save_full_text_index,
        text_index_insert,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    cut = 400
    base = docs.filter(F.col("doc_id") < cut)
    batch = docs.filter(F.col("doc_id") >= cut)
    inc_root = str(tmp_path / "inc")
    full_root = str(tmp_path / "full")
    save_full_text_index(base, inc_root)
    stats = text_index_insert(spark, inc_root, batch)
    assert stats["n_new_docs"] == batch.count()
    assert 0 < stats["touched_buckets"] <= 64
    save_full_text_index(docs, full_root)

    inc_post, inc_len, inc_stats = open_text_index(spark, inc_root)
    full_post, full_len, full_stats = open_text_index(spark, full_root)
    assert inc_stats == full_stats
    a = {
        (r.term, r.doc_id, tuple(r.positions), r.tf, r.dl, r.bucket)
        for r in inc_post.collect()
    }
    b = {
        (r.term, r.doc_id, tuple(r.positions), r.tf, r.dl, r.bucket)
        for r in full_post.collect()
    }
    assert a == b
    # _gen differs by construction (batch rows carry generation 1 in
    # the incremental index, 0 in the rebuild) — it is maintenance
    # metadata, not index content
    assert {(r.doc_id, r.dl) for r in inc_len.collect()} == {
        (r.doc_id, r.dl) for r in full_len.collect()
    }
    for build in (
        lambda p, ln, st: bm25_search(
            p, ln, ["hash", "join", "stream"], k=15, stats=st
        ),
        lambda p, ln, st: term_search(p, ["data", "model"], "and"),
        lambda p, ln, st: phrase_search(p, "the data"),
    ):
        got = {tuple(r) for r in build(inc_post, inc_len, inc_stats).collect()}
        want = {
            tuple(r) for r in build(full_post, full_len, full_stats).collect()
        }
        assert got == want


def test_text_index_insert_only_touches_its_buckets(spark, tmp_path):
    """The O(batch) claim, structurally: inserting a single-term doc
    appends files ONLY inside that term's bucket directory — every
    other bucket partition's file set is bit-unchanged."""
    import os

    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        save_full_text_index,
        text_index_insert,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    root = str(tmp_path / "idx")
    save_full_text_index(docs, root)

    def snapshot():
        out = {}
        for d in os.listdir(f"{root}/postings"):
            if d.startswith("bucket="):
                out[d] = sorted(
                    f
                    for f in os.listdir(f"{root}/postings/{d}")
                    if f.endswith(".parquet")
                )
        return out

    before = snapshot()
    one = spark.createDataFrame(
        [(10_000_000, "zzyzzx zzyzzx")], "doc_id long, text string"
    )
    stats = text_index_insert(spark, root, one)
    assert stats["touched_buckets"] == 1
    after = snapshot()
    changed = {
        d
        for d in set(before) | set(after)
        if before.get(d) != after.get(d)
    }
    assert len(changed) == 1, changed


def test_n_buckets_mismatch_raises_not_empty(spark, tmp_path):
    """VERDICT r10 #2 (the one index-contract hole): building with one
    n_buckets and searching/maintaining with another used to silently
    prune to directories that don't exist — EMPTY results, no error.
    Now: the geometry is persisted (manifest + term column metadata),
    the default resolves to it, and an explicit contradicting value
    raises loudly on every entry point."""
    import pytest

    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        bm25_search,
        open_text_index,
        save_full_text_index,
        text_index_insert,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    root = str(tmp_path / "idx32")
    save_full_text_index(docs, root, n_buckets=32)
    post, lens, stats = open_text_index(spark, root)

    # default (no param): resolves the index's own 32 and matches an
    # in-memory build with the same geometry
    want = {
        tuple(r)
        for r in term_search(
            build_text_index(docs, n_buckets=32), ["data", "model"], "or"
        ).collect()
    }
    got = {
        tuple(r)
        for r in term_search(post, ["data", "model"], "or").collect()
    }
    assert got == want and got  # non-empty, correct

    # explicit WRONG n_buckets: loud error on search ...
    for call in (
        lambda: term_search(post, ["data"], n_buckets=64),
        lambda: phrase_search(post, "the data", n_buckets=128),
        lambda: bm25_search(post, lens, ["data"], stats=stats, n_buckets=64),
    ):
        with pytest.raises(ValueError, match="n_buckets mismatch"):
            call()
    # ... and on maintenance
    one = spark.createDataFrame(
        [(10_000_001, "qqfresh doc")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="n_buckets mismatch"):
        text_index_insert(spark, root, one, n_buckets=64)
    # matching explicit value still accepted
    assert text_index_insert(spark, root, one, n_buckets=32)[
        "n_new_docs"
    ] == 1


def test_term_metadata_survives_roundtrip_and_compact(spark, tmp_path):
    """The geometry rides the term DATA column's metadata through the
    parquet round-trip (the bucket PARTITION column is reconstructed
    from dir names, so metadata there would be lost), and the manifest
    re-stamps it on open — so it also survives compaction rewrites."""
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        _index_n_buckets,
        open_text_index,
        save_full_text_index,
        text_index_compact,
        text_index_delete,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    assert _index_n_buckets(build_text_index(docs, n_buckets=16)) == 16
    root = str(tmp_path / "idx16")
    save_full_text_index(docs, root, n_buckets=16)
    post, _l, _s = open_text_index(spark, root)
    assert _index_n_buckets(post) == 16
    text_index_delete(spark, root, [0, 1, 2])
    text_index_compact(spark, root)
    post2, _l2, _s2 = open_text_index(spark, root)
    assert _index_n_buckets(post2) == 16


def test_build_autopicks_buckets_from_corpus_size(spark, tmp_path, monkeypatch):
    """VERDICT r10 #8: with no explicit n_buckets the build sizes the
    bucket count from the corpus (ceil(n_docs / target) clamped to
    [default, 4096]) — the testdata default stays 64, a big corpus
    gets more buckets, and searches stay correct because the chosen
    geometry is persisted and resolved automatically."""
    import json as _json

    import peerdb_cdc_psql_clickhouse_spark.operators.search as search_mod
    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        open_text_index,
        save_full_text_index,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    n_docs = docs.count()

    # default target: small corpus -> module default
    small_root = str(tmp_path / "small")
    save_full_text_index(docs, small_root)
    m = _json.loads(
        open(
            sorted(
                (tmp_path / "small" / "manifest").glob("m-*.json")
            )[-1]
        ).read()
    )
    assert m["n_buckets"] == search_mod.INDEX_BUCKETS
    assert m["analyzer"] == search_mod.INDEX_ANALYZER

    # shrunken target: the pick grows with the corpus
    monkeypatch.setattr(search_mod, "TARGET_DOCS_PER_BUCKET", 5)
    big_root = str(tmp_path / "big")
    save_full_text_index(docs, big_root)
    m2 = _json.loads(
        open(
            sorted((tmp_path / "big" / "manifest").glob("m-*.json"))[-1]
        ).read()
    )
    want = min(max(-(-n_docs // 5), search_mod.INDEX_BUCKETS), 4096)
    assert m2["n_buckets"] == want > search_mod.INDEX_BUCKETS

    # and search still resolves the bigger geometry hash-correctly
    post, _l, _s = open_text_index(spark, big_root)
    got = {
        tuple(r)
        for r in term_search(post, ["data", "model"], "or").collect()
    }
    want_rows = {
        tuple(r)
        for r in term_search(
            build_text_index(docs, n_buckets=m2["n_buckets"]),
            ["data", "model"],
            "or",
        ).collect()
    }
    assert got == want_rows and got


def test_foreign_analyzer_raises_at_open(spark, tmp_path):
    """An index built with a different tokenizer would silently miss
    terms on every query — open/maintain must fail loudly instead."""
    import glob
    import json as _json
    import os as _os

    import pytest

    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        open_text_index,
        save_full_text_index,
        text_index_insert,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    root = str(tmp_path / "idx")
    save_full_text_index(docs, root)
    mfile = sorted(glob.glob(f"{root}/manifest/m-*.json"))[-1]
    rec = _json.loads(open(mfile).read())
    rec["analyzer"] = "bpe_subword_v9"
    crc = f"{root}/manifest/.{_os.path.basename(mfile)}.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    with open(mfile, "w") as f:
        _json.dump(rec, f)
    with pytest.raises(ValueError, match="analyzer"):
        open_text_index(spark, root)
    one = spark.createDataFrame(
        [(10_000_003, "zz doc")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="analyzer"):
        text_index_insert(spark, root, one)


def test_insert_validate_not_live_guard(spark, tmp_path):
    """r11: the ids-not-live insert contract is silently violable
    (duplicate postings, inflated stats) — our own scale probe hit it
    through an id-offset collision. validate_not_live=True turns the
    violation into a loud error; deleted ids are NOT live, so
    re-inserting them passes the check (the documented update path)."""
    import pytest

    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        open_text_index,
        save_full_text_index,
        text_index_delete,
        text_index_insert,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    root = str(tmp_path / "idx")
    save_full_text_index(docs, root)

    live_batch = docs.filter(F.col("doc_id") < 3)
    with pytest.raises(ValueError, match="already LIVE"):
        text_index_insert(spark, root, live_batch, validate_not_live=True)
    # the rejected insert left no trace: stats and a search unchanged
    _p, _l, stats = open_text_index(spark, root)
    assert stats[0] == docs.count()

    # fresh ids pass with validation on
    fresh = spark.createDataFrame(
        [(20_000_000, "zzvalidated doc")], "doc_id long, text string"
    )
    assert (
        text_index_insert(spark, root, fresh, validate_not_live=True)[
            "n_new_docs"
        ]
        == 1
    )
    # deleted ids are not live: delete-then-reinsert passes the check
    text_index_delete(spark, root, [0, 1])
    again = docs.filter(F.col("doc_id") < 2)
    assert (
        text_index_insert(spark, root, again, validate_not_live=True)[
            "n_new_docs"
        ]
        == 2
    )


def test_search_without_geometry_or_dl_raises(spark):
    """A postings frame without its stamped bucket geometry, or BM25
    postings without the denormalized `dl`, raise instead of assuming
    the module-default bucket count or joining the lengths table."""
    import pytest

    from peerdb_cdc_psql_clickhouse_spark.operators.search import (
        _index_n_buckets,
        bm25_search,
    )

    df, _rows = _hand(spark)
    idx = build_text_index(df)
    bare = idx.withColumn("term", F.col("term").alias("term", metadata={}))
    assert _index_n_buckets(idx) is not None
    assert _index_n_buckets(bare) is None
    with pytest.raises(ValueError, match="index_n_buckets"):
        term_search(bare, ["quick"])
    with pytest.raises(ValueError, match="index_n_buckets"):
        phrase_search(bare, "quick brown")
    with pytest.raises(ValueError, match="`dl`"):
        bm25_search(idx.drop("dl"), None, ["quick"], stats=(5, 20))
