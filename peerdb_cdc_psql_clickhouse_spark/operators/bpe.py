"""Byte-pair-encoding tokenizer (Sennrich et al. 2016, public paper).

The engine's real token counter (doc_signals' bpe_ish_tokens is the
cheap regex proxy). Split for scale the way production tokenizer
training actually works:

- COUNTING is distributed and exact: one tokenize + explode + groupBy
  over the corpus gives the word-frequency table (distinct words, not
  corpus tokens — many decades smaller than the text);
- MERGE LEARNING runs on the top `max_words` rows of that table,
  collected to the driver (bounded by construction; HF/SentencePiece
  train the same way — over a frequency dict, not the raw corpus).
  Deterministic: ties on pair frequency break lexicographically;
- APPLY is distributed again: the learned merge ranks ride the Arrow
  closure as a broadcast-sized dict, and a per-batch word cache means
  each DISTINCT word is merged once per batch regardless of how often
  it repeats (Zipf makes this the dominant saving).

Word boundary: the same tokens_col as every other text operator, so
BPE composes with the signal battery on one tokenize. Each word gets
a terminal '</w>' symbol so token sequences are unambiguously
invertible (tested: concatenation round-trips the word).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from .text import tokens_col

EOW = "</w>"

# the Python-side twin of tokens_col's Java `\s+`: re.ASCII keeps \s
# at [ \t\n\r\f\v] like Java's default, where plain str.split() would
# also break on unicode spaces (NBSP etc.) and silently disagree with
# the JVM word counts on non-ASCII corpora
_WS = re.compile(r"\s+", re.ASCII)


def _split_words(text: str) -> list[str]:
    return [w for w in _WS.split(text.lower()) if w]


def bpe_word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over the corpus — the one distributed pass of
    training. Partial aggregation (map-side combine) collapses each
    partition's Zipf head before the single word-keyed shuffle."""
    return (
        docs.select(
            F.explode(tokens_col(F.col(text_col))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (EOW,)


def _pair_counts(vocab: dict) -> dict:
    pairs: dict = {}
    for syms, cnt in vocab.items():
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pairs[p] = pairs.get(p, 0) + cnt
    return pairs


def _merge_word(syms: tuple, pair: tuple) -> tuple:
    out = []
    i = 0
    while i < len(syms):
        if (
            i < len(syms) - 1
            and syms[i] == pair[0]
            and syms[i + 1] == pair[1]
        ):
            out.append(syms[i] + syms[i + 1])
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe(
    docs: DataFrame,
    n_merges: int = 200,
    max_words: int = 50_000,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn `n_merges` merges from the corpus word-frequency table.
    Returns the ranked merge list (rank = list position). The
    frequency table is truncated to the top `max_words` words by
    (cnt desc, word asc) — deterministic, and at corpus scale the
    truncation is the standard bounded-driver-state move (the tail's
    counts can't outvote the head's pair counts it was cut from)."""
    counts = bpe_word_counts(docs, text_col)
    # ORDER BY + LIMIT k compiles to RDD.takeOrdered, whose TopK
    # selector ALLOCATES a 2k-element array per task regardless of the
    # data size — an effectively-unbounded max_words (the "don't
    # truncate" spelling) OOMed the whole JVM mid-suite (measured:
    # Guava TopKSelector.<init> heap OOM, intermittent because it
    # depended on heap headroom). Large requests take the no-limit
    # path: collect the vocab and sort driver-side — identical
    # semantics whenever max_words >= the vocabulary size.
    if max_words >= (1 << 22):
        rows = counts.collect()
        rows.sort(key=lambda r: (-r["cnt"], r["word"]))
        top = rows[:max_words]
    else:
        top = (
            counts.orderBy(F.desc("cnt"), F.asc("word"))
            .limit(max_words)
            .collect()
        )
    vocab = {_word_symbols(r["word"]): int(r["cnt"]) for r in top}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = _pair_counts(vocab)
        if not pairs:
            break
        # tie-break: highest count, then lexicographically smallest pair
        top_cnt = max(pairs.values())
        pair = min(p for p, c in pairs.items() if c == top_cnt)
        merges.append(pair)
        vocab = {
            _merge_word(syms, pair): cnt for syms, cnt in vocab.items()
        }
    return merges


def bpe_apply_word(word: str, ranks: dict) -> list[str]:
    """Encode ONE word with the learned ranks — the reference-shaped
    greedy loop: repeatedly merge the present pair with the lowest
    rank until none applies. Driver/test helper and the per-word body
    of the distributed encoder."""
    syms = _word_symbols(word)
    while len(syms) > 1:
        ranked = [
            (ranks[(syms[i], syms[i + 1])], i)
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not ranked:
            break
        best_rank = min(r for r, _ in ranked)
        pair_sym = None
        for r, i in ranked:
            if r == best_rank:
                pair_sym = (syms[i], syms[i + 1])
                break
        syms = _merge_word(syms, pair_sym)
    return list(syms)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe_tokens) — one Arrow pass,
    zero shuffle. Merge ranks travel in the closure (a few thousand
    entries); a per-batch dict caches each distinct word's encoding,
    so the per-row cost is a lookup for every repeated word."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}

    def enc(pdfs):
        cache: dict[str, list[str]] = {}

        def one(text: str) -> list[str]:
            out: list[str] = []
            # same word boundary as tokens_col: lowercase + ASCII \s+
            for w in _split_words(text or ""):
                got = cache.get(w)
                if got is None:
                    got = bpe_apply_word(w, ranks)
                    cache[w] = got
                out.extend(got)
            return out

        for pdf in pdfs:
            toks = [one(t) for t in pdf[text_col].values]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "bpe_tokens": toks,
                    "n_bpe_tokens": [len(t) for t in toks],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        enc, f"{id_col} long, bpe_tokens array<string>, n_bpe_tokens long"
    )
