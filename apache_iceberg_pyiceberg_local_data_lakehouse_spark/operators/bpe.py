"""Distributed BPE vocabulary fitting + encoding (the tokenizer-fit
step of an LLM data pipeline, NOTES round-4 candidate 10).

Classic byte-pair encoding (Sennrich et al. 2016 - public algorithm):
start from per-character symbol sequences of whitespace words (with an
end-of-word marker), repeatedly merge the most frequent adjacent symbol
pair. The corpus participates only through its WORD-FREQUENCY table (one
explode + groupBy), so each of the K merge iterations is a small shuffle
over a vocab-sized table, not the corpus - the same
driver-holds-only-the-model shape as k-means (centroids there, the merge
list here). At 100 TB the word table is orders of magnitude smaller than
the corpus and the fit cost is K small jobs after one corpus pass.

Encoding applies the learned merges per word inside an Arrow
``pandas_udf`` with a per-batch word cache - dense per-row loops are
exactly the case where expression forms lose (see the HOF-lambda lesson
in NOTES.md); token COUNTING for fitted text therefore also happens
batch-side, never per-row Python.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def _word_table(df: DataFrame, text_col: str, lowercase: bool) -> DataFrame:
    """(word, freq) over the whitespace token stream - the only corpus
    pass in the whole fit."""
    text = F.col(text_col)
    if lowercase:
        text = F.lower(text)
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(F.split(text, r"\s+")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _merge_pattern(a: str, b: str) -> tuple[str, str]:
    """Java-regex (pattern, replacement) merging adjacent symbols a,b in
    a space-delimited symbol string. Non-overlapping left-to-right
    replacement is exactly the reference BPE behavior (re.sub)."""
    pat = r"(?<!\S)\Q" + a + r"\E \Q" + b + r"\E(?!\S)"
    # replacement is literal: escape \ and $ for Java's Matcher
    repl = (a + b).replace("\\", "\\\\").replace("$", "\\$")
    return pat, repl


def fit_bpe(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 50,
    lowercase: bool = True,
    min_pair_freq: int = 2,
    checkpoint_every: int = 10,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a corpus. Returns the merge
    list in fit order - the entire model state held on the driver
    (2 strings per merge; the corpus never leaves the executors).

    Ties on pair frequency break lexicographically, so the fit is
    deterministic across partitionings and engines - a pytest reference
    implementation must reproduce it merge-for-merge.

    Each iteration: count adjacent symbol pairs (explode over the
    vocab-sized word table, weighted by word freq), take the argmax,
    rewrite the symbol strings with one ``regexp_replace``. Lineage is
    truncated every ``checkpoint_every`` iterations (localCheckpoint,
    k-means-style) so plan depth stays bounded."""
    if num_merges <= 0:
        raise ValueError("num_merges must be positive")
    words = _word_table(df, text_col, lowercase)
    # initial symbol string: chars separated by spaces + end-of-word
    syms = F.concat_ws(
        " ", F.split(F.col("word"), ""), F.lit(END_OF_WORD)
    )
    words = words.select("freq", syms.alias("syms")).localCheckpoint()

    merges: list[tuple[str, str]] = []
    for i in range(num_merges):
        arr = F.split(F.col("syms"), " ")
        pairs = (
            words.select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice(arr, 1, F.size(arr) - 1).alias("a"),
                        F.slice(arr, 2, F.size(arr) - 1).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not pairs or pairs[0]["n"] < min_pair_freq:
            break
        a, b = pairs[0]["a"], pairs[0]["b"]
        merges.append((a, b))
        pat, repl = _merge_pattern(a, b)
        words = words.withColumn("syms", F.regexp_replace("syms", pat, repl))
        if (i + 1) % checkpoint_every == 0:
            words = words.localCheckpoint()
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Reference BPE encode for one word: repeatedly apply the
    lowest-rank applicable merge (identical to the fit's replacement
    order on a single word)."""
    syms = list(word) + [END_OF_WORD]
    while len(syms) > 1:
        best_rank, best_pair = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (syms[i], syms[i + 1])
        if best_pair is None:
            break
        a, b = best_pair
        out = []
        i = 0
        while i < len(syms):
            if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lowercase: bool = True,
    out_col: str = "bpe_tokens",
    count_col: str | None = "bpe_token_count",
) -> DataFrame:
    """Tokenize ``text_col`` with a fitted merge list: per row, an array
    of word-piece tokens (and optionally their count). Arrow
    ``pandas_udf`` with a per-batch word cache - each distinct word in a
    batch is encoded once, the batch transfer amortizes the Python cost
    (the HOF-lambda lesson: per-row loops belong in numpy/pandas
    batches, not Catalyst expressions)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_series(s: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def enc(text):
            if text is None:
                return []
            toks: list[str] = []
            for w in re.split(r"\s+", text.lower() if lowercase else text):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, ranks)
                toks.extend(got)
            return toks

        return s.map(enc)

    encode_series.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = pandas_udf(encode_series, "array<string>")
    out = df.withColumn(out_col, udf(F.col(text_col)))
    if count_col:
        out = out.withColumn(count_col, F.size(F.col(out_col)))
    return out
