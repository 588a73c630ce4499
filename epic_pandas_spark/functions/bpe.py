"""Distributed BPE (byte-pair-encoding) tokenizer training + encoding —
the vocabulary-learning stage of an LLM data pipeline (Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units", ACL'16),
re-expressed for Spark.

Algorithm shape and why it scales:

- Training operates on the DISTINCT-WORD frequency table, not the corpus:
  a 100 TB corpus reduces to |vocab| rows (one shuffle) before the first
  merge iteration, and every iteration after that touches only that
  table. This is the standard trick — pair statistics are a function of
  (word, count) pairs only.
- Each merge iteration is: adjacent-pair extraction via
  arrays_zip(slice, slice) (pure expressions), one weighted groupBy over
  8-byte-ish pair keys, a 1-row argmax collect, and one Arrow-batched
  merge application (pandas UDF — the left-to-right greedy merge is
  inherently sequential WITHIN a word, parallel across words).
  localCheckpoint truncates lineage per iteration.
- Encoding applies the learned merge list in order inside one pandas UDF
  pass — no shuffle at all; merges broadcast with the closure.

Tie-breaking is pinned (count desc, then pair lexicographic asc) so
training is deterministic; the pytest witness replays the same corpus
through a pure-Python reference implementation and asserts the identical
merge sequence.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus → (word, count): the only corpus-sized shuffle in training."""
    from epic_pandas_spark.parallel import ensure_parallelism

    return (
        ensure_parallelism(df).select(
            F.explode(
                F.split(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "), " ")
            ).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_word(syms: list, a: str, b: str) -> list:
    """Left-to-right greedy non-overlapping merge of the pair (a, b) —
    the Sennrich reference semantics."""
    out, i, n = [], 0, len(syms)
    while i < n:
        if i < n - 1 and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _apply_merge_udf(a: str, b: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def apply(syms: pd.Series) -> pd.Series:
        return syms.map(lambda s: _merge_word(list(s), a, b))

    return apply


# distinct-word count at or below which the merge iterations run on the
# driver over the collected (word, count) table; above it the table may
# not fit the driver and the Spark iteration loop runs instead
_LOCAL_VOCAB_MAX_WORDS = 2_000_000


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the ordered
    merge list [(left, right), ...]. Stops early when no adjacent pair
    occurs twice (nothing left worth merging).

    One distributed pass reduces the corpus to the (word, count) table.
    If it has at most ``_LOCAL_VOCAB_MAX_WORDS`` rows the iterations run
    driver-side on the collected table (identical semantics — the
    reference trainer IS the iteration kernel, and the pytest witness
    proves distributed == reference); per-iteration Spark job overhead
    dominates wall time when the vocab is small. Otherwise the Spark
    iteration loop runs (pair-count shuffle + 1-row argmax + Arrow merge
    per iteration). The corpus-sized work is the same either way."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    # checkpointed before the size check so the distributed loop reuses
    # this materialization instead of paying a second full corpus scan
    freq_df = _word_freq_table(df, text_col).localCheckpoint(eager=True)
    if freq_df.count() <= _LOCAL_VOCAB_MAX_WORDS:
        freq = {r["w"]: r["cnt"] for r in freq_df.collect()}
        return _train_on_freq(freq, n_merges)
    words = freq_df.withColumn(
        "syms", F.split("w", "")
    ).select("cnt", "syms").localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        n = F.size("syms")
        pairs = words.filter(n >= 2).select(
            "cnt",
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, n - 1).alias("a"),
                    F.slice("syms", 2, n - 1).alias("b"),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .first()
        )
        if best is None or best["n"] < 2:
            break
        a, b = best["a"], best["b"]
        merges.append((a, b))
        words = words.withColumn(
            "syms", _apply_merge_udf(a, b)(F.col("syms"))
        ).localCheckpoint(eager=True)
    return merges


def bpe_encode(
    df: DataFrame,
    text_col: str,
    merges: list[tuple[str, str]],
    out_col: str = "tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge list: one Arrow-batched
    pass, no shuffle — each word splits to characters and replays the
    merges in training order (the standard BPE inference rule). The merge
    list travels in the task closure (it's a few KB)."""
    from pyspark.sql.functions import pandas_udf

    merge_list = list(merges)

    @pandas_udf("array<string>")
    def encode(texts: pd.Series) -> pd.Series:
        def enc(text: str) -> list:
            if text is None:
                return []
            toks: list = []
            for word in text.lower().strip().split():
                syms = list(word)
                for a, b in merge_list:
                    if len(syms) < 2:
                        break
                    syms = _merge_word(syms, a, b)
                toks.extend(syms)
            return toks

        return texts.map(enc)

    return df.withColumn(out_col, encode(F.col(text_col)))


def _train_on_freq(freq: dict, n_merges: int) -> list[tuple[str, str]]:
    """Iteration kernel over a (word -> count) table: identical counting
    (adjacent pairs weighted by word frequency, overlaps included) and
    tie-breaking (count desc, pair lexicographic asc) as the distributed
    loop. Used by both driver-side training and the test reference."""
    from collections import Counter

    words = {w: list(w) for w in freq}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        stats: Counter = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += freq[w]
        if not stats:
            break
        best = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        merges.append(best[0])
        a, b = best[0]
        words = {w: _merge_word(s, a, b) for w, s in words.items()}
    return merges


def bpe_train_reference(texts: list[str], n_merges: int) -> list[tuple[str, str]]:
    """Pure-Python reference (test witness) over raw texts."""
    from collections import Counter

    freq: Counter = Counter()
    for t in texts:
        for w in t.lower().strip().split():
            if w:
                freq[w] += 1
    return _train_on_freq(dict(freq), n_merges)
