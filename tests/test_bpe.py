"""Distributed BPE trainer/encoder vs the pure-Python reference: the
merge SEQUENCE (not just the vocab) must be identical, which pins the
pair counting, weighting, and tie-break order."""

import pytest
from pyspark.sql import functions as F

from epic_pandas_spark.functions import bpe, unigram
from epic_pandas_spark.functions.bpe import (
    bpe_encode,
    bpe_train,
    bpe_train_reference,
    _merge_word,
)
from epic_pandas_spark.session import load_table
from tests.conftest import SF_DIR


def test_merge_word_greedy_nonoverlapping():
    assert _merge_word(list("aaa"), "a", "a") == ["aa", "a"]
    assert _merge_word(list("abab"), "a", "b") == ["ab", "ab"]
    assert _merge_word(["ab", "c"], "ab", "c") == ["abc"]
    assert _merge_word(list("xy"), "a", "b") == ["x", "y"]


def test_bpe_train_matches_reference_on_toy_corpus(spark, monkeypatch):
    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    want = bpe_train_reference(texts, n_merges=10)
    assert bpe_train(df, "text", n_merges=10) == want  # driver-side path agrees
    monkeypatch.setattr(bpe, "_LOCAL_VOCAB_MAX_WORDS", -1)  # force distributed
    got = bpe_train(df, "text", n_merges=10)
    assert got == want
    assert len(got) == 10 and got[0][0] and got[0][1]


def test_bpe_train_matches_reference_on_documents(spark, monkeypatch):
    docs = load_table(spark, SF_DIR, "documents").limit(120)
    texts = [r["text"] for r in docs.select("text").collect()]
    monkeypatch.setattr(bpe, "_LOCAL_VOCAB_MAX_WORDS", -1)  # force distributed
    got = bpe_train(docs, "text", n_merges=12)
    want = bpe_train_reference(texts, n_merges=12)
    assert got == want


def test_bpe_encode_roundtrip_consistency(spark):
    """Encoding must (a) apply merges exactly as training did — a word
    seen in training encodes to its final training symbols — and (b)
    concatenate back to the original normalized word."""
    texts = ["banana banana banana bandana", "an ban nan"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    merges = bpe_train(df, "text", n_merges=6)
    enc = bpe_encode(df, "text", merges)
    rows = enc.select("text", "tokens").collect()
    for r in rows:
        rebuilt = "".join(r["tokens"])
        assert rebuilt == r["text"].lower().replace(" ", "")
    # empty / null robustness
    edge = spark.createDataFrame([("",), (None,)], "text string")
    got = bpe_encode(edge, "text", merges).select("tokens").collect()
    assert [list(r["tokens"]) for r in got] == [[], []]


def test_bpe_train_early_stop_and_validation(spark):
    df = spark.createDataFrame([("a b c",)], "text string")  # no pair twice
    assert bpe_train(df, "text", n_merges=5) == []
    with pytest.raises(ValueError):
        bpe_train(df, "text", n_merges=0)


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece-style) tokenizer


def test_unigram_em_kernel_hand_case():
    """One word 'abab' with vocab {a, b, ab}: forward-backward posteriors
    hand-checkable — 'ab' spans must carry mass, and total expected
    piece characters must equal the word length."""
    import math

    from epic_pandas_spark.functions.unigram import _em_expected_counts, _Q

    logp = {"a": math.log(0.25), "b": math.log(0.25), "ab": math.log(0.5)}
    q = _em_expected_counts("abab", 1, logp, max_len=2)
    counts = {p: v / _Q for p, v in q.items()}
    assert counts["ab"] > 1.0  # the dominant segmentation uses ab twice
    # expected characters covered == len(word): sum over pieces of
    # E[count] * len(piece)
    total_chars = sum(c * len(p) for p, c in counts.items())
    assert abs(total_chars - 4.0) < 1e-6


def test_unigram_viterbi_hand_cases():
    import math

    from epic_pandas_spark.functions.unigram import _viterbi

    logp = {"a": math.log(0.2), "b": math.log(0.2), "ab": math.log(0.6)}
    assert _viterbi("abab", logp, 2) == ["ab", "ab"]
    # unknown char falls back to a single-char token, encoding stays total
    assert _viterbi("axb", logp, 2) == ["a", "x", "b"]
    assert _viterbi("", logp, 2) == []


def test_unigram_train_parity_local_distributed_reference(spark, monkeypatch):
    """The quantized integer EM makes all three paths EXACTLY equal:
    pure-Python reference == driver kernel == Spark
    distributed loop, including under a different partitioning."""
    texts = [
        "low low low low low",
        "lower lower newest newest newest newest newest newest",
        "widest widest widest wide wide new",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    from epic_pandas_spark.functions.unigram import (
        unigram_train,
        unigram_train_reference,
    )

    want = unigram_train_reference(texts, vocab_size=30, max_piece_len=6)
    local = unigram_train(df, "text", vocab_size=30, max_piece_len=6)
    monkeypatch.setattr(unigram, "_LOCAL_VOCAB_MAX_WORDS", -1)  # force distributed
    dist = unigram_train(df, "text", vocab_size=30, max_piece_len=6)
    dist2 = unigram_train(df.repartition(7), "text", vocab_size=30, max_piece_len=6)
    assert local == want
    assert dist == want
    assert dist2 == want
    assert len(want) <= 30
    # probabilities normalize
    import math

    assert abs(sum(math.exp(lp) for lp in want.values()) - 1.0) < 1e-9


def test_unigram_encode_reconstruction_and_vocab(spark):
    from epic_pandas_spark.functions.unigram import unigram_encode, unigram_train
    from epic_pandas_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").limit(80).select("doc_id", "text")
    vocab = unigram_train(docs, "text", vocab_size=120, max_piece_len=5)
    assert len(vocab) <= 120
    enc = unigram_encode(docs, "text", vocab)
    rows = enc.select("text", "tokens").collect()
    assert rows
    for r in rows:
        rebuilt = "".join(r["tokens"])
        import re

        want = re.sub(r"\s+", "", r["text"].lower().strip())
        assert rebuilt == want
        for t in r["tokens"]:
            assert t in vocab or len(t) == 1  # unknown chars pass as singles
    # multi-char pieces actually got used (the LM learned something)
    assert any(len(t) > 1 for r in rows for t in r["tokens"])


def test_unigram_train_rejects_bad_args(spark):
    from epic_pandas_spark.functions.unigram import unigram_train

    df = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError):
        unigram_train(df, "text", vocab_size=1)


def test_unigram_chars_always_survive_em():
    """Module contract: single characters are floored at 1 micro-count
    each EM round, so a char whose quantized posterior rounds to 0 stays
    in the vocab with a learned (tiny) probability instead of silently
    vanishing and relying on the Viterbi UNK penalty."""
    from epic_pandas_spark.functions.unigram import _floor_chars

    floored = _floor_chars({"ab": 100, "a": 0, "b": 5}, {"ab", "a", "b", "c"})
    assert floored == {"ab": 100, "a": 1, "b": 5, "c": 1}
    # multi-char zero pieces are NOT floored — they stay at 0 and
    # _renormalize's c > 0 filter drops them (legitimate death)
    assert _floor_chars({"cd": 0, "a": 1}, {"cd", "a"})["cd"] == 0
    # already-positive chars untouched
    assert _floor_chars({"a": 7}, {"a"})["a"] == 7


def test_unigram_train_keeps_all_corpus_chars(spark):
    """End-to-end: every character of the corpus appears in the trained
    vocab even under aggressive pruning, and the distributed path stays
    in exact parity with the pure-Python reference after the floor."""
    from epic_pandas_spark.functions.unigram import (
        unigram_train,
        unigram_train_reference,
    )

    texts = ["ababab ababab abab", "ababab qq", "abababab z"] * 4
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    kw = dict(vocab_size=6, max_piece_len=4, em_rounds_per_prune=3)
    got = unigram_train(df, "text", **kw)
    ref = unigram_train_reference(texts, **kw)
    assert set(got) == set(ref)
    for p in got:
        assert abs(got[p] - ref[p]) < 1e-12, p
    corpus_chars = {c for t in texts for c in t.replace(" ", "")}
    assert corpus_chars <= set(got)


def test_unigram_likelihood_prune_parity_and_semantics(spark, monkeypatch):
    """prune='likelihood' (SentencePiece's exact loss): the distributed
    trainer stays in EXACT parity with the pure-Python reference, the
    trained vocab hits the size budget with all chars kept, and the loss
    itself behaves: a piece whose occurrences are fully explained by a
    cheap alternative segmentation prunes before one that is not."""
    import math

    from epic_pandas_spark.functions.unigram import (
        _alt_logprob,
        _prune_order,
        unigram_train,
        unigram_train_reference,
    )

    texts = ["abcabc abcabc xyz", "abcabc xyz qq", "zz abcabc"] * 5
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    kw = dict(vocab_size=8, max_piece_len=4, em_rounds_per_prune=2,
              prune="likelihood")
    got = unigram_train(df, "text", **kw)
    ref = unigram_train_reference(texts, **kw)
    assert set(got) == set(ref)
    for p in got:
        assert abs(got[p] - ref[p]) < 1e-12, p
    assert len(got) <= 8
    corpus_chars = {c for t in texts for c in t.replace(" ", "")}
    assert corpus_chars <= set(got)
    # distributed twin: identical to local (integer-quantized EM)
    monkeypatch.setattr(unigram, "_LOCAL_VOCAB_MAX_WORDS", -1)
    dist = unigram_train(df, "text", **kw)
    assert set(dist) == set(got)
    for p in got:
        assert abs(dist[p] - got[p]) < 1e-12, p

    # alt_logprob: the single-piece segmentation is excluded; with chars
    # at log 1/4 each, the best alternative for 'ab' is a+b = 2*log(1/4)
    lp = {"a": math.log(0.25), "b": math.log(0.25), "ab": math.log(0.5)}
    assert abs(_alt_logprob("ab", lp, 2) - 2 * math.log(0.25)) < 1e-12
    # loss ordering: equal counts, but 'ab' has a CHEAP alternative
    # (high-prob chars) while 'cd' has an expensive one -> 'ab' first
    lp2 = {"a": math.log(0.4), "b": math.log(0.4),
           "c": math.log(0.01), "d": math.log(0.01),
           "ab": math.log(0.09), "cd": math.log(0.09)}
    order = _prune_order(lp2, {"ab": 100, "cd": 100}, 2, "likelihood")
    assert [p for _, p in order] == ["ab", "cd"]
