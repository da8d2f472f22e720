"""BPE tokenizer: distributed training and encoding cross-checked
against a from-scratch pure-Python implementation of the classic
algorithm (Sennrich et al. 2016 pseudocode), independent of the Spark
expressions."""

import re
from collections import Counter

import pytest

from lambdo_spark.functions.bpe import (
    END,
    bpe_encode,
    bpe_vocab,
    train_bpe,
    word_counts,
)

CORPUS = [
    (1, "low lower lowest low low"),
    (2, "newer newest new new newer"),
    (3, "wider wide widest low new"),
    (4, "the lowest newest widest"),
]


def _py_word_counts(rows):
    c = Counter()
    for _, t in rows:
        c.update(re.findall(r"[a-z0-9]+", t.lower()))
    return dict(c)


def _py_train(rows, num_merges):
    wc = _py_word_counts(rows)
    syms = {w: list(w) + [END] for w in wc}
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for w, s in syms.items():
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += wc[w]
        if not pairs:
            break
        # total desc, then pair lexicographic — the engine tie-break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges, syms


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(CORPUS, ["doc_id", "text"])


def test_word_counts(docs):
    got = {r["word"]: r["count"] for r in word_counts(docs).collect()}
    assert got == _py_word_counts(CORPUS)


def test_train_matches_reference(docs):
    got = train_bpe(docs, 12)
    exp, _ = _py_train(CORPUS, 12)
    assert got == exp
    assert len(got) > 4  # the corpus supports a real merge sequence


def test_train_checkpoint_boundary(docs):
    # every round is localCheckpoint-ed; the result must not change
    assert train_bpe(docs, 10) == _py_train(CORPUS, 10)[0]


def test_encode_matches_trained_segmentation(docs):
    merges, syms = _py_train(CORPUS, 12)
    out = {
        r["doc_id"]: (list(r["bpe_tokens"]), r["n_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    for did, text in CORPUS:
        exp = []
        for w in re.findall(r"[a-z0-9]+", text.lower()):
            exp.extend(syms[w])
        assert out[did][0] == exp, did
        assert out[did][1] == len(exp)


def test_encode_unseen_word_falls_back_to_chars(docs):
    merges, _ = _py_train(CORPUS, 12)
    spark = docs.sparkSession
    other = spark.createDataFrame([(9, "zzq")], ["doc_id", "text"])
    toks = bpe_encode(other, merges).collect()[0]["bpe_tokens"]
    assert list(toks) == ["z", "z", "q", END]


def test_encode_empty_and_null(spark):
    merges = [("l", "o")]
    df = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    out = {r["doc_id"]: r["n_tokens"] for r in bpe_encode(df, merges).collect()}
    assert out == {1: 0, 2: 0}


def test_vocab_lists_merged_units(docs):
    merges = train_bpe(docs, 6)
    v = bpe_vocab(merges)
    assert v == [a + b for a, b in merges]


def test_min_count_prunes_rare_words(docs):
    # with min_count high enough only the frequent words drive merges
    merges = train_bpe(docs, 4, min_count=4)
    exp, _ = _py_train([(0, "low low low low")], 4)
    # "low" (5 occurrences) and "new" (4) survive; merges must only
    # use symbols from those words + END
    chars = set("lownew" + END)
    for a, b in merges:
        assert set(a) | set(b) <= set("lownew</>")
