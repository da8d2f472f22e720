"""Byte-pair-encoding tokenizer (Sennrich et al. 2016,
arXiv:1508.07909): distributed merge-rule training + corpus encoding.

The reference's token surface is a whitespace/regex count
(/root/reference has no tokenizer at all); a training-data engine
needs the real thing: learn merge rules from the corpus, then encode
documents with them (token budgets, packing, dedup grain).

Spark-first shape — the classic algorithm splits cleanly into a
corpus-sized step and a vocab-sized loop:

* ONE corpus pass builds the word-frequency table (tokenize →
  map-side-combined groupBy) — after this, training never touches the
  corpus again: BPE statistics are exactly recoverable from
  (word, count), and |vocab| ≪ corpus at web scale (Heaps' law).
* each merge iteration runs on the vocab table only: adjacent symbol
  pairs via ``slice``+``arrays_zip`` (built-in JVM expressions, no
  HOF lambdas) → one map-side-combined groupBy(pair) weighted by word
  count → the argmax pair by (total desc, pair lexicographic) — a
  deterministic, engine-independent tie-break.
* the pair-count table is maintained ACROSS merges instead of
  re-aggregating every adjacent pair each round: merging (a,b) only
  changes the pair statistics of words whose symbol stream contains a
  followed by b, so the round filters that affected sub-frame (a
  cached substring probe on a NUL-delimited marker column — no
  explode), re-counts pairs for those words before/after the merge,
  and folds the ±delta into the persisted pair table with one
  vocab-pair-sized compaction. Per-merge cost is O(|affected words| +
  |distinct pairs|) — it SHRINKS as training converges (late merges
  touch few words) and never depends on corpus size or total vocab
  symbol volume. Still one driver argmax per merge — exact BPE is
  inherently sequential in the rule order.
* encoding re-tokenizes documents and encodes each DISTINCT word once
  per Arrow batch with the standard merge-rank greedy loop, so the
  per-batch cost is O(distinct words), not O(tokens).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

END = "</w>"
WORD_RE = "[a-z0-9]+"


def word_counts(
    docs: DataFrame, text_col: str = "text", word_re: str = WORD_RE
) -> DataFrame:
    """(word, count) over the corpus — the single corpus-wide pass."""
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(word_re), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


_SEP = "\x00"  # cannot occur in [a-z0-9]+ symbols or </w>


def _pair_counts(frame: DataFrame) -> DataFrame:
    """(p0, p1, total) over every adjacent symbol position, weighted
    by word count — built-in slice/arrays_zip, no HOF lambdas."""
    n = F.size("syms")
    return (
        frame.where(n >= 2)
        .select(
            "count",
            F.explode(
                F.arrays_zip(
                    F.slice("syms", 1, n - 1).alias("p0"),
                    F.slice("syms", F.lit(2), n - 1).alias("p1"),
                )
            ).alias("pr"),
        )
        .groupBy(F.col("pr.p0").alias("p0"), F.col("pr.p1").alias("p1"))
        .agg(F.sum("count").alias("total"))
    )


def _with_marker(frame: DataFrame) -> DataFrame:
    """NUL-delimited symbol stream (``\\x00a\\x00b\\x00...``): adjacency
    of (a, b) is the substring ``\\x00a\\x00b\\x00`` — an O(|word|) JVM
    probe per row, no explode, unambiguous because symbols never
    contain the delimiter."""
    return frame.withColumn(
        "marker",
        F.concat(F.lit(_SEP), F.array_join("syms", _SEP), F.lit(_SEP)),
    )


def train_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_count: int = 1,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` merge rules. Returns them in rank order.

    Stops early when no pair occurs twice (or at all). ``min_count``
    prunes hapax words from the statistics (standard practice; the
    default keeps everything). Pair counts are maintained as ±deltas
    across merges, so per-merge cost is ∝ affected words.

    Both evolving frames are eagerly ``localCheckpoint``-ed EVERY
    round: the vocab plan references itself twice per round
    (affected ∪ unaffected) and the pair plan three times (pc ∪ +delta
    ∪ −delta), so an un-truncated logical plan grows EXPONENTIALLY in
    rounds — at merge ~30 Catalyst spends longer stringifying the tree
    than running it. Lineage truncation per round keeps every plan
    O(1) deep; the checkpoint write is vocab-sized, never corpus-sized.
    """
    wc = word_counts(docs, text_col)
    if min_count > 1:
        wc = wc.where(F.col("count") >= int(min_count))
    base = wc.select(
        "count",
        F.concat(F.split("word", ""), F.array(F.lit(END))).alias("syms"),
    )
    syms = _with_marker(base).localCheckpoint(eager=True)
    pc = _pair_counts(syms).localCheckpoint(eager=True)
    # union doubles the RDD partition count (affected ∪ unaffected
    # both descend from syms), and localCheckpoint PRESERVES it — left
    # unbounded that is 2^merges partitions (a 1000-merge run died in
    # a 2^20-task stage before this coalesce). pc is immune: its
    # groupBy re-shuffles to spark.sql.shuffle.partitions every round.
    n_parts = max(1, syms.rdd.getNumPartitions())
    merges: list[tuple[str, str]] = []
    for _ in range(int(num_merges)):
        best = pc.orderBy(F.desc("total"), "p0", "p1").limit(1).collect()
        if not best or int(best[0]["total"]) < 2:
            break
        a, b = best[0]["p0"], best[0]["p1"]
        merges.append((a, b))
        # the merge itself is pure JVM string surgery on the marker:
        # \Q..\E-quoted "␀a␀b" with a (?=␀) lookahead boundary —
        # java.util.regex replaceAll resumes AFTER each consumed match
        # (the lookahead ␀ stays), which is exactly the leftmost-greedy
        # non-overlapping scan of classic BPE ("␀a␀a␀a␀a␀" → two
        # merges, "␀a␀a␀a␀" → one). Symbols are [a-z0-9</w>]-only, so
        # neither \E nor replacement metacharacters ($, \) can occur.
        hit = F.col("marker").contains(F.lit(_SEP + a + _SEP + b + _SEP))
        pat = "\\Q" + _SEP + a + _SEP + b + "\\E(?=\\Q" + _SEP + "\\E)"
        new_marker = F.regexp_replace("marker", pat, _SEP + a + b)
        aff_new = syms.where(hit).select(
            "count",
            F.array_remove(F.split(new_marker, _SEP), "").alias("syms"),
            new_marker.alias("marker"),
        )
        delta = _pair_counts(aff_new).unionByName(
            _pair_counts(syms.where(hit)).withColumn(
                "total", -F.col("total")
            )
        )
        pc = (
            pc.unionByName(delta)
            .groupBy("p0", "p1")
            .agg(F.sum("total").alias("total"))
            .where(F.col("total") > 0)
            .localCheckpoint(eager=True)
        )
        syms = (
            syms.where(~hit)
            .unionByName(aff_new)
            .coalesce(n_parts)
            .localCheckpoint(eager=True)
        )
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard greedy BPE: repeatedly merge the lowest-rank adjacent
    pair until none of the present pairs has a rule."""
    seq = list(word) + [END]
    while len(seq) >= 2:
        cand = [
            (ranks[(seq[i], seq[i + 1])], i)
            for i in range(len(seq) - 1)
            if (seq[i], seq[i + 1]) in ranks
        ]
        if not cand:
            break
        rank = min(r for r, _ in cand)
        out, i, n = [], 0, len(seq)
        while i < n:
            if (
                i + 1 < n
                and ranks.get((seq[i], seq[i + 1])) == rank
            ):
                out.append(seq[i] + seq[i + 1])
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    output: str = "bpe_tokens",
    word_re: str = WORD_RE,
) -> DataFrame:
    """(id, tokens array, n_tokens) — Arrow-batched; each DISTINCT
    word in a batch is encoded once (memoized), so hot words cost
    O(1) per occurrence. Per-document work only: no shuffle."""
    ranks = {tuple(m): i for i, m in enumerate(merges)}
    import re as _re

    rx = _re.compile(word_re)

    @F.pandas_udf("array<string>")
    def _enc(texts: pd.Series) -> pd.Series:
        memo: dict[str, list[str]] = {}

        def one(t):
            if t is None:
                return []
            out = []
            for w in rx.findall(t.lower()):
                enc = memo.get(w)
                if enc is None:
                    enc = _encode_word(w, ranks)
                    memo[w] = enc
                out.extend(enc)
            return out

        return texts.map(one)

    return docs.select(
        F.col(id_col),
        _enc(F.col(text_col)).alias(output),
    ).withColumn("n_tokens", F.size(output).cast("long"))


def bpe_vocab(merges: list[tuple[str, str]]) -> list[str]:
    """The subword units the rules can produce (merged symbols, in
    rank order). Base characters are implicit."""
    return [a + b for a, b in merges]
