"""BPE tokenizer TRAINING as a Spark-native iterative algorithm.

Byte-pair encoding (Sennrich et al. 2016, the tokenizer-training loop
behind GPT/BERT vocabularies): repeat N times — count adjacent symbol
pairs over the word-frequency table, merge the most frequent pair into
a new symbol everywhere it occurs (left-to-right, non-overlapping).

Spark-first shape (mirrors operators/graph.pagerank):
- the vocabulary lives as ONE string column per word — each word is
  segmented as ``"␠␠sym₁␠␠sym₂␠␠…␠␠"`` (symbols separated by a DOUBLE
  space, double space at both ends). Merging pair (a, b) is then the
  single literal ``replace(seg, " a␠␠b ", " ab ")``: the pattern
  consumes one space from each flanking double-space, so back-to-back
  occurrences ("abab") still match while overlapping ones ("aaa" for
  pair (a,a)) are skipped — exactly BPE's left-to-right non-overlap
  merge semantics, in one codegen'd string op, no Python;
- pair counting is a row-local array explode + a groupBy bounded by
  |symbol-vocabulary|² keys (map-side partial sums);
- the argmax pair is a 1-row ``ORDER BY … LIMIT 1`` broadcast
  cross-joined onto the vocabulary — NO driver collect anywhere;
- determinism: counts are exact integers; ties break on the pair
  itself, so the merge table is bitwise reproducible — the DuckDB
  oracle unrolls the identical recurrence as chained CTEs and the
  driver hash-gate matches an ITERATIVE training algorithm.

Scale: every round touches the word-frequency table (vocabulary-sized,
NOT corpus-sized — the one corpus-keyed shuffle is the initial word
count), so 100 TB of text trains at the cost of |vocab| string ops per
merge plus an |symbols|²-key aggregate.

Loop contract (operators/loop.py): one merge loop serves both
:func:`bpe_train` and :func:`bpe_train_apply`. Each round checkpoints
its 1-row argmax and the re-segmented vocabulary with
``loop_checkpoint``, releasing the vocabulary it replaces; at the end
each entry point releases what its result does not read, so the merge
table keeps one checkpoint per merge and the re-segmented vocabulary
keeps one in all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dimagi_data_platform_spark.operators.loop import (
    loop_checkpoint,
    release_checkpoint,
)

SEP = "  "  # double-space symbol separator (symbols never contain spaces)


def segment_words(
    wordfreq: DataFrame, word_col: str = "w", freq_col: str = "freq"
) -> DataFrame:
    """Initial character segmentation: ``"ab" → "␠␠a␠␠b␠␠"``."""
    seg = F.concat(
        F.lit(SEP), F.regexp_replace(F.col(word_col), r"(.)", "$1" + SEP)
    )
    return wordfreq.select(
        seg.alias("seg"), F.col(freq_col).cast("long").alias("freq")
    )


def adjacent_pairs(segmented: DataFrame) -> DataFrame:
    """(a, b, freq) for every ADJACENT symbol pair occurrence —
    overlapping occurrences all count ("aaa" yields (a,a) twice), the
    statistic real BPE maximizes."""
    syms = F.split(F.trim(F.col("seg")), SEP)
    n = F.size(syms)
    idx = F.sequence(F.lit(1), n - F.lit(1))
    pair = F.explode(
        F.when(
            n >= F.lit(2),
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(syms, i.cast("int")).alias("a"),
                    F.element_at(syms, (i + F.lit(1)).cast("int")).alias("b"),
                ),
            ),
        ).otherwise(F.array())
    )
    return segmented.select("freq", pair.alias("p")).select(
        F.col("p.a").alias("a"), F.col("p.b").alias("b"), "freq"
    )


def apply_merge(segmented: DataFrame, best: DataFrame) -> DataFrame:
    """Merge the (single-row) best pair everywhere: left-to-right,
    non-overlapping, via one literal replace on the double-space
    representation."""
    pat = F.concat(F.lit(" "), F.col("a"), F.lit(SEP), F.col("b"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("a"), F.col("b"), F.lit(" "))
    return (
        segmented.crossJoin(F.broadcast(best.select("a", "b")))
        .select(F.replace(F.col("seg"), pat, rep).alias("seg"), "freq")
    )


def _merge_loop(
    wordfreq: DataFrame,
    n_merges: int,
    word_col: str,
    freq_col: str,
    reliable: bool,
) -> tuple[DataFrame, list[DataFrame]]:
    """The one BPE merge loop: returns the re-segmented vocabulary
    (seg, freq) and the checkpointed 1-row argmax of each round."""
    cur = loop_checkpoint(segment_words(wordfreq, word_col, freq_col), reliable)
    bests: list[DataFrame] = []
    for _ in range(n_merges):
        pc = (
            adjacent_pairs(cur)
            .groupBy("a", "b")
            .agg(F.sum("freq").cast("long").alias("pair_count"))
        )
        best = loop_checkpoint(
            pc.orderBy(F.desc("pair_count"), "a", "b").limit(1), reliable
        )
        bests.append(best)
        cur = loop_checkpoint(apply_merge(cur, best), reliable, prev=cur)
    return cur, bests


def bpe_train(
    wordfreq: DataFrame,
    n_merges: int,
    word_col: str = "w",
    freq_col: str = "freq",
    reliable: bool = False,
) -> DataFrame:
    """Run ``n_merges`` BPE merge iterations over a (word, freq) table.

    Returns the merge table (step, a, b, merged, pair_count) — the
    trained tokenizer, in merge-priority order. Requires the vocabulary
    to contain at least one multi-symbol word per round (true for any
    real corpus and n_merges << total pair mass).
    """
    cur, bests = _merge_loop(wordfreq, n_merges, word_col, freq_col, reliable)
    release_checkpoint(cur)
    merge_rows = [
        best.select(
            F.lit(step).cast("long").alias("step"),
            "a",
            "b",
            F.concat("a", "b").alias("merged"),
            "pair_count",
        )
        for step, best in enumerate(bests, start=1)
    ]
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionAll(m)
    return out.orderBy("step")


def bpe_train_apply(
    wordfreq: DataFrame,
    n_merges: int,
    word_col: str = "w",
    freq_col: str = "freq",
    reliable: bool = False,
) -> DataFrame:
    """Train ``n_merges`` BPE merges AND return the re-segmented
    vocabulary (seg, freq) under the learned merges — train + encode
    as one lazy program (the merge argmaxes stay broadcast 1-row
    limits, never driver literals)."""
    cur, bests = _merge_loop(wordfreq, n_merges, word_col, freq_col, reliable)
    for best in bests:
        release_checkpoint(best)
    return cur


def bpe_segment(
    wordfreq: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "w",
    freq_col: str = "freq",
) -> DataFrame:
    """Apply an already-trained merge list to a vocabulary — the encode
    side of BPE (same replace chain, merges as literals)."""
    cur = segment_words(wordfreq, word_col, freq_col)
    for a, b in merges:
        pat = F.lit(" " + a + SEP + b + " ")
        rep = F.lit(" " + a + b + " ")
        cur = cur.select(F.replace(F.col("seg"), pat, rep).alias("seg"), "freq")
    return cur.select(
        F.split(F.trim(F.col("seg")), SEP).alias("symbols"), "freq"
    )
