"""Distributed BPE vocabulary training (Sennrich et al. 2016,
arXiv:1508.07909) as an iterative DataFrame program — the tokenizer-
training half of a training-data pipeline (the scoring half is
functions.text.bpe_ish_tokens, which applies a FIXED public-vocab-shaped
regex; this module LEARNS the merge table from the corpus itself).

Shape at 100 TB: the corpus-sized work happens exactly ONCE — the word
-count aggregate, a map-side-combined groupBy whose output is Zipf
-bounded (the same argument as the bigram LM count tables in
queries/textops.py: vocabulary grows ~ O(corpus^0.5), not linearly).
Every merge round after that touches only the VOCAB table: one
pair-count aggregate over ~|vocab| short arrays, one driver-side argmax
of a single row (benign by the band-stats precedent — it is the merge
RULE, not data), and one in-row fold applying the rule. No round
shuffles the corpus; rounds are independent of corpus size entirely.
``localCheckpoint`` per round truncates the growing fold lineage — the
connected_components / kmeans_centroids idiom.

Determinism: ties in pair counts break lexicographically on (lhs, rhs),
so the learned merge table is a pure function of the corpus.

No reference parity: the 2012 reference has no tokenizer surface; this
belongs to the LLM-pipeline mandate (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from db_loader_spark.session import local_frame

END_OF_WORD = "</w>"

MERGE_SCHEMA = StructType(
    [
        StructField("merge_rank", IntegerType(), False),
        StructField("lhs", StringType(), False),
        StructField("rhs", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_count", LongType(), False),
    ]
)


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, freq) vocabulary: the single corpus-sized pass.

    Words are lowercase [a-z]+ runs (the documents table's token
    alphabet); restricting the alphabet also guarantees symbols never
    need SQL-literal escaping in the merge fold."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _initial_syms() -> str:
    """word → its character symbols plus the end-of-word marker."""
    return (
        "array_append(transform(sequence(1, length(word)),"
        f" i -> substring(word, i, 1)), '{END_OF_WORD}')"
    )


def _pair_structs(syms_col: str = "syms") -> str:
    """Adjacent symbol pairs of one word (empty for fully-merged words)."""
    return (
        f"IF(size({syms_col}) < 2,"
        " CAST(array() AS array<struct<lhs:string,rhs:string>>),"
        f" transform(sequence(0, size({syms_col}) - 2),"
        f" i -> struct({syms_col}[i] AS lhs, {syms_col}[i + 1] AS rhs)))"
    )


def _apply_merge(syms_col: str, lhs: str, rhs: str) -> str:
    """One greedy left-to-right non-overlapping merge pass as an in-row
    ``aggregate`` fold: state = (emitted symbols, one pending symbol);
    when (pending, next) is the merge pair, emit the merged symbol and
    clear pending — the merged symbol is never reconsidered, which IS
    the non-overlap rule ('aaaa' + (a,a) → ['aa','aa'])."""
    merged = lhs + rhs
    return f"""aggregate(
      {syms_col},
      named_struct('out', CAST(array() AS array<string>),
                   'pend', CAST(NULL AS string)),
      (acc, s) -> CASE
         WHEN acc.pend IS NULL THEN named_struct('out', acc.out, 'pend', s)
         WHEN acc.pend = '{lhs}' AND s = '{rhs}'
           THEN named_struct('out', array_append(acc.out, '{merged}'),
                             'pend', CAST(NULL AS string))
         ELSE named_struct('out', array_append(acc.out, acc.pend), 'pend', s)
      END,
      acc -> IF(acc.pend IS NULL, acc.out, array_append(acc.out, acc.pend))
    )"""


def bpe_train(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus.

    Returns ``(merges, segmented_vocab)``: the ranked merge table
    (merge_rank, lhs, rhs, merged, pair_count) and the vocabulary with
    each word's final symbol segmentation after all merges — the frame
    a tokenizer ships (applying BPE to text is then a broadcast join on
    word, never a re-fold).

    The per-round driver argmax is ONE row (the merge rule); training
    stops early if no adjacent pair remains. See the module docstring
    for the 100 TB cost shape.

    r15 round-cost shave (guide §1.2): each round is ONE job, not two.
    The folded vocabulary is a LAZY ``localCheckpoint`` whose
    materializing action is the NEXT round's pair-count argmax — the
    old shape checkpointed eagerly (a second job per round) before the
    argmax ran. Lineage stays one fold deep: round k's argmax
    materializes vocab_k's checkpoint, so vocab_{k+1}'s plan is a
    single fold over a truncated frame. The final vocab is returned
    lazy and truncates on its consumer's first action (the tokenizer's
    broadcast-join build). Measured at sf0.1 (bench protocol, median
    of 3): 4.08 → 3.79 s (~7%) — the job-count halves but each argmax
    job now carries the fold, so the win is overhead, not compute.

    r16 storage bound (guide §5; VERDICT r15 #3): round k's argmax
    materializes vocab_k's checkpoint, at which point vocab_{k-1}'s
    blocks are superseded — they are freed explicitly instead of
    accumulating O(n_merges) vocab tables in executor storage until
    the ContextCleaner notices (the connected_components treatment).
    At most two rounds' blocks are live at once: the materialized
    round and its (still-needed) predecessor — the predecessor of the
    FINAL lazy vocab is deliberately kept, since the returned frame
    materializes from it on the consumer's first action.
    """
    from db_loader_spark import cache

    spark = docs.sparkSession
    vocab = (
        word_vocab(docs, text_col)
        .select("word", "freq", F.expr(_initial_syms()).alias("syms"))
        .localCheckpoint(eager=False)
    )
    prev_vocab = None  # the round before the one the argmax materializes
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            vocab.select("freq", F.explode(F.expr(_pair_structs())).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        # the argmax materialized `vocab`'s checkpoint: its predecessor
        # is superseded — free its blocks now (r16; see the docstring)
        if prev_vocab is not None:
            cache.free_local_checkpoint(prev_vocab)
        if not best:
            break  # every word fully merged — nothing left to learn
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["pair_count"]
        merges.append((rank, lhs, rhs, lhs + rhs, cnt))
        prev_vocab = vocab
        vocab = vocab.select(
            "word", "freq", F.expr(_apply_merge("syms", lhs, rhs)).alias("syms")
        ).localCheckpoint(eager=False)
    return local_frame(spark, merges, MERGE_SCHEMA), vocab
