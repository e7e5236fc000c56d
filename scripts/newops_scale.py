#!/usr/bin/env python
"""1x/4x/16x corpus sweep for the round-6 operators (SCALE.md evidence).

Same seeded synthetic-corpus methodology as decontam_scale.py (hash
-based Zipf-ish docs, deterministic, no RNG state). Three claims to
measure, not assume:

  - BPE training: the merge rounds are VOCAB-sized, so past the one
    corpus-sized word-count pass, wall time should be ~flat as the
    corpus grows (the synthetic vocabulary saturates, as real Zipf
    vocabularies do relative to corpus growth).
  - BM25: the TF/DF aggregates are the only corpus-sized work — wall
    should grow ~linearly, and the scoring join touches only the query
    terms' posting rows.
  - SemDeDup: within-cell candidates grow ~n_c^2 per cell — at FIXED
    n_bits a 4x corpus quadruples cell sizes (16x pairs); raising
    n_bits with the corpus (the documented knob) restores bounded cell
    sizes. Measure pairs and wall at (1x, 4 bits), (4x, 4 bits),
    (4x, 6 bits).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from db_loader_spark.functions import similarity as S
from db_loader_spark.functions.bpe import bpe_train
from db_loader_spark.session import get_spark

VOCAB = 5_000
DOC_TOKENS = 30
DIM = S.EMBEDDING_DIM


def synth_docs(spark, n: int, seed: str):
    # letters-only tokens (digits spelled a-j): word_vocab/BPE tokenize
    # on [a-z]+, so a digit-bearing vocab would collapse to one word
    tok = (
        "transform(sequence(1, {m}), "
        "j -> concat('t', translate(CAST(CAST(FLOOR({v} * pow(pmod(hash(concat('{s}', id, '#', j)), 10000) / 10000.0, 3)) AS INT) AS STRING), '0123456789', 'abcdefghij')))"
    ).format(m=DOC_TOKENS, v=VOCAB, s=seed)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.expr(tok)).alias("text"),
    )


def synth_emb(spark, n: int, seed: str):
    """Deterministic unit-ish vectors: dim components from hashes."""
    vec = (
        "transform(sequence(1, {d}), "
        "j -> CAST(pmod(hash(concat('{s}', id, ':', j)), 2001) / 1000.0 - 1.0 AS FLOAT))"
    ).format(d=DIM, s=seed)
    return spark.range(n).select(
        F.col("id").alias("vec_id"), F.expr(vec).alias("embedding")
    )


def timed(label: str, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"{label}: {dt:.2f}s {out}")
    return dt


def main() -> None:
    spark = get_spark("newops-scale")
    spark.range(1).count()  # warm

    print("== BPE training (vocab-sized rounds) ==")
    bpe_train(synth_docs(spark, 200, "warm"), n_merges=2)  # codegen warm
    for scale in (1, 4, 16):
        docs = synth_docs(spark, 5_000 * scale, "bpe").persist()
        n = docs.count()
        spark._jvm.System.gc()
        timed(
            f"bpe {scale}x ({n} docs)",
            lambda d=docs: f"merges={bpe_train(d, n_merges=8)[0].count()}",
        )
        docs.unpersist()

    print("== BM25 (corpus-linear TF/DF, bounded probe) ==")
    from db_loader_spark.functions import text as TX
    from pyspark.sql import Window as W

    def bm25(docs):
        tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
        dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
        dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
        stats = docs.agg(F.countDistinct("doc_id").alias("n_docs")).crossJoin(
            dl.agg(F.avg("dl").alias("avgdl"))
        )
        qterms = (
            dfreq.withColumn(
                "qrk", F.row_number().over(W.orderBy(F.col("df").desc(), "tok"))
            )
            .filter((F.col("qrk") >= 11) & (F.col("qrk") <= 13))
            .select("tok", "df")
        )
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
        tfn = (F.col("tf") * 2.2) / (
            F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
        return (
            tf.join(F.broadcast(qterms), "tok")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(idf * tfn), 4).alias("bm25"))
            .count()
        )

    for scale in (1, 4, 16):
        docs = synth_docs(spark, 5_000 * scale, "bm").persist()
        docs.count()
        spark._jvm.System.gc()
        timed(f"bm25 {scale}x", lambda d=docs: f"scored={bm25(d)}")
        docs.unpersist()

    print("== SemDeDup (the n_bits knob) ==")

    def semantic_pairs(emb, n_bits: int):
        cents = S.kmeans_centroids(emb, "embedding", n_bits, 2)
        lists = S.ivf_inverted_lists(emb, cents)
        a = lists.select(
            "cell",
            F.col("neighbor_id").alias("id_a"),
            F.col("c_vec").alias("vec_a_"),
            F.col("c_nrm").alias("nrm_a"),
        )
        b = lists.select(
            "cell",
            F.col("neighbor_id").alias("id_b"),
            F.col("c_vec").alias("vec_b_"),
            F.col("c_nrm").alias("nrm_b"),
        )
        cos = S.cosine_expr("vec_a_", "vec_b_", "nrm_a", "nrm_b")
        return (
            a.join(b, "cell")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(F.round(cos, 3).alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.4)
            .count()
        )

    for scale, n_bits in ((1, 4), (4, 4), (4, 6)):
        emb = synth_emb(spark, 2_000 * scale, "sem").persist()
        n = emb.count()
        spark._jvm.System.gc()
        timed(
            f"semantic {scale}x n_bits={n_bits} ({n} vecs)",
            lambda e=emb, b=n_bits: f"pairs={semantic_pairs(e, b)}",
        )
        emb.unpersist()


if __name__ == "__main__":
    main()
