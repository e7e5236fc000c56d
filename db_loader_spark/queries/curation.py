"""Corpus-curation composition queries: canonical-doc selection per
near-dup cluster and deterministic training-shard assignment.

Both are compositions of already-verified building blocks (MinHash
components, quality scoring, md5 hash-bucket determinism) — the "last
mile" of an LLM data pipeline where clusters/scores turn into the rows
that actually ship to training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from db_loader_spark.queries import QuerySpec
from db_loader_spark.tables import load_table

N_SHARDS = 8
_HEX = "0123456789abcdef"


def curation_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the BEST doc per near-dup cluster, not the first: near-dup
    components (MinHash est_sim ≥ 0.5 → connected components) joined to
    the quality score, ranked inside each cluster by (quality DESC,
    doc_id) — the selection policy real pipelines want, since the
    lowest doc_id is usually not the best-written duplicate.

    Scale shape: components and quality are each already-audited
    operators; the selection adds ONE window partitioned by
    component_id (clusters are small by construction — no skewed
    partition) and one size aggregate reusing the same partitioning.
    """
    from db_loader_spark.queries.dedup import dedup_components
    from db_loader_spark.queries.textops import text_quality_score

    comps = dedup_components(spark, sf_dir)
    qual = text_quality_score(spark, sf_dir).select("doc_id", "quality")
    j = comps.join(qual, "doc_id")
    w = W.partitionBy("component_id").orderBy(F.col("quality").desc(), F.col("doc_id"))
    sizes = j.groupBy("component_id").agg(F.count("*").alias("n_docs"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .join(sizes, "component_id")
        .select("component_id", F.col("doc_id").alias("keep_id"), "n_docs", "quality")
    )


def _curation_select_oracle() -> str:
    from db_loader_spark.queries.dedup import _COMPONENTS_ORACLE
    from db_loader_spark.queries.textops import _QUALITY_ORACLE

    return f"""
WITH comp AS ({_COMPONENTS_ORACLE}),
qual AS (SELECT doc_id, quality FROM ({_QUALITY_ORACLE}) q),
j AS (
  SELECT c.component_id, c.doc_id, qual.quality
  FROM comp c JOIN qual ON c.doc_id = qual.doc_id
),
ranked AS (
  SELECT component_id, doc_id, quality,
         ROW_NUMBER() OVER (PARTITION BY component_id
                            ORDER BY quality DESC, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY component_id) AS n_docs
  FROM j
)
SELECT component_id, doc_id AS keep_id,
       CAST(n_docs AS BIGINT) AS n_docs, quality
FROM ranked WHERE rk = 1
"""


def _shard_expr_spark() -> F.Column:
    # 2 hex chars of md5(doc_id) → 0..255 → mod N_SHARDS: deterministic,
    # scan-side (no global sort/NTILE — a global window is exactly what
    # a 100 TB shard assignment must avoid), engine-portable via
    # position-in-alphabet arithmetic instead of hex casts.
    h = "md5(CAST(doc_id AS STRING))"
    v = (
        f"(locate(substring({h}, 1, 1), '{_HEX}') - 1) * 16 + "
        f"(locate(substring({h}, 2, 1), '{_HEX}') - 1)"
    )
    return F.expr(f"CAST(({v}) % {N_SHARDS} AS INT)")


def curation_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance report: every
    doc hashes to one of N_SHARDS shards (md5-bucket, seed-free,
    reproducible on any engine), aggregated to per-shard doc and token
    counts — the check that shards are balanced enough to stripe across
    training workers.

    Scale shape: the shard id is a pure projection on the scan (no
    shuffle to ASSIGN); the report is one map-side-combined aggregate
    to N_SHARDS rows. Writing the shards themselves would be
    ``write.partitionBy(shard_id)`` on the same expression —
    sinks/ddl.write_partitioned's layout with a hash instead of a date.
    """
    from db_loader_spark.functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            _shard_expr_spark().alias("shard_id"),
            token_count(F.col("text")).alias("n_tokens"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


_DUCK_TOKENS = (
    "list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')"
)

_SHARD_ORACLE = f"""
WITH s AS (
  SELECT ((strpos('{_HEX}', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
          + (strpos('{_HEX}', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1))
           % {N_SHARDS} AS shard_id,
         len({_DUCK_TOKENS}) AS n_tokens
  FROM documents
)
SELECT CAST(shard_id AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM s GROUP BY shard_id
"""


SOURCE_CAP = 15  # max docs per source (testdata: 20 sources × 25 docs)


def curation_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota rebalancing: cap each source at SOURCE_CAP
    documents, keeping the best by (quality DESC, doc_id) — the
    anti-overrepresentation step every web-scale corpus applies so a
    single crawl domain can't dominate the training mix. Reports, per
    source, total vs kept docs and the token budget the kept set
    carries.

    Scale shape: ONE window partitioned by source (top-k per group —
    the same TakeOrdered-per-partition shape as w_topk_per_group;
    never a global window) and one map-side-combined aggregate down to
    |sources| rows. If individual sources were billions of rows, the
    exact per-source sort would be replaced by a quality-threshold cut
    at the per-source approx quantile (two cheap passes, no sort) —
    same report schema, documented here rather than implemented,
    because the exact form IS the right plan at directory-like source
    cardinalities."""
    from db_loader_spark.functions import text as TX

    d = load_table(spark, sf_dir, "documents")
    toksed = d.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        "source",
        F.size("toks").alias("n_tok"),
        F.round(TX.quality_score_of(F.col("toks")), 4).alias("quality"),
    )
    w = W.partitionBy("source").orderBy(F.col("quality").desc(), F.col("doc_id"))
    ranked = toksed.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum((F.col("rk") <= SOURCE_CAP).cast("int")).cast("long").alias("n_kept"),
        F.sum(
            F.when(F.col("rk") <= SOURCE_CAP, F.col("n_tok")).otherwise(0)
        ).cast("long").alias("kept_tokens"),
    )


def _source_cap_oracle() -> str:
    from db_loader_spark.queries.textops import _QUALITY_ORACLE

    return f"""
WITH q AS ({_QUALITY_ORACLE}),
j AS (
  SELECT d.source, d.doc_id, q.n_tokens, q.quality,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY q.quality DESC, d.doc_id) AS rk
  FROM documents d JOIN q ON d.doc_id = q.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rk <= {SOURCE_CAP} THEN n_tokens ELSE 0 END) AS BIGINT)
         AS kept_tokens
FROM j GROUP BY source
"""


def curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE curation pipeline as one DataFrame program — the
    production shape of the LLM-data layer, composing the individually
    verified stages end-to-end (every interface, cache lifetime, and
    id-uniqueness precondition under ONE plan):

      0. benchmark split: md5-bucket '0' ≈ 1/16 of docs is the held-out
         eval set (same idiom as text_decontaminate / a_hash_sample);
      1. exact dedup: keep MIN(doc_id) per md5(text);
      2. near-dup canonical selection: MinHash/LSH pairs (est_sim ≥
         0.5, threshold inside the band join) → connected components →
         keep the best-quality doc per cluster (quality DESC, doc_id);
      3. decontamination: drop survivors whose 3-gram overlap with the
         benchmark split reaches contamination ≥ 0.2 (measured-broadcast
         eval side; the fraction gate, not any-hit — on this synthetic
         corpus every doc shares ~10% of trigrams incidentally, and a
         real pipeline likewise audits the fraction rather than nuking
         the corpus on single-shingle collisions);
      4. quality gate: ROUND(score, 4) ≥ 0.3;
      5. context packing: greedy per-lang token-budget bins.

    Returns the packed-bin report (lang, bin_id, n_docs, total_tokens)
    — the rows that actually ship to training. The analog of the
    reference's end-to-end orchestrator
    (scripts/load_csv_to_cloud.sh:107-149), which chains
    scan→dedup→load the same way.

    Scale shape: ONE persisted corpus frame (s1) feeds signatures,
    quality, and the survivor anti-joins; every drop list (near-dup
    losers, contaminated ids) is cluster/overlap-sized — tiny relative
    to the corpus — so the anti-joins broadcast; the only corpus-wide
    exchanges are the signature groupBy, the per-doc-id aggregate in
    decontaminate, and the final (lang, block)-partitioned packing
    windows — block-bounded, so language skew never concentrates the
    emitter on one reducer (textops.pack_doc_bins). The settle
    epilogue releases s1 plus every operator-tracked cache
    (decontaminate's eval shingles) once the small bin report is
    materialized."""
    import os

    from db_loader_spark.functions import dedup as D
    from db_loader_spark.functions import text as TX
    from db_loader_spark.queries.textops import PACK_BUDGET, pack_doc_bins
    from db_loader_spark.session import data_sized_shuffle

    # ~25 jobs over one (often small relative to the session's core
    # count) corpus: size the shuffle-partition bound to the input
    # bytes for the duration of the settle (measured 6.6 → 5.1 s at
    # sf0.1; the same rule yields thousands of partitions at 100 TB).
    # Valid here because settle_drained MATERIALIZES inside the scope.
    with data_sized_shuffle(spark, os.path.join(sf_dir, "documents.parquet")):
        return _curation_e2e_sized(spark, sf_dir, D, TX, PACK_BUDGET, pack_doc_bins)


def _curation_e2e_sized(spark, sf_dir, D, TX, PACK_BUDGET, pack_doc_bins) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from db_loader_spark.session import thread_target

    docs = load_table(spark, sf_dir, "documents")
    is_bench = F.expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) = '0'")
    bench = docs.filter(is_bench)
    corpus = docs.filter(~is_bench)

    # r16 (guide §2.6): decontamination's measured-broadcast sizing
    # pass depends only on the benchmark split, yet it ran as a
    # blocking step BETWEEN the CC fixpoint and the settle — ~0.4 s of
    # execution plus ~0.4 s of planning on the sf0.1 critical path
    # (scripts/probe.py). Submit it from a
    # one-thread pool now so it materializes the eval-shingle cache
    # while the components rounds run; decontaminate() consumes the
    # finished row via prepared=. The frame is tracked on THIS thread
    # (eval_shingle_side), so settle_drained still releases it.
    bench_sh, sizing = D.eval_shingle_side(bench, n=3)
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        sizing_fut = pool.submit(thread_target(spark, sizing.first))

        # stage 1: exact dedup (reuse the operator, same keep policy)
        keep1 = D.exact_duplicates(corpus).select(F.col("keep_id").alias("doc_id"))
        s1 = corpus.join(keep1, "doc_id", "left_semi").persist()

        # stage 2: near-dup components + quality-weighted canonical select
        sig = D.minhash_signatures(s1, num_hashes=8)
        pairs = D.lsh_candidate_pairs(sig, num_hashes=8, band_size=2, min_est_sim=0.5)
        comps = D.connected_components(pairs)
        qual = s1.select(
            "doc_id",
            F.round(TX.quality_score_of(TX.tokens(F.col("text"))), 4).alias("quality"),
        )
        w = W.partitionBy("component_id").orderBy(
            F.col("quality").desc(), F.col("doc_id")
        )
        drop2 = (
            comps.join(qual, "doc_id")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") > 1)
            .select("doc_id")
        )
        s2 = s1.join(drop2, "doc_id", "left_anti")

        # stage 3: benchmark decontamination (drop by contamination
        # fraction); the sizing row was computed concurrently above
        flagged = (
            D.decontaminate(s2, bench, n=3, prepared=(bench_sh, sizing_fut.result()))
            .filter(F.col("contamination") >= 0.2)
            .select("doc_id")
        )
    finally:
        pool.shutdown(wait=True)
    s3 = s2.join(flagged, "doc_id", "left_anti")

    # stage 4: quality gate
    s4 = s3.join(
        qual.filter(F.col("quality") >= 0.3).select("doc_id"), "doc_id", "left_semi"
    )

    # stage 5: greedy per-lang context packing — the shared block-
    # partitioned prefix sum (textops.pack_doc_bins), so the training-
    # batch emitter has no head-language single-reducer sort
    toksed = s4.select(
        "doc_id", "lang", TX.token_count(F.col("text")).alias("n_tok")
    )
    packed = pack_doc_bins(toksed, PACK_BUDGET)
    report = packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    from db_loader_spark import cache

    return cache.settle_drained(report, s1, checkpoints=(comps,))


def _curation_e2e_oracle() -> str:
    """CTE chain mirroring every stage. Re-rooting trick: MinHash
    signatures and shingles are doc-local, so pairs over the deduped
    corpus s1 = the full-table pairs oracle filtered to s1 endpoints —
    the composed oracle reuses the verified _MINHASH_ORACLE /
    _QUALITY_ORACLE strings instead of restating their algebra."""
    from db_loader_spark.queries.dedup import _duck_shingles, _MINHASH_ORACLE
    from db_loader_spark.queries.textops import _QUALITY_ORACLE, PACK_BUDGET

    return f"""
WITH RECURSIVE
bench AS (
  SELECT * FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
),
corpus AS (
  SELECT * FROM documents
  WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
),
keep1 AS (SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
s1 AS (SELECT c.* FROM corpus c JOIN keep1 USING (doc_id)),
pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) q
  WHERE est_sim >= 0.5
    AND doc_a IN (SELECT doc_id FROM s1)
    AND doc_b IN (SELECT doc_id FROM s1)
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id AS doc_id, MIN(lab) AS component_id FROM reach GROUP BY id),
qual AS (
  SELECT q.doc_id, q.quality FROM ({_QUALITY_ORACLE}) q
  JOIN s1 ON q.doc_id = s1.doc_id
),
ranked AS (
  SELECT c.doc_id,
         ROW_NUMBER() OVER (PARTITION BY c.component_id
                            ORDER BY qual.quality DESC, c.doc_id) AS rk
  FROM comp c JOIN qual ON c.doc_id = qual.doc_id
),
s2 AS (
  SELECT * FROM s1
  WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rk > 1)
),
corp_sh AS ({_duck_shingles('s2')}),
bench_sh AS (SELECT DISTINCT shingle FROM ({_duck_shingles('bench')}) b),
flagged AS (
  SELECT id AS doc_id FROM (
    SELECT cs.id, COUNT(*) AS n_shingles,
           SUM(CASE WHEN bs.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
    FROM corp_sh cs LEFT JOIN bench_sh bs USING (shingle)
    GROUP BY cs.id
  ) h
  WHERE n_hits > 0
    AND ROUND(CAST(n_hits AS DOUBLE) / n_shingles, 4) >= 0.2
),
s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
s4 AS (
  SELECT s3.* FROM s3 JOIN qual ON s3.doc_id = qual.doc_id
  WHERE qual.quality >= 0.3
),
t AS (SELECT doc_id, lang, CAST(len({_DUCK_TOKENS}) AS INT) AS n_tok FROM s4),
packed AS (
  SELECT lang,
         CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) - n_tok)
                    / {PACK_BUDGET}) AS BIGINT) AS bin_id,
         n_tok
  FROM t
)
SELECT lang, bin_id, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS total_tokens
FROM packed GROUP BY lang, bin_id
"""


def curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis–Spirakis A-ES
    (2006): each doc gets key = u^(1/w) with u a deterministic md5
    uniform and w its weight (n_chars here — longer docs carry more
    training tokens); the top-k keys per language ARE a weighted
    sample without replacement — the data-mixing primitive for
    "sample 10 docs per language, probability ∝ length".

    Scale shape: key computation is a pure scan-side projection (no
    RNG state, reproducible under retries/re-partitioning — the
    a_hash_sample argument); selection is one per-language window,
    never a global sort. Cross-engine FP honesty: the key is ROUNDed
    to 6 dp before ranking with a doc_id tiebreak, so a last-ulp
    pow/ln divergence between the JVM and DuckDB libm cannot flip a
    rank (ties at 6 dp resolve identically on both engines)."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT)"
        )
        + 1
    ) / F.lit(float(2**32) + 1)
    # greatest(w, 1): n_chars is strictly positive in every shipped
    # testdata revision, but a zero under schema drift would hit the
    # engines' divergent 1/0 semantics (Infinity vs error) — clamp
    # identically on BOTH sides so drift degrades, never diverges
    key = F.round(F.pow(u, F.lit(1.0) / F.greatest(F.col("n_chars"), F.lit(1))), 6)
    w = W.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        d.select("doc_id", "lang", F.col("n_chars").alias("weight"), key.alias("es_key"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "lang", "weight", "es_key", F.col("rk").cast("int").alias("rk"))
    )


_WEIGHTED_SAMPLE_ORACLE = """
WITH keyed AS (
  SELECT doc_id, lang, n_chars AS weight,
         ROUND(pow(
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                 AS BIGINT) + 1) / (4294967296.0 + 1),
           1.0 / greatest(n_chars, 1)), 6) AS es_key
  FROM documents
)
SELECT doc_id, lang, weight, es_key, CAST(rk AS INT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY es_key DESC, doc_id) AS rk
  FROM keyed
) WHERE rk <= 10
"""


DSIR_TARGET_LANG = "en"


def curation_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight (Xie et al. 2023, arXiv:2302.03169):
    score every document by the mean log ratio of a TARGET unigram LM
    (here: the corpus's 'en' slice — the distribution you want more of)
    to the BACKGROUND LM (the whole corpus), add-one smoothed over the
    shared vocabulary. Docs that look like the target score high;
    importance resampling then keeps documents with probability
    ∝ exp(weight) — the principled alternative to hard quality cuts.

    Scale shape: the same Zipf-bounded count-table machinery as
    text_lm_score — one explode, two token-count shuffles (target
    counts LEFT-join onto background counts so unseen-in-target words
    smooth to c=0), corpus scalars broadcast as one row, scoring join
    on the token key, one per-doc aggregate. Counts are exact
    integers; the final mean-of-log-ratios is the only FP, ROUNDed
    4 dp on both engines, then ``+ 0.0`` to normalize signed zeros:
    a tiny negative mean rounds to ``-0.0`` in DuckDB but ``+0.0``
    through Spark's pipeline, and the driver's value hash
    distinguishes the two (the r9 round's one red row); IEEE 754
    defines ``-0.0 + 0.0 = +0.0``, so the addition is a no-op on
    every other value."""
    from db_loader_spark.functions import text as TX

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("w")
    )
    c_bg = toks.groupBy("w").agg(F.count("*").alias("c_bg"))
    c_tgt = (
        toks.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("w")
        .agg(F.count("*").alias("c_tgt"))
    )
    vocab = c_bg.join(c_tgt, "w", "left").select(
        "w", "c_bg", F.coalesce("c_tgt", F.lit(0)).alias("c_tgt")
    )
    stats = vocab.agg(
        F.sum("c_bg").alias("n_bg"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count("*").alias("v"),
    )
    log_ratio = F.log(
        (F.col("c_tgt") + 1) / (F.col("n_tgt") + F.col("v"))
    ) - F.log((F.col("c_bg") + 1) / (F.col("n_bg") + F.col("v")))
    return (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            (F.round(F.sum(log_ratio) / F.count("*"), 4) + F.lit(0.0)).alias(
                "dsir_weight"
            ),
        )
    )


_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest({_DUCK_TOKENS}) AS w
  FROM documents
),
c_bg AS (SELECT w, COUNT(*) AS c_bg FROM toks GROUP BY 1),
c_tgt AS (SELECT w, COUNT(*) AS c_tgt FROM toks
          WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
vocab AS (
  SELECT b.w, b.c_bg, COALESCE(t.c_tgt, 0) AS c_tgt
  FROM c_bg b LEFT JOIN c_tgt t USING (w)
),
stats AS (
  SELECT SUM(c_bg) AS n_bg, SUM(c_tgt) AS n_tgt, COUNT(*) AS v FROM vocab
)
SELECT tk.doc_id, tk.lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       ROUND(SUM(ln((vb.c_tgt + 1) / (s.n_tgt + s.v))
                 - ln((vb.c_bg + 1) / (s.n_bg + s.v))) / COUNT(*), 4) + 0.0
         AS dsir_weight
FROM toks tk JOIN vocab vb USING (w) CROSS JOIN stats s
GROUP BY tk.doc_id, tk.lang
"""


QUERIES: dict[str, QuerySpec] = {
    "curation_e2e": QuerySpec(
        curation_e2e,
        _curation_e2e_oracle(),
        "full pipeline: dedup -> components -> select -> decontaminate "
        "-> quality -> pack, one plan",
    ),
    "curation_shard_assign": QuerySpec(
        curation_shard_assign,
        _SHARD_ORACLE,
        "deterministic hash sharding + balance report",
    ),
    "curation_source_cap": QuerySpec(
        curation_source_cap,
        _source_cap_oracle(),
        "per-source quota rebalancing (best-quality keep, token budget)",
    ),
    "curation_weighted_sample": QuerySpec(
        curation_weighted_sample,
        _WEIGHTED_SAMPLE_ORACLE,
        "Efraimidis-Spirakis weighted sample w/o replacement, per language",
    ),
    "curation_dsir_weight": QuerySpec(
        curation_dsir_weight,
        _DSIR_ORACLE,
        "DSIR importance weight: target/background LM log ratio per doc",
    ),
}

# r8 steady-state demotion (pytest-oracle tier; registry → 100 keys,
# VERDICT r7 #2): curation_select's cluster-canonical pick is stage 2
# of the windowed curation_e2e pipeline (the same components → quality
# → rank-1-per-cluster window, hashed end-to-end in one plan), so its
# standalone slot bought no new external evidence. Value checks stay
# in tests/test_oracle_queries.py via diagnostic_queries().
DIAGNOSTICS: dict[str, QuerySpec] = {
    "curation_select": QuerySpec(
        curation_select,
        _curation_select_oracle(),
        "quality-weighted canonical doc per near-dup cluster",
    ),
}
