"""Dedup queries over the documents table, with DuckDB oracles.

The oracles mirror the exact algorithm semantics (md5-string MinHash,
nibble-decoded SimHash votes) so even hash-based operators get a full
value-level correctness check, not just a rows-only one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from db_loader_spark import cache
from db_loader_spark.functions import dedup as D
from db_loader_spark.queries import QuerySpec
from db_loader_spark.tables import load_table

# Shared DuckDB fragments ----------------------------------------------------

_DUCK_TOKENS = (
    "list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '')"
)

def _duck_shingles(src: str = "documents") -> str:
    """Shingle CTE over any source relation (parameterized so composed
    oracles like the curation funnel re-root it without fragile string
    replacement)."""
    return f"""
  SELECT DISTINCT doc_id AS id,
         unnest(list_transform(range(1, len(tokens) - 1),
                               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
           AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKENS} AS tokens FROM {src})
  WHERE len(tokens) >= 3
"""


_DUCK_SHINGLES = _duck_shingles()


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(load_table(spark, sf_dir, "documents"))


_EXACT_ORACLE = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.05)


_JACCARD_ORACLE = f"""
WITH sh AS ({_DUCK_SHINGLES}),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.id
JOIN sizes sb ON doc_b = sb.id
WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= 0.05
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-row-band MinHash/LSH with an est_sim threshold (registry
    queries must not ship the bare corpus-tuned banding): ≥ 3/8
    matching components, evaluated INSIDE the band join so baseline
    2/8 collisions die in the join operator.

    Returned lazily: the fixed-band path persists nothing, so there is
    no cache to release and the caller's action is the one execution."""
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs, num_hashes=8)
    return D.lsh_candidate_pairs(sig, num_hashes=8, band_size=2, min_est_sim=0.375)


_MINHASH_SIG_COLS = ",\n       ".join(
    f"MIN(CASE WHEN seed = {i} THEN mh END) AS h{i}" for i in range(8)
)
_MINHASH_BANDS = "\nUNION ALL\n".join(
    f"SELECT id, {b} AS band_idx, h{2 * b} || h{2 * b + 1} AS band_key FROM sig"
    for b in range(4)
)
_MINHASH_MATCHES = " + ".join(
    f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(8)
)

_MINHASH_ORACLE = f"""
WITH sh AS ({_DUCK_SHINGLES}),
seeded AS (
  -- first 8 hex chars = the 32-bit prefix the Spark side min's as a long;
  -- lexicographic min over fixed-width lowercase hex == numeric min
  SELECT id, shingle, s.seed,
         substr(md5(CAST(s.seed AS VARCHAR) || '|' || shingle), 1, 8) AS mh
  FROM sh, (SELECT unnest(range(8)) AS seed) s
),
sig AS (SELECT id, {_MINHASH_SIG_COLS} FROM seeded GROUP BY id),
banded AS ({_MINHASH_BANDS}),
cand AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
)
SELECT doc_a, doc_b,
       ROUND(CAST({_MINHASH_MATCHES} AS DOUBLE) / 8, 4) AS est_sim
FROM cand JOIN sig sa ON doc_a = sa.id JOIN sig sb ON doc_b = sb.id
WHERE ROUND(CAST({_MINHASH_MATCHES} AS DOUBLE) / 8, 4) >= 0.375
"""


def dedup_minhash_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-TUNED MinHash/LSH near-dup: the band width is derived from
    the measured ¼-sample collision rate (narrowest banding whose
    extrapolated candidate volume stays near-linear — see
    functions.dedup.tuned_band_size), with the est_sim ≥ 3/8 threshold
    inside the band join. The oracle re-derives the SAME width in SQL
    (a static UNION of per-width band joins gated on the computed
    choice), so the tuning decision itself is value-checked rather
    than trusted as a corpus-tuned default."""
    docs = load_table(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs, num_hashes=8)
    out = D.lsh_candidate_pairs(sig, num_hashes=8, band_size=None, min_est_sim=0.375)
    return cache.settle_drained(out)


_TUNED_DIVS = (1, 2, 4, 8)


def _duck_band_key(b: int, i: int) -> str:
    """band key for width-b band i with the same '|' separator the
    Spark side's concat_ws uses (separators prevent digit-aliasing
    between adjacent components)."""
    return " || '|' || ".join(f"CAST(h{b * i + j} AS VARCHAR)" for j in range(b))


_TUNED_CFG = "\n  UNION ALL\n".join(
    f"  SELECT {b} AS b, {i} AS band_idx, {_duck_band_key(b, i)} AS band_key FROM samp"
    for b in _TUNED_DIVS
    for i in range(8 // b)
)
_TUNED_BANDS = {
    b: "\nUNION ALL\n".join(
        f"SELECT id, {i} AS band_idx, {_duck_band_key(b, i)} AS band_key FROM sig"
        for i in range(8 // b)
    )
    for b in _TUNED_DIVS
}
_TUNED_CAND = "\n  UNION ALL\n".join(
    f"  SELECT a.id AS doc_a, b2.id AS doc_b FROM band_{b} a JOIN band_{b} b2"
    f" ON a.band_idx = b2.band_idx AND a.band_key = b2.band_key AND a.id < b2.id"
    f" WHERE (SELECT b FROM chosen) = {b}"
    for b in _TUNED_DIVS
)

_TUNED_ORACLE = f"""
WITH sh AS ({_DUCK_SHINGLES}),
seeded AS (
  SELECT id, shingle, s.seed,
         substr(md5(CAST(s.seed AS VARCHAR) || '|' || shingle), 1, 8) AS mh
  FROM sh, (SELECT unnest(range(8)) AS seed) s
),
sig AS (SELECT id, {_MINHASH_SIG_COLS} FROM seeded GROUP BY id),
samp AS (
  SELECT * FROM sig
  WHERE substr(md5(CAST(id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
),
cfg AS (
{_TUNED_CFG}
),
raw_counts AS (
  SELECT b, CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs_s FROM (
    SELECT b, band_idx, band_key, COUNT(*) AS n FROM cfg GROUP BY 1, 2, 3
  ) GROUP BY b
),
counts AS (
  SELECT bs.b, COALESCE(rc.pairs_s, 0) AS pairs_s
  FROM (SELECT unnest([1, 2, 4, 8]) AS b) bs
  LEFT JOIN raw_counts rc USING (b)
),
scal AS (SELECT (SELECT COUNT(*) FROM sig) AS n_total,
                (SELECT COUNT(*) FROM samp) AS n_sample),
chosen AS (
  SELECT COALESCE((SELECT MIN(c.b) FROM counts c, scal s
                   WHERE c.pairs_s * s.n_total <= 2 * s.n_sample * s.n_sample), 8) AS b
),
band_1 AS ({_TUNED_BANDS[1]}),
band_2 AS ({_TUNED_BANDS[2]}),
band_4 AS ({_TUNED_BANDS[4]}),
band_8 AS ({_TUNED_BANDS[8]}),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
{_TUNED_CAND}
  )
)
SELECT doc_a, doc_b,
       ROUND(CAST({_MINHASH_MATCHES} AS DOUBLE) / 8, 4) AS est_sim
FROM cand JOIN sig sa ON doc_a = sa.id JOIN sig sb ON doc_b = sb.id
WHERE ROUND(CAST({_MINHASH_MATCHES} AS DOUBLE) / 8, 4) >= 0.375
"""


_SIMHASH_BITS = 64  # 4 bands × 16 bits — see functions/dedup.py scale notes


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash, 4×16-bit bands, Hamming ≤ 3 — the Manku et al.
    operating point. max_hamming=3 < n_bands=4 is the pigeonhole
    guarantee: ≤3 flipped bits can't touch all 4 bands, so the banded
    search finds EVERY pair within the threshold (exact, not approximate)
    while the 65,536-bucket bands keep candidate volume near-linear."""
    docs = load_table(spark, sf_dir, "documents")
    sig = D.simhash_bits(docs, bits=_SIMHASH_BITS)
    out = D.simhash_near_pairs(sig, bits=_SIMHASH_BITS, max_hamming=3)
    return cache.settle_drained(out)


_SIMHASH_N_BANDS = _SIMHASH_BITS // 16

# mirror of functions.dedup.simhash_bits nibble decode (1-based substr)
_SIMHASH_NIBBLES = ", ".join(
    f"(instr('0123456789abcdef', substr(hx, {i + 1}, 1)) - 1) AS n{i}"
    for i in range(_SIMHASH_BITS // 4)
)
_SIMHASH_VOTES = ",\n       ".join(
    f"SUM((CAST(FLOOR(n{p // 4} / {2 ** (3 - p % 4)}) AS BIGINT) % 2) * 2 - 1) AS v{p}"
    for p in range(_SIMHASH_BITS)
)
_SIMHASH_BAND_VALS = ", ".join(
    "("
    + " + ".join(
        f"(CASE WHEN v{b * 16 + j} >= 0 THEN {2 ** (15 - j)} ELSE 0 END)"
        for j in range(16)
    )
    + f") AS band{b}"
    for b in range(_SIMHASH_N_BANDS)
)
_SIMHASH_BANDS = "\nUNION ALL\n".join(
    f"SELECT *, {b} AS band_idx, band{b} AS band_val FROM sig"
    for b in range(_SIMHASH_N_BANDS)
)
# integer Hamming: bit_count(xor) per band, same as the Spark residual
_SIMHASH_HAMMING = " + ".join(
    f"bit_count(xor(a.band{k}, b.band{k}))" for k in range(_SIMHASH_N_BANDS)
)

_SIMHASH_ORACLE = f"""
WITH tok AS (
  SELECT DISTINCT doc_id AS id, unnest({_DUCK_TOKENS}) AS tok FROM documents
),
hashed AS (SELECT id, substr(md5(tok), 1, {_SIMHASH_BITS // 4}) AS hx FROM tok),
nib AS (SELECT id, {_SIMHASH_NIBBLES} FROM hashed),
votes AS (SELECT id, {_SIMHASH_VOTES} FROM nib GROUP BY id),
sig AS (SELECT id, {_SIMHASH_BAND_VALS} FROM votes),
pairs AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b, {_SIMHASH_HAMMING} AS hamming
  FROM ({_SIMHASH_BANDS}) a JOIN ({_SIMHASH_BANDS}) b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.id < b.id
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs WHERE hamming <= 3
"""


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-curation pipeline as ONE query: exact dedup
    → MinHash near-dup removal → quality filter, reporting the doc count
    surviving each stage — the funnel dashboard every training-data run
    produces.

    Stage policies (deterministic, mirrored in the oracle): exact keeps
    the min doc_id per content hash; near-dup drops every doc_b of a
    candidate pair with est_sim ≥ 0.5 (threshold evaluated INSIDE the
    band join); quality keeps ROUND(score,4) ≥ 0.3. Each stage feeds
    the next, so the counts compose — this exercises operator chaining,
    not just single operators.

    Shuffle sizing (the curation_e2e rule): a ~15-job settling funnel
    over one input pays per-stage scheduling for every configured map
    task, so the shuffle-partition bound is scoped to the input bytes
    for the duration of the settle; the same bytes-per-partition
    formula yields thousands of partitions at 100 TB. Valid because
    settle_drained MATERIALIZES in scope."""
    import os

    from db_loader_spark.functions.text import quality_score_of, tokens
    from db_loader_spark.session import data_sized_shuffle

    with data_sized_shuffle(spark, os.path.join(sf_dir, "documents.parquet")):
        return _curation_funnel_sized(spark, sf_dir, quality_score_of, tokens)


def _curation_funnel_sized(spark, sf_dir, quality_score_of, tokens) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # same keep policy as dedup_exact -- reuse the operator, don't restate it
    keep1 = D.exact_duplicates(docs).select(F.col("keep_id").alias("doc_id"))
    # The four count branches reference the staged frames repeatedly
    # (s1 three times, s2 twice) -- persist so the exact-dedup join and
    # the band self-join run ONCE per funnel. CacheManager dedups the
    # entries by plan across repeated builds.
    s1 = docs.join(keep1, "doc_id", "left_semi").persist()
    sig = D.minhash_signatures(s1, num_hashes=8)
    drops = (
        D.lsh_candidate_pairs(sig, num_hashes=8, band_size=2, min_est_sim=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    s2 = s1.join(drops, "doc_id", "left_anti").persist()
    toksed = s2.select("doc_id", tokens(F.col("text")).alias("toks"))
    s3 = toksed.filter(F.round(quality_score_of(F.col("toks")), 4) >= 0.3)

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    counts = (
        stage("1_input", docs)
        .unionByName(stage("2_exact", s1))
        .unionByName(stage("3_neardup", s2))
        .unionByName(stage("4_quality", s3))
    )
    # 4 count rows persist; the corpus-sized s1/s2 caches are released
    # so they do not stay pinned for the session lifetime.
    return cache.settle_drained(counts, s1, s2)


from db_loader_spark.functions.text import STOPWORDS as _SW_LIST

_FUNNEL_SW = ", ".join(f"'{w}'" for w in _SW_LIST)
_FUNNEL_SHINGLES = _duck_shingles("s1")

_FUNNEL_ORACLE = f"""
WITH keep1 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
s1 AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
sh AS ({_FUNNEL_SHINGLES}),
seeded AS (
  SELECT id, shingle, s.seed,
         substr(md5(CAST(s.seed AS VARCHAR) || '|' || shingle), 1, 8) AS mh
  FROM sh, (SELECT unnest(range(8)) AS seed) s
),
sig AS (SELECT id, {_MINHASH_SIG_COLS} FROM seeded GROUP BY id),
banded AS ({_MINHASH_BANDS}),
cand AS (
  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.id < b.id
),
drops AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM cand JOIN sig sa ON doc_a = sa.id JOIN sig sb ON doc_b = sb.id
  WHERE ROUND(CAST({_MINHASH_MATCHES} AS DOUBLE) / 8, 4) >= 0.5
),
s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
toks2 AS (SELECT doc_id, {_DUCK_TOKENS} AS tokens FROM s2),
s3 AS (
  SELECT doc_id FROM toks2
  WHERE ROUND(0.5 * least(CAST(len(tokens) AS DOUBLE) / 100.0, 1.0)
              + 0.5 * (CASE WHEN len(tokens) > 0
                            THEN len(list_filter(tokens, t -> t IN ({_FUNNEL_SW})))
                                 / len(tokens)
                            ELSE 0.0 END), 4) >= 0.3
)
SELECT '1_input' AS stage, COUNT(*) AS n_docs FROM documents
UNION ALL SELECT '2_exact', COUNT(*) FROM s1
UNION ALL SELECT '3_neardup', COUNT(*) FROM s2
UNION ALL SELECT '4_quality', COUNT(*) FROM s3
"""


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: MinHash/LSH pairs (est_sim ≥ 0.5) → connected
    components → (doc_id, component_id). The iterative-fixpoint operator;
    the oracle expresses the same closure with a recursive CTE.

    Shuffle sizing is scoped to the input (the curation_e2e rule):
    pointer jumping runs log-round ITERATIVE jobs whose exchanges all
    pay the configured map-task count, the worst case for a small
    input under a big static bound."""
    import os

    from db_loader_spark.session import data_sized_shuffle

    docs = load_table(spark, sf_dir, "documents")
    with data_sized_shuffle(spark, os.path.join(sf_dir, "documents.parquet")):
        sig = D.minhash_signatures(docs, num_hashes=8)
        # threshold inside the band join (residual predicate) — low-sim
        # collisions never leave the join operator
        pairs = D.lsh_candidate_pairs(sig, num_hashes=8, band_size=2, min_est_sim=0.5)
        comps = D.connected_components(pairs)
        return cache.settle_drained(comps, checkpoints=(comps,))


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE}) q WHERE est_sim >= 0.5
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
)
SELECT id AS doc_id, CAST(MIN(lab) AS BIGINT) AS component_id
FROM reach GROUP BY id
"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from db_loader_spark.functions.similarity import cosine_pairs

    return cosine_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def _duck_dot(a: str, b: str, dim: int = 64) -> str:
    return " + ".join(
        f"CAST({a}.embedding[{i}] AS DOUBLE) * CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    )


_COSINE_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(({_duck_dot('a', 'b')})
             / (sqrt({_duck_dot('a', 'a')}) * sqrt({_duck_dot('b', 'b')})), 3)
         AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND(({_duck_dot('a', 'b')})
            / (sqrt({_duck_dot('a', 'a')}) * sqrt({_duck_dot('b', 'b')})), 3) >= 0.4
"""


def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time exact-dup prefiltering with a Bloom membership
    sketch (functions.sketch.bloom_build/bloom_probe — see the module
    comment for the broadcast-bits scale argument): the standing
    corpus (doc_id % 5 != 0) is compressed to a 64 Kbit filter (a
    16 KB broadcast), the incoming batch (doc_id % 5 == 0) probes it,
    and only bloom-POSITIVE rows would pay the exact verify join.
    Output is the confusion summary (bloom_positive x exact_member
    counts) — the filter's self-eval: the (false, true) cell MUST be
    empty (no false negatives, structural), and the (true, false)
    cell over the non-members is the measured FP rate the m/k sizing
    promises (<1% at the sf0.1 corpus, ~4k keys, k=3; an earlier
    2048-bit sizing measurably SATURATED there — 99% FP — which is
    the sizing lesson the summary exists to catch).

    At 100 TB, m is sized from the corpus's distinct-key estimate —
    exactly what the HLL/KMV sketches in this module provide for free
    — and the filter is built by a mergeable bit_or aggregate and
    maintained incrementally, like t_stream_signatures maintains
    MinHash signatures; the probe side never shuffles the corpus at
    all."""
    from db_loader_spark.functions.sketch import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.md5("text").alias("key")
    ).distinct()
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.md5("text").alias("key")
    )
    flags = bloom_probe(batch, bloom_build(corpus), "doc_id", "key")
    member = batch.join(
        corpus.withColumn("exact_member", F.lit(True)), "key", "left"
    ).select("doc_id", F.coalesce("exact_member", F.lit(False)).alias("exact_member"))
    return (
        flags.join(member, "doc_id")
        .groupBy("bloom_positive", "exact_member")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _bloom_oracle() -> str:
    from db_loader_spark.functions.sketch import BLOOM_BITS, BLOOM_K

    def pos(key: str, j: int) -> str:
        return (
            f"CAST(('0x' || substring(md5('bf' || {j} || ':' || {key}), 1, 8))::UBIGINT"
            f" AS BIGINT) % {BLOOM_BITS}"
        )

    probe_pos = " UNION ALL ".join(
        f"SELECT doc_id, key, {pos('key', j)} AS pos FROM batch"
        for j in range(BLOOM_K)
    )
    corpus_pos = " UNION ALL ".join(
        f"SELECT {pos('key', j)} AS pos FROM corpus" for j in range(BLOOM_K)
    )
    return f"""
WITH corpus AS (
  SELECT DISTINCT md5(text) AS key FROM documents WHERE doc_id % 5 <> 0
), batch AS (
  SELECT doc_id, md5(text) AS key FROM documents WHERE doc_id % 5 = 0
), cpos AS ({corpus_pos}),
words AS (
  SELECT pos // 32 AS word, bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS wbits
  FROM cpos GROUP BY 1
), ppos AS ({probe_pos}),
hits AS (
  SELECT p.doc_id,
         bool_and((coalesce(w.wbits, 0) & (1::BIGINT << CAST(p.pos % 32 AS INT))) <> 0)
           AS bloom_positive
  FROM ppos p LEFT JOIN words w ON p.pos // 32 = w.word
  GROUP BY p.doc_id
), member AS (
  SELECT b.doc_id, (c.key IS NOT NULL) AS exact_member
  FROM batch b LEFT JOIN corpus c USING (key)
)
SELECT h.bloom_positive, m.exact_member, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM hits h JOIN member m USING (doc_id)
GROUP BY h.bloom_positive, m.exact_member
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_exact": QuerySpec(dedup_exact, _EXACT_ORACLE, "exact hash-groupBy dedup"),
    "dedup_bloom_prefilter": QuerySpec(
        dedup_bloom_prefilter, _bloom_oracle(), "Bloom membership prefilter"
    ),
    "curation_funnel": QuerySpec(
        curation_funnel,
        _FUNNEL_ORACLE,
        "exact dedup -> near-dup removal -> quality filter, staged counts",
    ),
    "dedup_minhash_lsh": QuerySpec(
        dedup_minhash_lsh, _MINHASH_ORACLE, "MinHash→band→bucket-join (est_sim≥3/8 in-join)"
    ),
    "dedup_simhash": QuerySpec(dedup_simhash, _SIMHASH_ORACLE, "SimHash banded Hamming"),
}

# Deliberately quadratic small-data VERIFIERS (the scale paths are
# dedup_minhash_lsh / dedup_embedding_lsh): demoted from the driver
# registry in r6 (VERDICT r5 #8 consolidation) but still value-checked
# against their DuckDB oracles by pytest via diagnostic_queries().
# r8 steady-state demotions (registry → 100 keys; VERDICT r7 #2):
# dedup_minhash_tuned's banded bucket-join scale path is fully
# represented by the windowed dedup_minhash_lsh (the tuner only picks
# the band count); dedup_components' pointer-jumping CC lineage is
# externally witnessed by the windowed dedup_embedding_components
# (identical connected_components operator, different edge source).
DIAGNOSTICS: dict[str, QuerySpec] = {
    "dedup_minhash_tuned": QuerySpec(
        dedup_minhash_tuned,
        _TUNED_ORACLE,
        "self-tuned MinHash banding (measured sample collision rate)",
    ),
    "dedup_components": QuerySpec(
        dedup_components, _COMPONENTS_ORACLE, "near-dup connected components"
    ),
    "dedup_ngram_jaccard": QuerySpec(
        dedup_ngram_jaccard, _JACCARD_ORACLE, "3-gram Jaccard pairs (verifier)"
    ),
    "dedup_embedding_cosine": QuerySpec(
        dedup_embedding_cosine, _COSINE_ORACLE, "embedding cosine near-dup (verifier)"
    ),
}
