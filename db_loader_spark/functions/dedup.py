"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of each algorithm at 100 TB):

- **exact**: one hash-partitioned groupBy on the text (or its md5) —
  Spark's map-side partial agg means each executor emits one row per
  distinct key before the shuffle.
- **n-gram Jaccard**: exact pairwise similarity *after* candidate
  generation. Never run it all-pairs at scale — it exists as the
  verifier behind MinHash/LSH candidates and as the small-data oracle.
- **MinHash+LSH**: the scale path. Cost is linear in corpus size:
  explode shingles → one groupBy for signatures → band self-join whose
  output is only colliding pairs. Hash = md5 (lexicographic MIN over
  hex strings is a valid minhash since md5 is uniform); md5 was chosen
  because every engine implements it identically, making results
  engine-portable (and DuckDB-oracle-checkable).
- **SimHash**: near-dup via Hamming distance on a 64-bit signature;
  banded on 4×16-bit substrings so the self-join only sees candidate
  pairs sharing a band (standard Manku et al., WWW'07 trick). Band
  width is the scale knob: 16-bit bands give 65,536 buckets per band,
  so bucket occupancy is ~n/65,536 and the self-join output stays
  near-linear (8-bit bands would give only 256 buckets per band —
  effectively quadratic). The Hamming threshold ships INSIDE the join
  condition so non-near pairs die in the join operator instead of
  surviving into the distinct's shuffle.

All of it is JVM expression work — no Python UDFs — so the whole
pipeline stays inside whole-stage codegen. The plans are built as SQL
text (``selectExpr`` / ``F.expr``), one string per projection: every
Column-API call costs several py4j round trips, so the k hash columns,
band structs and join predicates built as Columns would take about a
thousand of them (~0.4 s of driver time before the first job) for the
same Catalyst tree, where the SQL text takes a few per projection.

Rule for that SQL text: no regex and no user-supplied value goes into
it. ``spark.sql.parser.escapedStringLiterals`` changes how a backslash
in a SQL string literal parses, so a regex in SQL text silently matches
something else under a driver that sets it; regexes therefore stay
Column expressions (:func:`tokens`' ``\\s+``), thresholds enter as
``F.lit``, column names through ``session.sql_ident``, and only
integers and this module's own constants are formatted into the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from db_loader_spark.functions import fan_out
from db_loader_spark.functions.text import tokens
from db_loader_spark.session import sql_ident

HEX_DIGITS = "0123456789abcdef"


def shingles(toks: str, n: int = 3) -> str:
    """SQL text of the word n-gram array over the token-array column
    ``toks``, in token order (empty if < n tokens).

    Gram i is token i joined with the n-1 tokens after it, so the array
    is a fold of ``zip_with`` over n shifted slices of the token array
    (each of length size - (n-1), floored at 0 so short texts give
    empty slices). The tokens come in as a column, projected once by
    the caller (:func:`_token_frame`): Spark does no common-subexpression
    elimination inside lambda bodies, so a lambda that indexed
    ``tokens(text)`` would re-run the whole split/lower/trim/filter
    chain once per gram, and even as slice arguments it would run n
    times per row."""
    c = sql_ident(toks)
    m = f"greatest(size({c}) - {int(n) - 1}, 0)"
    grams = f"slice({c}, 1, {m})"
    for off in range(1, int(n)):
        grams = f"zip_with({grams}, slice({c}, {1 + off}, {m}), (_g, _t) -> concat(_g, ' ', _t))"
    return grams


def _token_frame(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, toks): the fanned-out docs with their text tokenized once."""
    return (
        fan_out(docs)
        .withColumn("_toks", tokens(text_col))
        .selectExpr(f"{sql_ident(id_col)} AS id", "_toks AS toks")
    )


def shingle_frame(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct (id, shingle) pairs — the input to Jaccard and MinHash.

    Dedup happens INSIDE the row (``array_distinct`` before the
    explode), not via ``.distinct()`` after it: a doc's shingles all
    live in its own array, so per-doc uniqueness needs no shuffle at
    all, where a row-level distinct would move every (id, shingle)
    pair through a corpus-sized exchange.

    PRECONDITION: ``id_col`` must be unique per input row. The in-row
    distinct can only dedup within one row's array, so duplicate-id
    rows emit duplicate (id, shingle) pairs — inflating every
    downstream count (Jaccard sizes, decontamination n_shingles).
    Run :func:`exact_duplicates` (or any id-level dedup) first when
    ids can repeat; the driver tables guarantee uniqueness."""
    return _token_frame(docs, id_col, text_col).selectExpr(
        "id", f"explode(array_distinct({shingles('toks', n)})) AS shingle"
    )


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text with the
    canonical (minimum) id and the copy count."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold.

    Jaccard is exact integer arithmetic (|A∩B| / (|A|+|B|-|A∩B|)) so the
    comparison against the threshold is engine-deterministic.
    """
    sh = shingle_frame(docs, id_col, text_col, n)
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
) -> DataFrame:
    """Per-doc MinHash signature columns h0..h{k-1} (32-bit longs).

    h_i(doc) = MIN over shingles of the first 32 bits of
    md5(i || '|' || shingle) — a valid minhash family (md5 is uniform),
    and numerically equal to the lexicographic min of the 8-char hex
    prefix, which is what the DuckDB oracle computes.

    Perf shape (measured at sf0.1): the k hashes are parallel *columns*
    on the exploded shingle rows, not a k× row explosion, and min(long)
    keeps the aggregate in HashAggregate with map-side partial combine —
    the shuffle carries only one 8-long row per doc. No distinct on
    shingles: MIN is idempotent under duplicates.
    """
    sh = _token_frame(docs, id_col, text_col).selectExpr(
        "id", f"explode({shingles('toks', n)}) AS shingle"
    )
    return sh.groupBy("id").agg(
        *[
            F.expr(
                "MIN(CAST(conv(substring(md5(concat("
                f"'{i}|', shingle)), 1, 8), 16, 10) AS BIGINT)) AS h{i}"
            )
            for i in range(int(num_hashes))
        ]
    )


LSH_SAMPLE_HEX = ("0", "1", "2", "3")  # md5 first-digit ¼-sample (deterministic)


def band_collision_counts(
    signatures: DataFrame, num_hashes: int = 8
) -> tuple[dict[int, int], int, int]:
    """Measured banding statistic: for every divisor band width b of
    ``num_hashes``, the number of same-bucket pairs a b-row banding
    would produce on a deterministic ¼-sample of the docs.

    One explode + one aggregate over the (tiny: one row per sampled
    doc) signature frame — the cheap statistic SCALE.md's banding
    experiment said to derive banding from, instead of hand-picking
    band_size per corpus. Collisions are counted WITHOUT materializing any join:
    Σ_buckets n·(n-1)/2. Returns ({b: sample_pairs}, n_total, n_sample).

    The sample is md5-bucketed on the doc id (first hex digit in 0-3),
    so it is reproducible on any engine — the DuckDB oracle of the
    tuned query replays this exact computation."""
    divisors = [b for b in range(1, num_hashes + 1) if num_hashes % b == 0]
    samp = signatures.filter(
        F.expr(
            "substring(md5(CAST(id AS STRING)), 1, 1) IN ({})".format(
                ", ".join(f"'{h}'" for h in LSH_SAMPLE_HEX)
            )
        )
    )
    structs = ", ".join(
        "struct({b} AS b, {i} AS band_idx, concat_ws('|', {keys}) AS band_key)".format(
            b=b,
            i=i,
            keys=", ".join(f"h{b * i + j}" for j in range(b)),
        )
        for b in divisors
        for i in range(num_hashes // b)
    )
    counts = (
        samp.select(F.explode(F.expr(f"array({structs})")).alias("c"))
        .select("c.*")
        .groupBy("b", "band_idx", "band_key")
        .agg(F.count("*").alias("n"))
        .groupBy("b")
        .agg(F.expr("CAST(SUM(n * (n - 1) DIV 2) AS BIGINT)").alias("pairs_s"))
    )
    pairs = {int(r["b"]): int(r["pairs_s"]) for r in counts.collect()}
    n_total = signatures.count()
    n_sample = samp.count()
    return ({b: pairs.get(b, 0) for b in divisors}, n_total, n_sample)


def tuned_band_size(
    signatures: DataFrame,
    num_hashes: int = 8,
    target_pairs_per_doc: int = 2,
) -> int:
    """Pick the NARROWEST band width whose extrapolated full-corpus
    candidate volume stays near-linear (≤ target_pairs_per_doc × n).

    Narrow bands maximize recall (a b-row band fires on est_sim ≥
    b/num_hashes), so the tuner widens only as far as the measured
    collision rate forces it — exactly the knob SCALE.md showed grows
    ~n² on Zipf corpora when hand-set too narrow. The extrapolation
    sample_pairs·(N/n_s)² ≤ target·N is evaluated cross-multiplied as
    ``pairs_s · N ≤ target · n_s²`` — pure BIGINT, so the choice is
    bit-reproducible on any engine (the tuned query's oracle re-derives
    it in SQL). Falls back to the widest banding (one band of all
    hashes) when even it exceeds the target."""
    counts, n_total, n_sample = band_collision_counts(signatures, num_hashes)
    for b in sorted(counts):
        if counts[b] * n_total <= target_pairs_per_doc * n_sample * n_sample:
            return b
    return num_hashes


def _banded(signatures: DataFrame, num_hashes: int, band_size: int) -> DataFrame:
    """Explode a signature frame into (id, h*, band_idx, band_key) rows —
    the shared banding step of the self-join and incremental LSH paths.
    The full signature rides along so est_sim comes straight off the
    joined rows (no join back to the signature frame)."""
    bands = ", ".join(
        "named_struct('band_idx', {b}, 'band_key', concat_ws('|', {keys}))".format(
            b=b,
            keys=", ".join(f"h{b * band_size + j}" for j in range(band_size)),
        )
        for b in range(num_hashes // band_size)
    )
    return signatures.selectExpr(
        "id", *[f"h{i}" for i in range(num_hashes)], f"inline(array({bands}))"
    )


def _band_join(
    a_sigs: DataFrame,
    b_sigs: DataFrame,
    num_hashes: int,
    band_size: int,
    min_est_sim: float | None,
    first_band: bool,
) -> DataFrame:
    """The band equi-join of two signature frames → (doc_a, doc_b,
    est_sim), shared by :func:`lsh_candidate_pairs` (``first_band``: a
    self-join keeping ``a.id < b.id`` from the first colliding band
    only) and :func:`lsh_pairs_against` (any two distinct ids,
    normalized to (least, greatest); the caller de-duplicates).

    est_sim = matching components / num_hashes, rounded to 4 places.
    ``min_est_sim`` is a residual join predicate: far pairs never leave
    the join operator."""
    k, w = int(num_hashes), int(band_size)
    matches = " + ".join(f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(k))
    est_sim = f"ROUND(CAST({matches} AS DOUBLE) / {k}, 4)"
    cond = "a.band_idx = b.band_idx AND a.band_key = b.band_key"
    if first_band:
        cond += f" AND a.id < b.id AND a.band_idx = {_first_band(k, w)}"
        ids = ("a.id AS doc_a", "b.id AS doc_b")
    else:
        cond += " AND a.id != b.id"
        ids = ("least(a.id, b.id) AS doc_a", "greatest(a.id, b.id) AS doc_b")
    on = F.expr(cond)
    if min_est_sim is not None:
        on = on & (F.expr(est_sim) >= F.lit(float(min_est_sim)))
    a = _banded(a_sigs, k, w)
    b = a if b_sigs is a_sigs else _banded(b_sigs, k, w)
    return a.alias("a").join(b.alias("b"), on).selectExpr(*ids, f"{est_sim} AS est_sim")


def lsh_pairs_against(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    min_est_sim: float | None = None,
) -> DataFrame:
    """Incremental LSH: candidate pairs between NEW docs and an existing
    corpus signature table — the ingest-time shape of near-dup detection
    at 100 TB, where signatures are MAINTAINED (one upsert per arriving
    batch) and each batch joins only its own docs against the index,
    instead of re-running the full self-join per query.

    Stream ≡ batch theorem this enables: if every doc appears in
    exactly one batch and ``corpus_sigs`` is the accumulated index
    INCLUDING the current batch, then the union over batches of these
    incremental pairs equals :func:`lsh_candidate_pairs` over the whole
    corpus — each qualifying pair is emitted exactly once, by the batch
    in which its LATER member arrives (both-new pairs by their shared
    batch; the (least, greatest) normalization makes arrival order
    irrelevant to the output). Verified end-to-end by the
    ``t_stream_signatures`` registry query and
    tests/test_streaming_signatures.py.

    Scale shape: same banded equi-join as the self-join path — only
    same-band collisions shuffle, and the new side is batch-sized, so
    per-batch cost is |batch| × collision-rate, not |corpus|²; with a
    bucketed/partitioned signature table the corpus side's shuffle is
    layout-reusable. ``min_est_sim`` stays a residual predicate inside
    the join."""
    return _band_join(
        new_sigs, corpus_sigs, num_hashes, band_size, min_est_sim, first_band=False
    ).distinct()


def _first_band(num_hashes: int, band_size: int) -> str:
    """SQL text: the index of the lowest-numbered band in which the
    joined rows ``a`` and ``b`` agree on every component (NULL when
    none does)."""
    whens = " ".join(
        "WHEN {} THEN {}".format(
            " AND ".join(
                f"a.h{i} = b.h{i}" for i in range(b * band_size, (b + 1) * band_size)
            ),
            b,
        )
        for b in range(num_hashes // band_size)
    )
    return f"CASE {whens} END"


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 8,
    band_size: int | None = 2,
    materialize: bool = True,
    min_est_sim: float | None = None,
) -> DataFrame:
    """Band the signature and self-join per band: (doc_a, doc_b, est_sim).

    est_sim = fraction of matching signature components (exact rational).
    The join key is (band_idx, band_key) so only same-band collisions
    shuffle — the LSH guarantee that makes this linear-ish at scale.
    ``band_size=None`` self-tunes the width from the measured sample
    collision rate (tuned_band_size) instead of trusting a default that
    SCALE.md showed to be corpus-dependent.

    Each pair is emitted exactly once, from the lowest-numbered band it
    collides in, so no trailing ``distinct`` (and no hash aggregate or
    exchange of its own) is needed. A residual join predicate keeps a
    joined row only when its ``band_idx`` is the first band whose
    components are all equal. That is exact: equal band keys mean equal
    components (``concat_ws('|')`` over non-negative longs cannot alias),
    and est_sim is computed from the whole signature, so it is the same
    in every band a pair shares.

    ``min_est_sim`` pushes the similarity threshold INSIDE the join as a
    residual predicate (the same trick the SimHash Hamming search uses):
    low-sim band collisions die in the join operator. This is the first
    knob to reach for on head-heavy (Zipf) corpora, where baseline
    Jaccard between unrelated docs makes 2-row bands collide freely —
    measured in SCALE.md: candidates grow ~n² at the defaults there,
    and the in-join threshold (or wider bands) restores near-linear
    candidate volume.

    The full signature rides along through the band explode, so est_sim
    comes straight off the joined rows — no second join back to the
    signature frame. With a fixed ``band_size`` nothing is persisted:
    the signature frame ends in its ``groupBy(id)`` exchange, which
    adaptive execution reuses for both sides of the self-join, so the
    signature is computed once per execution. Only the self-tuning path
    (``band_size=None``) persists it, because the tuner reads it three
    times before the join; with ``materialize`` (the default) that
    frame is registered in :mod:`db_loader_spark.cache` — registry
    wrappers release it via ``cache.settle_drained(result)``,
    sessions driving this function directly call ``cache.release()``.
    ``materialize=False`` recomputes the signature per read instead.
    """
    if band_size is None:
        if materialize:
            from db_loader_spark import cache

            signatures = cache.track(signatures)
        band_size = tuned_band_size(signatures, num_hashes)
    return _band_join(
        signatures, signatures, num_hashes, band_size, min_est_sim, first_band=True
    )


def eval_shingle_side(
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """The benchmark side of :func:`decontaminate`, split out so a
    composed pipeline can run the sizing pass CONCURRENTLY with
    unrelated stages (guide §2.6 — curation_e2e overlaps it with the
    connected-components fixpoint instead of paying it as a blocking
    step between them; measured ~0.4 s execution + ~0.4 s planning on
    the sf0.1 critical path).

    Returns ``(bench_sh, sizing)``: the tracked distinct-shingle frame
    and the UNEXECUTED one-row sizing aggregate over it. Run
    ``sizing.first()`` (on a driver thread if overlapping) and hand
    ``prepared=(bench_sh, that_row)`` to :func:`decontaminate` — the
    broadcast decision and join are then identical to the inline path,
    byte for byte."""
    from db_loader_spark import cache

    bench_sh = cache.track(
        shingle_frame(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    sizing = bench_sh.agg(
        F.count("*").alias("n_rows"),
        F.coalesce(F.sum(F.length("shingle")), F.lit(0)).alias("n_chars"),
    )
    return bench_sh, sizing


def _sized_eval_side(bench_sh: DataFrame, stats, broadcast_limit_bytes: int):
    """The measured broadcast decision shared by both decontaminate
    entry paths: ~2 bytes/char UTF-16 + ~48 bytes/row of object and
    hash-table overhead vs the limit; over it the hint is OMITTED so
    Spark plans the genuine shuffle-join degraded mode."""
    est_bytes = 2 * stats["n_chars"] + 48 * stats["n_rows"]
    return F.broadcast(bench_sh) if est_bytes <= broadcast_limit_bytes else bench_sh


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_limit_bytes: int | None = 256 << 20,
    prepared: tuple[DataFrame, object] | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs that share any word
    n-gram with an evaluation/benchmark set — the training-data hygiene
    step that keeps eval questions out of the training corpus (the
    n-gram-overlap method popularized by the GPT-3 appendix).

    Returns one row per CONTAMINATED doc: (doc_id, n_hits, n_shingles,
    contamination) where contamination = n_hits / n_shingles. Callers
    drop flagged docs outright or audit by the fraction. Both inputs
    must carry unique ``id_col`` values (see :func:`shingle_frame`'s
    precondition — duplicate-id rows inflate n_shingles/n_hits).

    Scale shape: eval sets are thousands of docs against a corpus of
    billions, so the benchmark's distinct shingles are the broadcast
    side; the corpus side explodes shingles in place, takes the flag
    from the broadcast hash join (no corpus shuffle), and aggregates
    per doc with map-side combine — exactly ONE corpus-sized shuffle,
    on the doc id.

    The broadcast is a MEASURED decision, not a blind hint: the
    distinct eval shingles are cached (tracked in
    :mod:`db_loader_spark.cache`; the join reuses the cache, so the
    sizing pass costs one scan of the small side) and their estimated
    in-memory size — 2 bytes/char UTF-16 plus ~48 bytes/row of object
    and hash-table overhead — is compared against
    ``broadcast_limit_bytes``. Under the limit the join is hinted
    broadcast; over it the hint is OMITTED, so Spark plans a shuffle
    join on the shingle key (the genuine degraded mode — an
    unconditional ``F.broadcast`` would instead force the oversized
    build side onto the driver and OOM). Pass ``None`` to skip the
    sizing job and defer entirely to ``autoBroadcastJoinThreshold``.

    ``prepared`` (r16, guide §2.6): a ``(bench_sh, stats_row)`` pair
    from :func:`eval_shingle_side` whose sizing aggregate the caller
    already executed — possibly on a concurrent driver thread while
    other stages ran. The broadcast decision is re-derived from the
    row with the same formula, so the two entry paths plan the same
    join."""
    corp_sh = shingle_frame(corpus, id_col, text_col, n)
    if prepared is not None:
        bench_sh, stats = prepared
        bench_side = (
            _sized_eval_side(bench_sh, stats, broadcast_limit_bytes)
            if broadcast_limit_bytes is not None
            else bench_sh
        )
    elif broadcast_limit_bytes is not None:
        bench_sh, sizing = eval_shingle_side(benchmark, n, id_col, text_col)
        bench_side = _sized_eval_side(
            bench_sh, sizing.first(), broadcast_limit_bytes
        )
    else:
        bench_side = (
            shingle_frame(benchmark, id_col, text_col, n)
            .select("shingle")
            .distinct()
            .withColumn("hit", F.lit(1))
        )
    return (
        corp_sh.join(bench_side, "shingle", "left")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .select(
            F.col("id").alias("doc_id"),
            "n_hits",
            "n_shingles",
            F.round(F.col("n_hits") / F.col("n_shingles"), 4).alias("contamination"),
        )
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster formation: connected components over a pair
    graph by iterative min-label propagation → (id, component_id).

    The iterative algorithm the dedup pipeline needs after candidate
    generation: every doc in a near-dup cluster gets the cluster's
    minimum id, so "keep one per cluster" is a trivial filter.

    Scale shape: each round is one hash join (labels ⋈ edges) + one
    min-aggregate + one pointer-jump self-join — all distributed; the
    driver only checks the converged flag. The jump step relabels every
    node by its LABEL'S label (valid because labels are node ids and
    label(x) ≤ x, so the composition only decreases), which halves the
    remaining chain depth per round the way pointer-jumping/hash-to-min
    does — rounds grow with log(diameter), not diameter (pinned by
    tests/test_dedup.py: a 33-node chain converges in ≤ 8 rounds where
    one-hop propagation needs 32). Same fixpoint as plain propagation —
    min id per component — so the recursive-CTE oracle is unchanged.

    Each round is ONE job, not two. The round frame is a LAZY
    ``localCheckpoint`` whose materializing action is a shuffle-free
    decimal SUM of the label column, which doubles as the convergence
    test — labels are per-node monotone non-increasing, so the sum
    strictly decreases iff any node changed (a second join+count job
    per round would cost the fixed per-round overhead twice; at sf0.1
    the fold measured components inside curation_e2e 3.4 → ~1.8 s).
    DECIMAL(38,0) keeps the signature exact at any node count a cluster
    can hold — a LONG sum would overflow silently at billions of 63-bit
    ids.
    The per-round checkpoint still truncates lineage every round
    (each round's plan references the previous labels three times, so
    anything less re-expands the tree 3^k-fold — measured as a
    driver OOM when tried with persist + periodic truncation). This
    is the one operator family (iterative fixpoint) that SQL can't
    express — the oracle uses a recursive CTE instead.

    Storage bound: once round k's
    checkpoint has materialized (the signature job), round k-1's
    checkpoint blocks are dead weight — but they stay live until the
    ContextCleaner GCs the superseded frame, so a long fixpoint held
    O(rounds) label tables in executor storage. Each round now frees
    the superseded frame's blocks explicitly
    (cache.free_local_checkpoint), holding exactly one live label
    table plus the one being built. Fault tolerance is unchanged:
    local checkpoints were never recomputable after executor loss.

    The returned frame IS the final round's checkpoint, so a caller
    frees its blocks once it has settled its own result: pass it as
    ``checkpoints=`` to ``cache.settle_drained``.
    """
    _sig = F.coalesce(
        F.sum(F.col("component_id").cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
    ).alias("sig")
    edges = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist()
    )
    # Fused first round: with identity initial labels, round 1's
    # hop is min(id, min over neighbors of label(dst)=dst) and its
    # pointer jump goes through the identity table (a no-op), so
    # labels_1 = least(src, min(dst)) — ONE map-side-combined
    # aggregate over the edge list instead of a full
    # join + union + aggregate + jump-join round. Initialization IS
    # round 1; the loop below starts at round 2. Same fixpoint, same
    # monotone-label argument; ``max_iter`` now bounds the rounds
    # AFTER the fused first (a one-round-looser bound than before —
    # callers pinning round counts get strictly faster convergence).
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("mn")).alias("component_id"),
        )
        .localCheckpoint(eager=False)
    )
    prev_sig = labels.agg(_sig).first()["sig"]  # materializes the checkpoint too
    converged = False
    for _ in range(max_iter):
        prop = edges.join(
            labels, edges.dst == labels.doc_id, "inner"
        ).select(F.col("src").alias("doc_id"), "component_id")
        hop = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("component_id").alias("component_id"))
        )
        # Pointer jump: follow the label one more step through the label
        # table itself. label(x) ≤ x for every x, so label(label(id)) ≤
        # label(id) — monotone toward the same fixpoint, but compressing
        # 2 chain hops per round instead of 1.
        jump = labels.select(
            F.col("doc_id").alias("j_id"), F.col("component_id").alias("j_cid")
        )
        new_labels = (
            hop.join(jump, hop.component_id == F.col("j_id"), "inner")
            .select("doc_id", F.col("j_cid").alias("component_id"))
            .localCheckpoint(eager=False)
        )
        # one job: materializes the checkpoint AND evaluates the test
        new_sig = new_labels.agg(_sig).first()["sig"]
        # round k is materialized: round k-1's blocks are superseded —
        # free them now instead of leaving O(rounds) label tables to
        # the ContextCleaner (see the docstring)
        from db_loader_spark import cache

        cache.free_local_checkpoint(labels)
        labels = new_labels
        if new_sig == prev_sig:
            converged = True
            break
        prev_sig = new_sig
    edges.unpersist()
    if not converged:
        # Non-converged labels are silently WRONG (far ends of a long
        # chain keep non-minimal ids) — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "raise max_iter (graph diameter exceeds it)"
        )
    return labels


SIMHASH_BAND_BITS = 16  # 65,536 buckets per band — the scale knob


def simhash_bits(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """Per-doc SimHash as ``bits/16`` 16-bit integer band columns
    (``band0``..``band{n-1}``, MSB-first within each band).

    Each distinct token votes ±1 per bit position (from the first
    ``bits/4`` hex chars of md5(token)); the signature bit is 1 iff the
    vote sum ≥ 0 — equivalently, iff at least half the tokens hash a 1
    at that position (2·ones ≥ n). 64 bits is the standard near-dup
    operating point (Manku et al., WWW'07 used 64): enough signature
    entropy that banding actually discriminates.

    Cost shape — the whole signature is ONE shuffle-free projection.
    Tokens stay inside their row (``array_distinct`` on the token
    array = per-doc distinct with no corpus-wide exchange), each token
    is hashed once into a packed ``bits``-bit integer, and the band
    values are computed by nested higher-order ``aggregate`` lambdas
    counting ``getbit`` ones per position — integer-only, JVM-side,
    no explode, no groupBy. Earlier revisions exploded to (id, token)
    rows and vote-aggregated 64 named columns back per doc: that paid
    a corpus-wide hash aggregation (the r5 shape) and ~0.5 s of
    driver-side Catalyst tree construction for the ~80-column plan
    (the r5 bench decomposition); the packed form shrinks the tree to
    ``n_bands`` expressions and removes the aggregation exchange
    entirely. Docs with zero tokens are dropped (same as the exploded
    form, where they produced no rows); duplicate ids are NOT merged —
    the shingle_frame uniqueness precondition (see line ~71) applies.
    Oracle hash-matches the nibble-decode formulation unchanged."""
    n_bands = bits // SIMHASH_BAND_BITS
    toks = fan_out(docs).select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokens(F.col(text_col))).alias("toks"),
    ).filter(F.size("toks") > 0)
    # md5(token)'s first bits/4 hex chars as ONE packed integer,
    # MSB-first (bit p of the signature = getbit(h, bits-1-p)).
    # conv() handles ≤8 hex chars without overflow; wider widths pack
    # two conv words with shiftleft — bit-exact even when the top bit
    # sets the long's sign.
    if bits <= 32:
        packed = f"cast(conv(substring(md5(t), 1, {bits // 4}), 16, 10) as bigint)"
    else:
        lo_chars = bits // 4 - 8
        packed = (
            f"shiftleft(cast(conv(substring(md5(t), 1, 8), 16, 10) as bigint),"
            f" {bits - 32})"
            f" | cast(conv(substring(md5(t), 9, {lo_chars}), 16, 10) as bigint)"
        )
    hs = toks.select("id", F.expr(f"transform(toks, t -> {packed})").alias("hs"))
    # One expression per band, each scanning hs once per of-this-band
    # position: 16×|tokens| getbit adds per band, no shared
    # intermediate for CollapseProject to duplicate.
    band_cols = [
        F.expr(
            f"aggregate(sequence(0, {SIMHASH_BAND_BITS - 1}),"
            f" cast(0 as bigint), (acc, j) -> acc * 2 +"
            f" (CASE WHEN 2 * aggregate(hs, 0, (a, h) ->"
            f" a + int(getbit(h, {bits - 1 - b * SIMHASH_BAND_BITS} - j)))"
            f" >= size(hs) THEN 1 ELSE 0 END))"
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    return hs.select("id", *band_cols)


def simhash_near_pairs(
    sig: DataFrame, bits: int = 64, max_hamming: int = 3, materialize: bool = True
) -> DataFrame:
    """Near-dup pairs by SimHash: band join (equal value in ANY 16-bit
    band) with the exact Hamming threshold INSIDE the join condition —
    the Manku-et-al banded Hamming search.

    Scale shape: the equi-keys (band_idx, band_val) drive a hash join;
    the Hamming predicate — ``bit_count(a.band ^ b.band)`` summed over
    bands, integer-only — is the join's residual condition, so far
    pairs are dropped inside the join operator and the trailing
    ``distinct`` (which de-dups pairs colliding in several bands) only
    shuffles true near-pairs. With 16-bit bands each band has 65,536
    buckets → expected bucket occupancy n/65,536 per band; candidate
    volume stays near-linear far past 10^8 docs (widen
    ``SIMHASH_BAND_BITS`` — which fixes the band count as
    ``bits / SIMHASH_BAND_BITS`` for both signature and join — to push
    further; the band count is derived, not a free parameter, because
    the signature frame physically carries one column per band).

    Exactness: when ``max_hamming < n_bands`` the result is EXACT by
    pigeonhole — k < n_bands differing bits cannot touch every band, so
    every qualifying pair shares at least one band verbatim and is
    found. At ``max_hamming >= n_bands`` the search is approximate
    (pairs whose diffs spread across all bands are missed).

    ``materialize`` persists the signature frame (tiny: one row per doc,
    ``bits/16`` ints) so the self-join's two branches share ONE
    signature computation instead of re-running the full
    scan→tokenize→vote lineage per side. :func:`lsh_candidate_pairs`
    needs no such cache on its fixed-band path because its signature
    ends in a ``groupBy(id)`` exchange that both join sides reuse; this
    signature is a shuffle-free projection, so there is no exchange to
    reuse. The frame is tracked in :mod:`db_loader_spark.cache` and
    released by the registry wrappers' ``cache.settle_drained``."""
    if materialize:
        from db_loader_spark import cache

        sig = cache.track(sig)
    n_bands = bits // SIMHASH_BAND_BITS
    band_structs = ", ".join(
        f"struct({b} AS band_idx, band{b} AS band_val)" for b in range(n_bands)
    )
    sig_cols = ["id"] + [f"band{b}" for b in range(n_bands)]
    banded = sig.select(
        *sig_cols, F.explode(F.expr(f"array({band_structs})")).alias("band")
    ).select(
        *sig_cols,
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_val").alias("band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.expr(
        " + ".join(f"bit_count(a.band{k} ^ b.band{k})" for k in range(n_bands))
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id"))
            # Residual (non-equi) join predicate: far pairs never leave
            # the join operator, so the distinct below shuffles only
            # true near-pairs.
            & (hamming <= max_hamming),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )
