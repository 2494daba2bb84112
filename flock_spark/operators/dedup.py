"""Deduplication operators over the ``documents`` table.

The reference has no dedup surface; these are the LLM-training-pipeline
extensions (BASELINE.json north star) designed Spark-first:

- exact dedup               → hash groupBy (one shuffle, map-side partial)
- normalized exact dedup    → same after canonicalization
- n-gram Jaccard pairs      → explode shingles + self-join (exact; the
                              correctness baseline for the sketches below)
- MinHash signatures + LSH  → the scale path: O(docs × bands) instead of
                              O(pairs); banded self-join only collides
                              near-duplicates
- SimHash + banded Hamming  → 32-bit fingerprints; pigeonhole banding makes
                              the Hamming-≤3 pair search a 4-way equi-join
                              instead of a cross join
- embedding near-dup        → cosine pairs within label blocks

All hashing is the md5-based portable family (operators/hashing.py), so even
the sketch-based operators have *exact* DuckDB oracles — signature for
signature, pair for pair.

Scale: at 100 TB the only change is bucketing documents by doc_id and raising
shingle/band parallelism; every operator below is a constant number of
shuffles with map-side combine, no driver-side loops, no cross joins (the
SimHash oracle's cross join exists only on the DuckDB side for verification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flock_spark.catalog import local_df, spread, tbl
from flock_spark.operators.hashing import (
    HASH_COEFFS,
    duck_md5_long,
    spark_md5_long,
    universal_hash,
)
from flock_spark.registry import register

N_MINHASH = 12
N_BANDS = 4  # bands of 3 rows each (collision prob = jaccard^3 per band)
BAND_R = 3
MERSENNE_P = 2_147_483_647
SHINGLE_K = 5
JACCARD_NUM, JACCARD_DEN = 3, 10  # threshold 0.3
HAMMING_MAX = 3
COSINE_T = 0.35


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies, md5(text) AS fp
    FROM documents
    GROUP BY text
    """,
    tags=("dedup",),
    doc="Exact dedup: group by md5(text) so the shuffle carries a 32-byte "
    "key per row instead of the document body (the oracle groups by text — "
    "equivalent because md5 collisions are vanishingly rare and the oracle "
    "itself would hash-mismatch first if one ever occurred).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(F.col("text").cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies", "fp")
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
           md5(trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
    FROM documents
    GROUP BY trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))
    """,
    tags=("dedup",),
    doc="Exact dedup after canonicalization (lowercase + whitespace collapse).",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    norm = F.trim(F.lower(F.regexp_replace("text", r"\s+", " ")))
    # group on the 32-byte digest, not the normalized body (see dedup_exact)
    return (
        d.select("doc_id", F.md5(norm.cast("binary")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies", "fp")
    )


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard and MinHash)
# ---------------------------------------------------------------------------


def _duck_shingles(distinct: bool) -> str:
    inner = (
        f"[substring(text, i, {SHINGLE_K})"
        f" for i in generate_series(1, greatest(length(text) - {SHINGLE_K - 1}, 1))]"
    )
    if distinct:
        inner = f"list_distinct({inner})"
    return f"SELECT doc_id, unnest({inner}) AS shingle FROM documents"


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_distinct([{duck_md5_long(f'substring(text, i, {SHINGLE_K})')}
                            for i in generate_series(1, greatest(length(text) - {SHINGLE_K - 1}, 1))]) AS hs
      FROM documents),
    sh AS (SELECT doc_id, unnest(hs) AS h FROM base),
    sizes AS (SELECT doc_id, len(hs) AS n FROM base),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, n_common,
           (n_common / (sa.n + sb.n - n_common)) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {JACCARD_DEN} * n_common >= {JACCARD_NUM} * (sa.n + sb.n - n_common)
    """,
    tags=("dedup", "join"),
    doc=f"Exact character-{SHINGLE_K}-gram Jaccard near-dup pairs (threshold "
    f"{JACCARD_NUM / JACCARD_DEN}). Threshold test is integer arithmetic — no float "
    "boundary. Both engines shingle on the 60-bit md5 hash (identical function, "
    "so a collision affects both identically); per-doc set sizes come from the "
    "shingle array without a shuffle. The probe side is repartitioned by doc_id "
    "so pair generation parallelizes evenly (each doc's cost ∝ the document "
    "frequencies of its own shingles) instead of inheriting the file scan's "
    "partitioning; pair counting is map-side partial-aggregated in the same "
    "stage. This is the exact baseline the MinHash sketch approximates — on a "
    "dense corpus the pair-row blowup is Σ df² by nature, and "
    "dedup_minhash_lsh_pairs is the production path at scale.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    hs = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length(text) - {SHINGLE_K - 1}, 1)),"
        f" i -> {spark_md5_long(f'substring(text, i, {SHINGLE_K})')}))"
    )
    base = d.select("doc_id", hs.alias("hs"))
    sizes = base.select("doc_id", F.size("hs").alias("n"))
    sh = base.select("doc_id", F.explode("hs").alias("h"))
    # Spread the Σ df² pair-generation work across all cores: the scan is one
    # file → one partition, and a broadcast join inherits probe partitioning.
    # Explicit partition count — AQE would coalesce by shuffle *bytes* (tiny),
    # but this stage's cost is the pair blowup, not its input size.
    n_part = spark.sparkContext.defaultParallelism * 2
    probe = sh.repartition(n_part, F.col("doc_id")).alias("a")
    build = F.broadcast(sh.alias("b"))
    inter = (
        probe.join(build, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(
            JACCARD_DEN * F.col("n_common")
            >= JACCARD_NUM * (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))).alias("jaccard"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Signature relations are built PER INVOCATION and pinned with a
# per-invocation localCheckpoint (bounded: N_MINHASH longs, resp. one long,
# per doc). They are deliberately NOT memoized across invocations and NOT
# .cache()d: a session-lifetime memo (or a plan-matched InMemoryRelation,
# which Spark's CacheManager substitutes into any later identical plan)
# would let repeated bench runs skip the signature computation — result
# caching across runs, which the measurement rules forbid. The checkpoint
# still shares ONE materialization among the consumers inside a single
# query invocation (e.g. both sides of the LSH band self-join).


def _spark_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Whole signature per-row via higher-order functions: shingle array →
    # reduced-hash array (md5-long % P, materialized ONCE per row) → one
    # array_min(transform(...)) per hash-family member. No explode, no
    # shuffle — a single narrow map stage regardless of corpus size (the
    # exploded formulation shuffles len(text) rows/doc; this shuffles
    # nothing). The previous form folded all 12 members in one aggregate()
    # whose per-shingle lambda allocated two 12-wide arrays (zip_with acc +
    # array(h_0..h_11)) and recomputed h % P twelve times; the split form
    # does the md5 pass once and then 12 tiny 3-op lambdas — measured
    # ~1.15-1.3x on the signature stage at sf0.1, and strictly less
    # interpreted work per shingle at any scale. hm lives in its own
    # projection: CollapseProject keeps it (12 references to a non-cheap
    # expression), so the shingle/md5 pass is evaluated once per row, which
    # the committed plan dump pins (transform+md5 appears once).
    d = spread(tbl(spark, sf_dir, "documents"))
    hm = (
        f"transform(sequence(1, greatest(length(text) - {SHINGLE_K - 1}, 1)),"
        f" i -> {spark_md5_long(f'substring(text, i, {SHINGLE_K})')} % {MERSENNE_P})"
    )
    base = d.select("doc_id", F.expr(hm).alias("hm"))
    cols = []
    for i in range(N_MINHASH):
        a, b = HASH_COEFFS[i]
        cols.append(
            F.expr(f"array_min(transform(hm, m -> ({a} * m + {b}) % {MERSENNE_P}))").alias(
                f"mh{i}"
            )
        )
    return base.select("doc_id", *cols).localCheckpoint(eager=True)


def _duck_minhash_sig_sql() -> str:
    mins = ",\n           ".join(
        f"min({universal_hash('h', i)}) AS mh{i}" for i in range(N_MINHASH)
    )
    return f"""
    WITH sh AS ({_duck_shingles(distinct=False)}),
    hs AS (SELECT doc_id, {duck_md5_long('shingle')} AS h FROM sh)
    SELECT doc_id, {mins}
    FROM hs GROUP BY doc_id
    """


@register(
    "dedup_minhash_signatures",
    oracle=_duck_minhash_sig_sql(),
    tags=("dedup", "sketch"),
    doc=f"MinHash signatures ({N_MINHASH} portable md5-based hash functions). "
    "Map-side partial min makes this one narrow shuffle of 8-byte values per "
    "hash — the signature table is tiny regardless of corpus size.",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_minhash_sig(spark, sf_dir)


def _band_expr(j: int) -> str:
    """Band value: injective string combine of the band's minhash rows
    (engine-neutral — CAST+concat behave identically; avoids BIGINT overflow
    that an arithmetic combine of 3 × 31-bit values would risk)."""
    parts = " || '_' || ".join(
        f"CAST(mh{BAND_R * j + r} AS STRING)" for r in range(BAND_R)
    )
    return f"({parts})"


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH sig AS ({_duck_minhash_sig_sql()}),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_idx, {_band_expr(j)} AS band_val FROM sig" for j in range(N_BANDS))}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    tags=("dedup", "sketch", "join"),
    doc=f"LSH candidate pairs: {N_BANDS} bands × {BAND_R} rows over the "
    "MinHash signature; docs collide only when a whole band matches "
    "(collision prob ≈ jaccard^3 per band). The self-join is on "
    "(band_idx, band_val) — at scale its cost is proportional to true "
    "near-duplicates, not to all pairs. Exact oracle: identical hash family "
    "on both engines.",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both sides of the self-join read the signature table (cached in
    # _spark_minhash_sig), tiny no matter the corpus size
    sig = _spark_minhash_sig(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(_band_expr(j)) for j in range(N_BANDS)])).alias(
            "band_idx", "band_val"
        ),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_bands"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def _spark_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row higher-order functions (same design as _spark_minhash_sig):
    # token array → md5-long array → fold the 32 signed bit votes in one
    # pass → sign-threshold into the fingerprint. No explode, no shuffle.
    # Per-invocation pin, never memoized/cached across runs (see the
    # signature-relation note above _spark_minhash_sig).
    d = spread(tbl(spark, sf_dir, "documents"))
    hs = (
        f"transform(filter(split(text, ' '), t -> t <> ''),"
        f" t -> {spark_md5_long('t')})"
    )
    votes = (
        f"aggregate({hs}, array_repeat(0L, {SIMHASH_BITS}),"
        f" (acc, h) -> zip_with(acc,"
        f"   transform(sequence(0, {SIMHASH_BITS - 1}), j -> 2 * ((h >> j) & 1) - 1),"
        f"   (x, y) -> x + y))"
    )
    fp = " + ".join(
        f"(CASE WHEN votes[{j}] >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    # a doc with no non-empty tokens has no fingerprint: the oracle's GROUP
    # BY over zero token rows omits it, and the fold's all-zero votes would
    # otherwise emit a spurious all-ones simhash (cross-engine divergence)
    tokenful = d.filter(F.expr("size(filter(split(text, ' '), t -> t <> '')) > 0"))
    sums = tokenful.select("doc_id", F.expr(votes).alias("votes"))
    return sums.select(
        "doc_id", F.expr(fp).alias("simhash")
    ).localCheckpoint(eager=True)


def _duck_simhash_sql() -> str:
    bit_sums = ",\n           ".join(
        f"sum(2 * ((h >> {j}) & 1) - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} >= 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    hs AS (SELECT doc_id, {duck_md5_long('tok')} AS h FROM toks WHERE tok <> ''),
    sums AS (SELECT doc_id, {bit_sums} FROM hs GROUP BY doc_id)
    SELECT doc_id, {fp} AS simhash FROM sums
    """


@register(
    "dedup_simhash",
    oracle=_duck_simhash_sql(),
    tags=("dedup", "sketch"),
    doc=f"{SIMHASH_BITS}-bit SimHash fingerprints over token hashes (+1/-1 "
    "bit votes, sign-aggregated). Single shuffle with map-side partial sums.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_simhash(spark, sf_dir)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sig AS ({_duck_simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """,
    tags=("dedup", "sketch", "join"),
    doc=f"SimHash near-dup pairs (Hamming ≤ {HAMMING_MAX}) via pigeonhole "
    f"banding: the 32-bit fingerprint splits into 4 bytes; any pair within "
    f"Hamming {HAMMING_MAX} must agree on ≥1 whole byte, so Spark joins on "
    "(byte_idx, byte) then post-filters — linear in collisions, never "
    "all-pairs. The DuckDB oracle uses the brute-force cross join (verifying "
    "the banded join loses nothing).",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _spark_simhash(spark, sf_dir)  # cached in _spark_simhash; both join sides reuse
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.expr(f"(simhash >> {8 * j}) & 255") for j in range(4)])
        ).alias("byte_idx", "byte_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.byte_idx") == F.col("b.byte_idx"))
            & (F.col("a.byte_val") == F.col("b.byte_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= HAMMING_MAX)


# ---------------------------------------------------------------------------
# Embedding near-dup
# ---------------------------------------------------------------------------


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {COSINE_T}
    """,
    tags=("dedup", "embedding", "join"),
    doc=f"Embedding near-dup pairs (cosine ≥ {COSINE_T}) blocked by label — "
    "the block key stands in for an ANN bucket (see similarity.py for LSH "
    "bucketing); comparisons stay within blocks, never all-pairs. Dot "
    "products via JVM-side zip_with/aggregate (no Python). Rounded to 6 "
    "decimals on both engines so accumulation-order ulps can't flip the "
    "threshold.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        # native Cast, not a transform() lambda: the elementwise widening
        # codegens instead of running interpreted per element (see
        # similarity._spark_vecs)
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # spread the probe side: the per-pair dot products run on the join
    # output, which inherits the probe partitioning (single-split scan)
    a = spread(e).alias("a")
    b = e.alias("b")

    def dot(x: str, y: str) -> str:
        return f"aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0D, (acc, z) -> acc + z)"

    cos = F.expr(
        f"round({dot('a.v', 'b.v')} / (sqrt({dot('a.v', 'a.v')}) * sqrt({dot('b.v', 'b.v')})), 6)"
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= COSINE_T)
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: LSH pairs → connected components → canonical
# doc per cluster → deduplicated corpus. The component step is an *iterative*
# distributed algorithm (min-label propagation to fixpoint) — the operator
# class the registry otherwise lacks; the oracle computes the same components
# with a recursive CTE, so even the iteration is hash-verified.
# ---------------------------------------------------------------------------

def _duck_pairs_sql() -> str:
    sig = _duck_minhash_sig_sql()
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, {_band_expr(j)} AS band_val FROM sig"
        for j in range(N_BANDS)
    )
    return f"""
    WITH sig AS ({sig}),
    bands AS ({band_selects})
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    """


def _duck_components_sql() -> str:
    # AS MATERIALIZED is load-bearing: without it DuckDB re-derives the
    # whole minhash→band→pair chain on EVERY iteration of the recursive
    # fixpoint (measured 1.76 s vs 0.24 s at sf0.01 — it was the sweep's
    # dominant oracle cost for the cluster family). DuckDB-only syntax is
    # fine here: component oracles never run on Spark.
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({_duck_pairs_sql()}),
    edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(doc, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT reach.doc, edges.d FROM reach JOIN edges ON reach.r = edges.s)
    SELECT doc AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY doc
    """


def _spark_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _spark_minhash_sig(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(_band_expr(j)) for j in range(N_BANDS)])).alias(
            "band_idx", "band_val"
        ),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _spark_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-label propagation to fixpoint. Each iteration is one distributed
    join + aggregate; iteration count is the cluster diameter (near-dup
    clusters are small, so a handful). Labels are cached per round and the
    loop is driver-controlled — the legitimate driver-side loop: it moves no
    data, only convergence decisions. Built PER INVOCATION: the result used
    to be memoized per (session, sf_dir), but a session-lifetime memo lets
    repeated bench runs skip the fixpoint loop — cross-run result caching,
    which the measurement rules forbid."""
    from flock_spark.session import clamped_shuffle_partitions

    # candidate-pair relations are tiny next to the corpus; clamp the rounds
    # to cluster parallelism (defaultParallelism = total cores) so a plain
    # 200-partition session doesn't schedule 200 tasks per round — on a real
    # cluster defaultParallelism is the full core count, so no harmful clamp
    with clamped_shuffle_partitions(spark, spark.sparkContext.defaultParallelism):
        return _spark_components_uncached(spark, sf_dir)


def _spark_components_uncached(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The per-round relations (candidate edges, labels) are tiny compared to
    # the corpus — the caller clamps shuffle partitions so a plain
    # 200-partition session doesn't schedule 200 tasks per round per stage.
    return _propagate_components(_spark_lsh_pairs(spark, sf_dir))


def _propagate_components(pairs: DataFrame) -> DataFrame:
    """Min-label propagation to fixpoint over (doc_a, doc_b) candidate
    pairs — shared by the LSH-only and multi-signal cluster entries."""
    # localCheckpoint truncates lineage each round — without it the plan
    # tree doubles per iteration and planning itself OOMs (the standard
    # iterative-algorithm discipline; on a cluster use checkpoint() to
    # reliable storage instead)
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .toDF("s", "d")
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("s").alias("doc"))
        .distinct()
        .withColumn("lab", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    while True:
        prop = (
            edges.join(labels, edges.s == labels.doc)
            .select(F.col("d").alias("doc"), "lab")
            .union(labels)
            .groupBy("doc")
            .agg(F.min("lab").alias("lab"))
            # lazy checkpoint: the changed-count below is the action that
            # materializes it — one job per round, not two
            .localCheckpoint(eager=False)
        )
        changed = (
            prop.join(labels.withColumnRenamed("lab", "old"), "doc")
            .filter(F.col("lab") != F.col("old"))
            .count()
        )
        labels = prop
        if changed == 0:
            break
    return labels.select(F.col("doc").alias("doc_id"), F.col("lab").alias("cluster_id"))


@register(
    "dedup_clusters",
    oracle=_duck_components_sql(),
    tags=("dedup", "iterative"),
    doc="Connected components over the LSH candidate-pair graph via "
    "distributed min-label propagation to fixpoint (iterative-algorithm "
    "class; each round is one join+agg, rounds = cluster diameter). The "
    "oracle computes identical components with a recursive CTE, so the "
    "iteration itself is hash-verified.",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spark_components(spark, sf_dir)


@register(
    "dedup_drop_duplicates",
    oracle=f"""
    WITH comp AS ({_duck_components_sql()})
    SELECT d.doc_id
    FROM documents d
    LEFT JOIN comp ON d.doc_id = comp.doc_id
    WHERE comp.doc_id IS NULL OR comp.doc_id = comp.cluster_id
    """,
    tags=("dedup", "iterative"),
    doc="The pipeline's actual dedup step: keep every document that is not "
    "in any near-dup cluster, plus one canonical representative (min id) "
    "per cluster. Anti-join against the non-canonical cluster members — "
    "the corpus scan stays one pass.",
)
def dedup_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _spark_components(spark, sf_dir)
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    non_canonical = comp.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(non_canonical, "doc_id", "left_anti")


def _mh_agree_sql(a: str, b: str) -> str:
    return "(" + " + ".join(
        f"CASE WHEN {a}.mh{i} = {b}.mh{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    ) + ")"


@register(
    "dedup_minhash_estimate_vs_exact",
    oracle=f"""
    WITH sig AS ({_duck_minhash_sig_sql()}),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {j} AS band_idx, {_band_expr(j)} AS band_val FROM sig" for j in range(N_BANDS))}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id
    ),
    base AS (
      SELECT doc_id,
             list_distinct([{duck_md5_long(f'substring(text, i, {SHINGLE_K})')}
                            for i in generate_series(1, greatest(length(text) - {SHINGLE_K - 1}, 1))]) AS hs
      FROM documents
    )
    SELECT p.doc_a, p.doc_b,
           CAST({_mh_agree_sql('sa', 'sb')} AS BIGINT) AS n_agree,
           round(CAST({_mh_agree_sql('sa', 'sb')} AS DOUBLE) / {N_MINHASH}, 6)
             AS jaccard_est,
           round(CAST(len(list_intersect(ba.hs, bb.hs)) AS DOUBLE)
                 / (len(ba.hs) + len(bb.hs) - len(list_intersect(ba.hs, bb.hs))), 6)
             AS jaccard_exact
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    JOIN base ba ON ba.doc_id = p.doc_a
    JOIN base bb ON bb.doc_id = p.doc_b
    """,
    tags=("dedup", "sketch", "join"),
    doc="Estimator validation for the MinHash sketch: every LSH candidate "
    "pair carries BOTH its signature-agreement Jaccard estimate "
    f"(n_agree/{N_MINHASH}) and the exact shingle-set Jaccard, side by "
    "side — the audit a pipeline runs before trusting sketch thresholds "
    "at scale (same pattern as cms_point_query for Count-Min). Exact "
    "Jaccard is computed ONLY for the LSH candidates via per-doc shingle "
    "arrays and array_intersect — O(candidates), never the all-pairs "
    "blowup of dedup_ngram_jaccard. Integer agreement counts and "
    "integer-ratio rounding keep both columns bit-identical cross-engine.",
)
def dedup_minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _spark_minhash_sig(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.expr(_band_expr(j)) for j in range(N_BANDS)])).alias(
            "band_idx", "band_val"
        ),
    )
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    hs = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length(text) - {SHINGLE_K - 1}, 1)),"
        f" i -> {spark_md5_long(f'substring(text, i, {SHINGLE_K})')}))"
    )
    base = tbl(spark, sf_dir, "documents").select("doc_id", hs.alias("hs"))
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a_mh{i}") for i in range(N_MINHASH)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b_mh{i}") for i in range(N_MINHASH)])
    ba = base.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    bb = base.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    agree = " + ".join(
        f"CASE WHEN a_mh{i} = b_mh{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
    )
    inter = "size(array_intersect(hs_a, hs_b))"
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ba, "doc_a")
        .join(bb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST(({agree}) AS BIGINT)").alias("n_agree"),
            F.expr(f"round(CAST(({agree}) AS DOUBLE) / {N_MINHASH}, 6)").alias(
                "jaccard_est"
            ),
            F.expr(
                f"round(CAST({inter} AS DOUBLE)"
                f" / (size(hs_a) + size(hs_b) - {inter}), 6)"
            ).alias("jaccard_exact"),
        )
    )


HELDOUT_PCT = 10


@register(
    "corpus_split_leakage_safe",
    oracle=f"""
    WITH comp AS ({_duck_components_sql()})
    SELECT d.doc_id,
           COALESCE(comp.cluster_id, d.doc_id) AS group_key,
           CASE WHEN {duck_md5_long("'lsplit' || CAST(COALESCE(comp.cluster_id, d.doc_id) AS VARCHAR)")}
                     % 100 < {HELDOUT_PCT}
                THEN 'heldout' ELSE 'train' END AS split
    FROM documents d LEFT JOIN comp ON d.doc_id = comp.doc_id
    """,
    tags=("corpus", "dedup", "pipeline"),
    doc=f"Leakage-safe train/heldout split: the split key is the document's "
    "near-dup CLUSTER (connected component over the MinHash-LSH candidate "
    "graph; singletons key on their own id), hashed deterministically — so "
    "two near-duplicate documents can never land on opposite sides of the "
    "split, the contamination corpus_split_stratified's per-doc hashing "
    "cannot rule out. This is the split discipline an eval-safe training "
    "pipeline needs (eval contamination via near-dups survives per-doc "
    "dedup thresholds). Reuses the memoized component labels; the split "
    "itself is a pure projection over (doc_id, cluster_id) — one "
    "broadcast-size join at this scale, a bucketed equi-join at 100 TB.",
)
def corpus_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _spark_components(spark, sf_dir)
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    joined = docs.join(comp, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("group_key")
    )
    key = spark_md5_long("'lsplit' || CAST(group_key AS STRING)")
    return joined.withColumn(
        "split",
        F.expr(
            f"CASE WHEN {key} % 100 < {HELDOUT_PCT} THEN 'heldout' ELSE 'train' END"
        ),
    )


SPAN_L = 20  # duplicated-substring gram length (chars)


def _substring_spans_sql(grams_subquery: str) -> str:
    """Shared SQL for dedup_substring_spans; the dialect-specific part is
    the grams relation (doc_id, n_chars, pos, h)."""
    return f"""
    WITH grams AS ({grams_subquery}),
    dup AS (SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) > 1),
    marks AS (
      SELECT g.doc_id, g.n_chars, g.pos,
             CASE WHEN g.pos - lag(g.pos) OVER (PARTITION BY g.doc_id
                                                ORDER BY g.pos) <= {SPAN_L}
                  THEN 0 ELSE 1 END AS brk
      FROM grams g JOIN dup d ON g.h = d.h),
    spans AS (
      SELECT doc_id, n_chars, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS span_id
      FROM marks),
    per_span AS (
      SELECT doc_id, n_chars, span_id,
             min(pos) AS s, max(pos) + {SPAN_L - 1} AS e
      FROM spans GROUP BY doc_id, n_chars, span_id)
    SELECT doc_id,
           count(*) AS n_dup_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_chars,
           round(CAST(sum(e - s + 1) AS DOUBLE) / max(n_chars), 6) AS dup_frac
    FROM per_span GROUP BY doc_id
    """


# The gram KEY is the raw SPAN_L-char substring itself — exactly
# collision-free (no hash caveat) and measurably cheaper than an md5 per
# gram (1.4M interpreted md5 evals cost ~6 s at sf0.1; raw substrings cut
# the gram build ~25% and the dup test becomes literal string equality).
# At petascale, swap in a 64-bit gram hash to shrink shuffle width by
# SPAN_L/8×, trading exactness for a Birthday bound.
_SPANS_GRAMS_DUCK = f"""
      SELECT doc_id, n_chars, pos,
             substring(text, pos, {SPAN_L}) AS h
      FROM (SELECT doc_id, text, n_chars,
                   unnest(generate_series(1, length(text) - {SPAN_L - 1})) AS pos
            FROM documents WHERE length(text) >= {SPAN_L}) t
"""

# Spark-side gram build: slice INSIDE an array transform, then explode only
# the slices. Exploding raw positions first duplicates the full text column
# into every gram row (~n_chars copies of the document per doc — measured
# 20 % slower at sf0.1 even before hashing); the lambda keeps one text per
# row and the exploded payload is SPAN_L chars.
_SPANS_GRAMS_SPARK = f"""
      SELECT doc_id, n_chars, pos + 1 AS pos, h
      FROM (SELECT doc_id, n_chars,
                   transform(sequence(1, length(text) - {SPAN_L - 1}),
                             i -> substring(text, i, {SPAN_L})) AS hs
            FROM documents WHERE length(text) >= {SPAN_L}) t
      LATERAL VIEW posexplode(hs) x AS pos, h
"""


@register(
    "dedup_substring_spans",
    oracle=_substring_spans_sql(_SPANS_GRAMS_DUCK),
    tags=("dedup", "text", "pipeline"),
    doc=f"Exact duplicated-substring detection (the Lee et al. 2021 "
    f"'Deduplicating Training Data Makes Language Models Better' exact-"
    f"substring criterion, re-expressed relationally): every {SPAN_L}-char "
    f"gram is position-hashed, grams occurring in MORE THAN ONE document "
    "mark duplicated positions, and per-document gaps-and-islands (break "
    f"when the next dup position is > {SPAN_L} away) merges overlapping "
    "grams into maximal duplicated SPANS, reported as span count, "
    "duplicated chars, and duplicated fraction per doc. Where the paper "
    "builds a suffix array, the relational lowering is: one explode "
    "(linear, ~|chars| rows), one gram-hash aggregate (map-side combinable "
    "— the dup-gram relation is tiny), a semi-join back, and one "
    "(doc, pos) window — every step partitions: no suffix array, no "
    "global sort of the corpus, same spans. Gram keys are the raw "
    f"{SPAN_L}-char substrings (exactly collision-free; see the gram-build "
    "comment for the petascale hash-key trade).",
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    # the grams relation is referenced twice (dup-gram aggregate + the
    # position join back); the gram enumeration (array transform + explode)
    # dominates cost, so evaluate it once per invocation and let both
    # branches read the pinned relation (no cross-invocation memo — see
    # the signature-relation note above _spark_minhash_sig)
    grams = spark.sql(_SPANS_GRAMS_SPARK).localCheckpoint(eager=True)
    grams.createOrReplaceTempView("spans_grams_tmp")
    return spark.sql(_substring_spans_sql("SELECT * FROM spans_grams_tmp"))


def _duck_multi_signal_components_sql() -> str:
    simhash_pairs = f"""
      WITH sig AS ({_duck_simhash_sql()})
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
    """
    # AS MATERIALIZED: see _duck_components_sql — without it DuckDB re-runs
    # both candidate generators on every fixpoint iteration.
    return f"""
    WITH RECURSIVE mpairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_duck_pairs_sql()}) lshp
      UNION
      SELECT doc_a, doc_b FROM ({simhash_pairs}) shp
    ),
    edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM mpairs
              UNION ALL SELECT doc_b, doc_a FROM mpairs),
    reach(doc, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT reach.doc, edges.d FROM reach JOIN edges ON reach.r = edges.s)
    SELECT doc AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY doc
    """


@register(
    "dedup_multi_signal_clusters",
    oracle=_duck_multi_signal_components_sql(),
    tags=("dedup", "iterative", "pipeline"),
    doc="Multi-signal entity resolution: candidate edges from TWO "
    "independent near-dup generators — MinHash-LSH band collisions "
    "(token-set similarity) and SimHash byte-band collisions (weighted "
    "token votes) — union into one graph, resolved by the shared min-label "
    "propagation. This is the standard ER architecture: each blocking "
    "signal has blind spots, the union of candidate generators shrinks "
    "them, and the transitive closure runs ONCE over all evidence (two "
    "documents joined by a chain of mixed-signal edges land in one "
    "cluster — which per-signal clustering cannot see). Both signal "
    "relations are banded equi-joins (never all-pairs), the union is a "
    "distinct over two small pair sets, and the propagation cost is the "
    "same as single-signal clusters. Oracle: recursive CTE over the "
    "identical unioned edges.",
)
def dedup_multi_signal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.session import clamped_shuffle_partitions

    lsh = _spark_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sim = dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    pairs = lsh.unionByName(sim).distinct()
    with clamped_shuffle_partitions(spark, spark.sparkContext.defaultParallelism):
        return _propagate_components(pairs)


# ---------------------------------------------------------------------------
# Cross-source duplication matrix
# ---------------------------------------------------------------------------


@register(
    "corpus_cross_source_dup_matrix",
    oracle=f"""
    WITH pairs AS ({{}}),
    labeled AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b,
             p.doc_a, p.doc_b
      FROM pairs p
      JOIN documents da ON p.doc_a = da.doc_id
      JOIN documents db ON p.doc_b = db.doc_id)
    SELECT source_a, source_b,
           count(*) AS n_pairs,
           count(DISTINCT doc_a) AS n_docs_a
    FROM labeled
    GROUP BY source_a, source_b
    """.format(_duck_pairs_sql()),
    tags=("dedup", "corpus", "pipeline"),
    doc="Cross-source duplication matrix: which sources copy from which. "
    "MinHash-LSH candidate pairs (banded equi-self-join — never all "
    "pairs; signatures memoized across the dedup family) are labeled "
    "with each side's source and rolled up to (source_a, source_b) pair "
    "counts, sources ordered least/greatest so the matrix is "
    "upper-triangular regardless of pair orientation. This is the "
    "provenance audit run before choosing per-source mixture weights — "
    "mirror-heavy source pairs (n_pairs ~ n_docs) get merged or "
    "deduplicated jointly rather than sampled independently. The source "
    "labels join is two hash joins against the (tiny) pair set, and the "
    "final aggregate is |sources|^2-bounded — negligible at any corpus "
    "size next to the LSH step itself.",
)
def corpus_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _spark_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    src = tbl(spark, sf_dir, "documents").select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnRenamed("source", "src_a"), pairs.doc_a == src.doc_id)
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "src_b").withColumnRenamed("doc_id", "doc_id_b"),
            F.col("doc_b") == F.col("doc_id_b"),
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "doc_a",
            "doc_b",
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("doc_a").alias("n_docs_a"),
    )


# ---------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup: quotes / subsets)
# ---------------------------------------------------------------------------

# containment threshold over the SMALLER side's shingle set: 3/5 = 0.6
CONTAIN_NUM, CONTAIN_DEN = 3, 5
# The exact audit runs on a deterministic 1/3 corpus sample: on a heavily
# duplicated corpus the unrestricted pair aggregate is Th(|dup-cluster|^2)
# and OOMs a plain 1 GiB driver at sf0.1 (measured); a bounded sample is the
# honest production audit shape (same discipline as ann_ivf_recall_audit).
CONTAIN_SAMPLE_MOD = 3


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             list_distinct([{duck_md5_long(f'substring(text, i, {SHINGLE_K})')}
                            for i in generate_series(1, greatest(length(text) - {SHINGLE_K - 1}, 1))]) AS hs
      FROM documents WHERE doc_id % {CONTAIN_SAMPLE_MOD} = 0),
    sh AS (SELECT doc_id, unnest(hs) AS h FROM base),
    sizes AS (SELECT doc_id, len(hs) AS n FROM base),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, n_common,
           least(sa.n, sb.n) AS n_small,
           round(CAST(n_common AS DOUBLE) / least(sa.n, sb.n), 6)
             AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {CONTAIN_DEN} * n_common >= {CONTAIN_NUM} * least(sa.n, sb.n)
      AND {JACCARD_DEN} * n_common < {JACCARD_NUM} * (sa.n + sb.n - n_common)
    """,
    tags=("dedup", "join"),
    doc=f"Asymmetric containment pairs: |A∩B| / |smaller set| ≥ "
    f"{CONTAIN_NUM}/{CONTAIN_DEN} over character-{SHINGLE_K}-gram shingle "
    "sets, RESTRICTED to pairs below the Jaccard threshold — i.e. exactly "
    "the quote/subset relationships symmetric Jaccard dedup misses (a "
    "short doc embedded in a long one has high containment but low "
    "Jaccard, because the union is dominated by the long side). Both "
    "threshold tests are integer arithmetic, no float boundary. The "
    "audit runs on a deterministic 1/3 corpus sample with a SHUFFLE "
    "self-join (sort-merge spills; a broadcast build OOMed a plain "
    "1 GiB driver at sf0.1 — on a duplicated corpus the unrestricted "
    "pair aggregate is Θ(|dup-cluster|²), so the exact form is only "
    "ever a bounded-sample audit, the ann_ivf_recall_audit "
    "discipline); at scale the production candidate set comes from the "
    "banded MinHash machinery with bands tuned for containment "
    "(min-hash of the smaller side), not from the exact self-join.",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") % CONTAIN_SAMPLE_MOD == 0
    )
    hs = F.expr(
        f"array_distinct(transform(sequence(1, greatest(length(text) - {SHINGLE_K - 1}, 1)),"
        f" i -> {spark_md5_long(f'substring(text, i, {SHINGLE_K})')}))"
    )
    base = spread(d).select("doc_id", hs.alias("hs"))
    sizes = base.select("doc_id", F.size("hs").cast("long").alias("n"))
    sh = base.select("doc_id", F.explode("hs").alias("h"))
    # shuffle join, NOT broadcast: the build side is the whole shingle
    # relation, and a sort-merge join spills where a broadcast map OOMs
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na")
    sb = sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb")
    j = inter.join(sa, "doc_a").join(sb, "doc_b")
    small = F.least("na", "nb")
    union = F.col("na") + F.col("nb") - F.col("n_common")
    return (
        j.filter(
            (F.lit(CONTAIN_DEN) * F.col("n_common") >= F.lit(CONTAIN_NUM) * small)
            & (F.lit(JACCARD_DEN) * F.col("n_common") < F.lit(JACCARD_NUM) * union)
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            small.alias("n_small"),
            F.round(F.col("n_common").cast("double") / small, 6).alias("containment"),
        )
    )


# ---------------------------------------------------------------------------
# Connected components by star contraction (large-star / small-star)
# ---------------------------------------------------------------------------


def _star_components(pairs: DataFrame) -> DataFrame:
    """Large-star/small-star contraction (Kiveris et al., 'Connected
    Components in MapReduce and Beyond'): alternating rounds converge in
    O(log n) iterations to a depth-1 forest rooted at each component's
    MINIMUM node — the same labels min-label propagation reaches in
    O(diameter) rounds, so the two algorithms share one exact oracle.

    large-star(u): m = min(neighbors(u) + u); re-point every neighbor
    v > u at m. small-star(u): m = min of the low neighborhood
    {v in neighbors(u): v < u} + u; re-point that whole low neighborhood
    (and u) at m. Each round is one grouped min + one join — the Pregel
    step shape; localCheckpoint truncates lineage per round."""
    spark = pairs.sparkSession
    edges = (
        pairs.union(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        .toDF("u", "v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    while True:
        # large-star
        mins = edges.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("u"), F.col("mv")).alias("m")
        big = (
            edges.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
        )
        keep_low = edges.filter(F.col("v") < F.col("u"))
        ls = (
            big.union(big.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .union(keep_low)
            .union(keep_low.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star over the low neighborhoods
        low = ls.filter(F.col("v") < F.col("u"))
        lmins = low.groupBy("u").agg(F.min("v").alias("m"))
        repointed = (
            low.join(lmins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(lmins.select("u", F.col("m").alias("v")))
        )
        ss = (
            repointed.union(
                repointed.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        changed = ss.exceptAll(edges).count() + edges.exceptAll(ss).count()
        edges = ss.localCheckpoint(eager=True)
        if changed == 0:
            break
    # converged: every node's min neighbor IS its component minimum; roots
    # label themselves
    parents = edges.groupBy("u").agg(F.min("v").alias("p"))
    return parents.select(
        F.col("u").alias("doc_id"),
        F.least(F.col("u"), F.col("p")).alias("cluster_id"),
    )


@register(
    "dedup_clusters_star",
    oracle=_duck_components_sql(),
    tags=("dedup", "iterative"),
    doc="Connected components over the SAME LSH candidate-pair graph as "
    "dedup_clusters, by alternating large-star/small-star contraction "
    "instead of min-label propagation — O(log n) rounds where propagation "
    "takes O(diameter), the algorithm that survives a petascale graph "
    "with long chains (web graphs, citation chains, transitive near-dup "
    "bridges). Shares the recursive-CTE oracle with dedup_clusters: both "
    "must land every node on its component's minimum id, so the "
    "contraction arithmetic itself is hash-verified against the "
    "propagation semantics.",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.session import clamped_shuffle_partitions

    with clamped_shuffle_partitions(spark, spark.sparkContext.defaultParallelism):
        return _star_components(_spark_lsh_pairs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Jaccard threshold sensitivity curve
# ---------------------------------------------------------------------------


def _threshold_curve_oracle() -> str:
    from flock_spark.registry import REGISTRY

    inner = REGISTRY["dedup_minhash_estimate_vs_exact"].oracle
    return f"""
    SELECT CAST(floor(jaccard_exact * 10) AS BIGINT) AS bucket,
           count(*) AS n_pairs,
           CAST(sum(n_agree) AS BIGINT) AS sum_agree,
           min(jaccard_exact) AS min_exact,
           max(jaccard_exact) AS max_exact
    FROM ({inner}) t
    GROUP BY 1
    """


@register(
    "dedup_jaccard_threshold_curve",
    oracle=_threshold_curve_oracle(),
    tags=("dedup", "sketch", "audit"),
    doc="Threshold sensitivity curve for dedup tuning: LSH candidate pairs "
    "bucketed by exact-Jaccard decile, each bucket carrying its pair "
    "count, summed signature agreement (the integer numerator of the "
    "MinHash estimate — exact under any order), and the exact min/max. "
    "Low buckets are the LSH false-positive mass a higher threshold "
    "would re-verify away; high buckets are the pairs every threshold "
    "keeps — THE table consulted before committing a near-dup threshold "
    "to a 100 TB dedup run, where re-running with a different threshold "
    "costs a full pass. Derived entirely from the candidates relation "
    "(O(candidates), reuses memoized signatures) with one tiny decile "
    "aggregate on top.",
)
def dedup_jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.registry import REGISTRY

    base = REGISTRY["dedup_minhash_estimate_vs_exact"].fn(spark, sf_dir)
    return (
        base.groupBy(
            F.floor(F.col("jaccard_exact") * 10).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("n_agree").cast("long").alias("sum_agree"),
            F.min("jaccard_exact").alias("min_exact"),
            F.max("jaccard_exact").alias("max_exact"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental ingest dedup against an existing LSH index
# ---------------------------------------------------------------------------

INGEST_MOD = 10  # doc_id % INGEST_MOD == 0 plays the "newly arrived" batch


def _ingest_dedup_oracle() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, {_band_expr(j)} AS band_val FROM sig"
        for j in range(N_BANDS)
    )
    return f"""
    WITH sig AS ({_duck_minhash_sig_sql()}),
    bands AS ({bands}),
    idx AS (SELECT * FROM bands WHERE doc_id % {INGEST_MOD} <> 0),
    batch AS (SELECT * FROM bands WHERE doc_id % {INGEST_MOD} = 0)
    SELECT b.doc_id AS new_doc,
           count(DISTINCT i.doc_id) AS n_index_matches,
           min(i.doc_id) AS first_match
    FROM batch b
    JOIN idx i ON b.band_idx = i.band_idx AND b.band_val = i.band_val
    GROUP BY b.doc_id
    """


@register(
    "dedup_incremental_new_batch",
    oracle=_ingest_dedup_oracle(),
    tags=("dedup", "sketch", "join", "pipeline", "scale-pattern"),
    doc=f"Incremental ingest dedup: the corpus is split into an existing, "
    f"already-indexed majority (doc_id % {INGEST_MOD} != 0 — standing in "
    "for the persisted LSH band index of a 100 TB corpus) and a newly "
    f"arrived batch (doc_id % {INGEST_MOD} == 0); each new document is "
    "sketched and probed against the index by banded equi-join, and every "
    "flagged arrival reports how many distinct indexed near-duplicates it "
    "hit plus the lowest-id match for provenance. This is the shape that "
    "makes dedup INCREMENTAL at scale: the batch-vs-batch work of "
    "dedup_minhash_lsh_pairs runs once, and thereafter each ingest pays "
    "O(batch) sketching + one keyed join against the stored band table "
    "(bucketed by band_val, the probe is co-located) — never re-sketching "
    "or re-pairing the corpus. Signatures reuse the memoized relation; "
    "the index side here derives from the same corpus scan only because "
    "both live in one test dataset.",
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _spark_minhash_sig(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(*[F.expr(_band_expr(j)) for j in range(N_BANDS)])
        ).alias("band_idx", "band_val"),
    )
    idx = bands.filter(F.col("doc_id") % INGEST_MOD != 0).select(
        F.col("doc_id").alias("idx_doc"), "band_idx", "band_val"
    )
    batch = bands.filter(F.col("doc_id") % INGEST_MOD == 0)
    return (
        batch.join(idx, ["band_idx", "band_val"])
        .groupBy(F.col("doc_id").alias("new_doc"))
        .agg(
            F.count_distinct("idx_doc").alias("n_index_matches"),
            F.min("idx_doc").alias("first_match"),
        )
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection within near-dup clusters
# ---------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    from flock_spark.operators.text import _occ, _tok_count

    return f"""
    WITH comp AS ({_duck_components_sql()}),
    q AS (
      SELECT doc_id,
             CAST({_occ(' the ')} + {_occ(' a ')} + {_occ(' of ')} AS BIGINT)
               AS stop_hits,
             {_tok_count()} AS n_tokens
      FROM documents),
    ranked AS (
      SELECT comp.cluster_id, comp.doc_id, q.stop_hits, q.n_tokens,
             row_number() OVER (PARTITION BY comp.cluster_id
                                ORDER BY q.stop_hits DESC, q.n_tokens DESC,
                                         comp.doc_id) AS rn,
             count(*) OVER (PARTITION BY comp.cluster_id) AS n_members
      FROM comp JOIN q ON comp.doc_id = q.doc_id)
    SELECT cluster_id, doc_id AS kept_doc, n_members,
           stop_hits AS best_stop_hits, n_tokens AS best_n_tokens,
           CAST(doc_id <> cluster_id AS BOOLEAN) AS differs_from_min_id
    FROM ranked WHERE rn = 1
    """


@register(
    "dedup_keep_best_quality",
    oracle=_keep_best_oracle(),
    tags=("dedup", "iterative", "pipeline", "window"),
    doc="Quality-aware canonical selection: within each near-dup cluster, "
    "keep the HIGHEST-QUALITY member (integer quality key: stopword hits, "
    "then token count, then lowest id — exact on both engines) instead of "
    "the arbitrary min-id representative — what production dedup actually "
    "ships, since near-duplicates differ in truncation/boilerplate and "
    "dropping the best copy wastes data (the differs_from_min_id flag "
    "audits exactly how often quality-keep changes the choice). Reuses "
    "the memoized cluster relation (label propagation runs once per "
    "session/dir across the whole dedup family); selection is one "
    "cluster-keyed window over the cluster members — a relation sized by "
    "near-duplicates, not the corpus. The plain min-id variant is "
    "dedup_drop_duplicates; both anti-join the same way downstream.",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from flock_spark.operators.text import _occ, _tok_count

    comp = _spark_components(spark, sf_dir)
    q = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            f"CAST({_occ(' the ')} + {_occ(' a ')} + {_occ(' of ')} AS BIGINT)"
        ).alias("stop_hits"),
        F.expr(_tok_count()).alias("n_tokens"),
    )
    members = comp.join(q, "doc_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("stop_hits"), F.desc("n_tokens"), "doc_id"
    )
    wc = W.partitionBy("cluster_id")
    ranked = members.select(
        "cluster_id",
        "doc_id",
        "stop_hits",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n_members"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc"),
        "n_members",
        F.col("stop_hits").alias("best_stop_hits"),
        F.col("n_tokens").alias("best_n_tokens"),
        (F.col("doc_id") != F.col("cluster_id")).alias("differs_from_min_id"),
    )


# ---------------------------------------------------------------------------
# Count-aware sampling weights from near-dup clusters
# ---------------------------------------------------------------------------


@register(
    "corpus_cluster_sample_weights",
    oracle=f"""
    WITH comp AS ({_duck_components_sql()}),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY cluster_id),
    weighted AS (
      SELECT d.doc_id,
             COALESCE(s.cluster_size, 1) AS cluster_size,
             (1000000 // COALESCE(s.cluster_size, 1)) AS weight_micro
      FROM documents d
      LEFT JOIN comp c ON d.doc_id = c.doc_id
      LEFT JOIN sizes s ON c.cluster_id = s.cluster_id)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(weight_micro) AS BIGINT) AS weight_micro,
           CAST(sum(weight_micro) AS BIGINT) AS total_weight_micro
    FROM weighted
    GROUP BY cluster_size
    """,
    tags=("dedup", "corpus", "pipeline"),
    doc="Count-aware downweighting — the soft alternative to dropping "
    "near-duplicates: every member of an n-doc cluster samples with "
    "weight 1/n (integer micro-units, floor division), so each DISTINCT "
    "piece of content contributes ~equal expected mass to training "
    "regardless of how often it was crawled (the repetition-vs-quality "
    "tradeoff documented in dedup scaling studies; hard-dedup is the "
    "weight→{{0,1}} special case via dedup_drop_duplicates). Reuses the "
    "memoized cluster relation (label propagation runs ONCE per "
    "session/dir across the dedup family); singleton docs take weight 1 "
    "via the LEFT join. Output is the audit histogram per cluster size "
    "— the sum column proving total mass ≈ |distinct content|. At "
    "100 TB: clusters are sized by near-duplicates (tiny vs corpus); "
    "the weight join broadcasts; the sampler applies weight_micro as a "
    "per-row keep probability exactly like corpus_quality_resample.",
)
def corpus_cluster_sample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _spark_components(spark, sf_dir)
    sizes = comp.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    d = tbl(spark, sf_dir, "documents").select("doc_id")
    # comp joins un-hinted: it is near-dup-sized (usually broadcastable, and
    # AQE will pick that), but forcing broadcast would be wrong for a
    # pathologically duplicated corpus; sizes is a histogram — always tiny
    weighted = (
        d.join(comp, "doc_id", "left")
        .join(F.broadcast(sizes), "cluster_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            F.expr("1000000L div COALESCE(cluster_size, 1L)").alias("weight_micro"),
        )
    )
    return weighted.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max("weight_micro").cast("long").alias("weight_micro"),
        F.sum("weight_micro").cast("long").alias("total_weight_micro"),
    )


# ---------------------------------------------------------------------------
# LSH recall audit against the exact baseline
# ---------------------------------------------------------------------------


def _recall_audit_oracle() -> str:
    from flock_spark.registry import REGISTRY

    truth = REGISTRY["dedup_ngram_jaccard"].oracle
    cand = _duck_pairs_sql()
    return f"""
    WITH truth AS ({truth}),
    cand AS ({cand}),
    j AS (
      SELECT COALESCE(t.doc_a, c.doc_a) AS doc_a,
             COALESCE(t.doc_b, c.doc_b) AS doc_b,
             (t.doc_a IS NOT NULL) AS in_truth,
             (c.doc_a IS NOT NULL) AS in_cand
      FROM truth t FULL OUTER JOIN cand c
        ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
    SELECT CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
           CAST(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS BIGINT)
             AS tp,
           CAST(sum(CASE WHEN in_truth AND NOT in_cand THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
           CASE WHEN sum(CASE WHEN in_truth THEN 1 ELSE 0 END) = 0 THEN 0
                ELSE (CAST(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                           AS BIGINT) * 10000)
                     // CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT)
           END AS recall_bp
    FROM j
    """


@register(
    "dedup_lsh_recall_audit",
    oracle=None,  # assigned at import end (composes two registered oracles)
    tags=("dedup", "audit", "join"),
    doc="MinHash-LSH RECALL measured against exact ground truth: the "
    "banded candidate pairs full-outer-joined with the exact char-gram "
    "Jaccard pairs above threshold (dedup_ngram_jaccard — the quadratic "
    "baseline that exists precisely to make this audit possible), "
    "emitting truth/candidate/TP/FN counts and integer basis-point "
    "recall. This is the measurement that justifies shipping the sketch "
    "path at 100 TB — LSH's recall guarantee is probabilistic "
    "(1-(1-s^r)^b), and production validates it on a bounded sample "
    "exactly like this before trusting a full-corpus run (the sibling "
    "of ann_ivf_recall_audit on the embedding side). Cost is O(truth ∪ "
    "candidates) — both relations are pair lists, tiny next to the "
    "corpus; the join is keyed on the pair.",
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.registry import REGISTRY

    truth = REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).select("doc_a", "doc_b")
    cand = _spark_lsh_pairs(spark, sf_dir)
    j = truth.withColumn("in_truth", F.lit(True)).join(
        cand.withColumn("in_cand", F.lit(True)), ["doc_a", "doc_b"], "full_outer"
    )
    it = F.col("in_truth").isNotNull()
    ic = F.col("in_cand").isNotNull()
    return j.agg(
        F.sum(F.when(it, 1).otherwise(0)).cast("long").alias("n_truth"),
        F.sum(F.when(ic, 1).otherwise(0)).cast("long").alias("n_cand"),
        F.sum(F.when(it & ic, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(it & ~ic, 1).otherwise(0)).cast("long").alias("fn"),
        F.expr(
            "CASE WHEN sum(CASE WHEN in_truth IS NOT NULL THEN 1 ELSE 0 END) = 0"
            " THEN 0L ELSE"
            " CAST(sum(CASE WHEN in_truth IS NOT NULL AND in_cand IS NOT NULL"
            " THEN 1 ELSE 0 END) * 10000L AS BIGINT)"
            " div CAST(sum(CASE WHEN in_truth IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " END"
        ).alias("recall_bp"),
    )


from flock_spark.registry import REGISTRY as _REG_DD  # noqa: E402

_REG_DD["dedup_lsh_recall_audit"].oracle = _recall_audit_oracle()


@register(
    "dedup_line_hash_boilerplate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split(trim(text), ' ') AS t FROM documents),
    blocks AS (
      SELECT doc_id, lang,
             unnest([array_to_string(t[(i*8+1):(i*8+8)], ' ')
                     for i in generate_series(0, CAST(floor(len(t)/8) AS INT)-1)])
               AS blk
      FROM toks),
    h AS (
      SELECT doc_id, lang,
             ('0x' || substring(md5(blk), 1, 15))::BIGINT AS bh
      FROM blocks),
    boiler AS (
      SELECT bh FROM h GROUP BY bh HAVING count(DISTINCT doc_id) >= 2)
    SELECT h.lang,
           CAST(count(*) AS BIGINT) AS total_blocks,
           CAST(sum(CASE WHEN b.bh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS boiler_instances,
           CAST(count(DISTINCT CASE WHEN b.bh IS NOT NULL THEN h.doc_id END)
                AS BIGINT) AS docs_with_boiler
    FROM h LEFT JOIN boiler b ON h.bh = b.bh
    GROUP BY h.lang
    """,
    tags=("dedup", "llm"),
    doc="CCNet-style shared-block boilerplate detection: documents are cut "
    "into consecutive 8-token blocks (the line/paragraph unit of CCNet's "
    "line-level dedup — this corpus has no newlines, so the fixed block "
    "stands in for the line split), each block is hashed with the portable "
    "md5-60bit family, and a block hash seen in >= 2 distinct documents is "
    "boilerplate. Output: per-language block totals, boilerplate "
    "instances, and documents carrying any boilerplate. Two shuffles at "
    "any scale: one (bh) aggregate to find shared hashes, one keyed "
    "left join back — 8-token block hashes shuffle, never document text. "
    "This is the missing granularity between dedup_exact (whole doc) and "
    "dedup_substring_spans (any 5-gram span): the production CCNet "
    "pipeline dedups exactly this block unit across shards.",
)
def dedup_line_hash_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    # token array materialized once per row: slicing an inline split inside
    # the lambda re-evaluated split(trim(text)) per block (O(tokens²/8)
    # interpreted work per doc — same class as corpus._bigram_rows)
    blocks = d.select(
        "doc_id", "lang", F.expr("split(trim(text), ' ')").alias("tk")
    ).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(tk) >= 8 THEN "
                "transform(sequence(0, size(tk) div 8 - 1),"
                " i -> array_join(slice(tk, i*8+1, 8), ' '))"
                " ELSE array() END"
            )
        ).alias("blk"),
    )
    h = blocks.select(
        "doc_id", "lang", F.expr(spark_md5_long("blk")).alias("bh")
    )
    from pyspark.sql import Window as W

    # Single pass instead of aggregate + join-back: the old form computed
    # the explode+md5 relation twice (once under the boiler aggregate, once
    # as the join probe) and shuffled it twice (bh for the countDistinct,
    # bh again for the join). Here instances group to one row per (bh,
    # doc_id) — lang rides along, functionally dependent on doc_id — on a
    # single bh-keyed exchange that also serves the window: rows-per-bh
    # over that grouped relation IS countDistinct(doc_id), since each
    # (bh, doc) appears exactly once.
    g = (
        h.repartition("bh")
        .groupBy("bh", "doc_id", "lang")
        .agg(F.count("*").alias("inst"))
    )
    nd = F.count("*").over(W.partitionBy("bh"))
    flagged = g.withColumn("is_boiler", nd >= 2)
    return flagged.groupBy("lang").agg(
        F.sum("inst").cast("long").alias("total_blocks"),
        F.sum(F.when(F.col("is_boiler"), F.col("inst")).otherwise(0))
        .cast("long")
        .alias("boiler_instances"),
        F.countDistinct(F.when(F.col("is_boiler"), F.col("doc_id")))
        .cast("long")
        .alias("docs_with_boiler"),
    )


# ---------------------------------------------------------------------------
# Quality-score vs duplication calibration
# ---------------------------------------------------------------------------


def _quality_q4_sql() -> str:
    """Integer quality level 0..4 — text_quality_score's additive score *4
    (each arm is an exact quarter, so the integer mapping is lossless)."""
    from flock_spark.operators.text import _occ, _tok_count

    stop = f"{_occ(' the ')} + {_occ(' a ')} + {_occ(' of ')}"
    return (
        "(CASE WHEN length(text) BETWEEN 100 AND 5000 THEN 2 ELSE 0 END"
        f" + CASE WHEN {_tok_count()} >= 20 THEN 1 ELSE 0 END"
        f" + CASE WHEN ({stop}) > 0 THEN 1 ELSE 0 END)"
    )


@register(
    "corpus_quality_dup_calibration",
    oracle=None,  # assembled below (needs the recursive-CTE cluster oracle)
    tags=("corpus", "dedup", "quality", "audit"),
    doc="Calibration of the quality score against an independent signal — "
    "near-duplicate cluster membership: per integer quality level, how "
    "many documents sit inside a dup cluster and the dup rate in exact "
    "ppm. This is the measurement behind 'is low quality correlated "
    "with boilerplate duplication?', i.e. whether the two curation "
    "filters are redundant or complementary. Composes two already-"
    "certified relations: the quality projection (per-row, zero "
    "shuffle) and the MEMOIZED label-propagation cluster relation "
    "(computed once per session across the dedup family); the join is "
    "cluster-sized, the output is levels-sized. Integer quality levels "
    "(score*4) avoid grouping on doubles.",
)
def corpus_quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _spark_components(spark, sf_dir).select("doc_id").distinct()
    d = tbl(spark, sf_dir, "documents")
    q = d.selectExpr("doc_id", f"CAST({_quality_q4_sql()} AS BIGINT) AS quality_q4")
    joined = q.join(
        comp.withColumn("in_dup", F.lit(1)), "doc_id", "left"
    )
    return joined.groupBy("quality_q4").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(F.col("in_dup"), F.lit(0))).cast("long").alias("n_in_dup"),
        F.expr(
            "(1000000 * sum(COALESCE(in_dup, 0))) div count(*)"
        ).alias("dup_rate_ppm"),
    )


def _finish_calibration_oracle() -> None:
    from flock_spark.registry import REGISTRY

    REGISTRY["corpus_quality_dup_calibration"].oracle = f"""
    WITH comp AS ({_duck_components_sql()}),
    members AS (SELECT DISTINCT doc_id FROM comp),
    q AS (SELECT doc_id, CAST({_quality_q4_sql()} AS BIGINT) AS quality_q4
          FROM documents)
    SELECT q.quality_q4,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_dup,
           CAST((1000000 * sum(CASE WHEN m.doc_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // count(*)
                AS BIGINT) AS dup_rate_ppm
    FROM q LEFT JOIN members m ON q.doc_id = m.doc_id
    GROUP BY q.quality_q4
    """


_finish_calibration_oracle()


# ---------------------------------------------------------------------------
# LSH band/row tradeoff: the (b, r) knob of every MinHash deployment.
# b*r = N_MINHASH is fixed by the signature; moving rows between bands walks
# the S-curve 1-(1-s^r)^b — more bands/fewer rows = higher recall + more
# false candidates, and you pick the point from a table exactly like this.
# ---------------------------------------------------------------------------

BAND_CONFIGS = ((6, 2), (4, 3), (3, 4), (2, 6))  # (bands, rows), b*r = 12


def _band_expr_cfg(j: int, r: int) -> str:
    parts = " || '_' || ".join(f"CAST(mh{r * j + k} AS STRING)" for k in range(r))
    return f"({parts})"


def _band_tradeoff_oracle() -> str:
    from flock_spark.registry import REGISTRY

    truth = REGISTRY["dedup_ngram_jaccard"].oracle
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, '{b}x{r}' AS cfg, {j} AS band_idx,"
        f" {_band_expr_cfg(j, r)} AS band_val FROM sig"
        for (b, r) in BAND_CONFIGS
        for j in range(b)
    )
    cfg_list = ", ".join(f"'{b}x{r}'" for (b, r) in BAND_CONFIGS)
    return f"""
    WITH sig AS MATERIALIZED ({_duck_minhash_sig_sql()}),
    truth AS MATERIALIZED (SELECT doc_a, doc_b FROM ({truth}) t0),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.cfg = b.cfg AND a.band_idx = b.band_idx
       AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
    t2 AS (SELECT c.cfg, t.doc_a, t.doc_b
           FROM truth t CROSS JOIN (SELECT unnest([{cfg_list}]) AS cfg) c),
    j AS (
      SELECT COALESCE(t.cfg, c.cfg) AS cfg,
             (t.doc_a IS NOT NULL) AS in_truth,
             (c.doc_a IS NOT NULL) AS in_cand
      FROM t2 t FULL OUTER JOIN cand c
        ON t.cfg = c.cfg AND t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
    SELECT cfg,
           CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
           CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
           CAST(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END) AS BIGINT)
             AS tp,
           CASE WHEN sum(CASE WHEN in_truth THEN 1 ELSE 0 END) = 0 THEN 0
                ELSE (CAST(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                           AS BIGINT) * 10000)
                     // CAST(sum(CASE WHEN in_truth THEN 1 ELSE 0 END) AS BIGINT)
           END AS recall_bp,
           CASE WHEN sum(CASE WHEN in_cand THEN 1 ELSE 0 END) = 0 THEN 0
                ELSE (CAST(sum(CASE WHEN in_truth AND in_cand THEN 1 ELSE 0 END)
                           AS BIGINT) * 10000)
                     // CAST(sum(CASE WHEN in_cand THEN 1 ELSE 0 END) AS BIGINT)
           END AS precision_bp
    FROM j GROUP BY cfg
    """


@register(
    "dedup_lsh_band_tradeoff_audit",
    oracle=None,  # assigned at import end (composes registered oracles)
    tags=("dedup", "audit", "sketch"),
    doc=f"LSH band/row S-curve measured, not assumed: the SAME "
    f"{N_MINHASH}-hash signature re-banded as {BAND_CONFIGS} and each "
    "configuration's candidate set scored against the exact char-gram "
    "Jaccard ground truth — one row per (b, r) with candidate volume, "
    "recall, and precision in integer basis points. This is the table a "
    "100 TB dedup rollout reads to pick its operating point (6x2 finds "
    "more true pairs but pays more candidate verifications; 2x6 is "
    "near-free but misses). Scale: signatures are computed ONCE (memoized "
    "narrow map), each config is a banded equi-self-join whose cost "
    "tracks its own collision rate, and the scoring join is over pair "
    "lists — the corpus is never re-read per config.",
)
def dedup_lsh_band_tradeoff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.registry import REGISTRY

    sig = _spark_minhash_sig(spark, sf_dir)
    bands = None
    for (b, r) in BAND_CONFIGS:
        part = sig.select(
            "doc_id",
            F.lit(f"{b}x{r}").alias("cfg"),
            F.posexplode(
                F.array(*[F.expr(_band_expr_cfg(j, r)) for j in range(b)])
            ).alias("band_idx", "band_val"),
        )
        bands = part if bands is None else bands.unionAll(part)
    a, bb = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            bb,
            (F.col("a.cfg") == F.col("b.cfg"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.cfg").alias("cfg"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    truth = REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).select("doc_a", "doc_b")
    cfgs = local_df(spark, [(f"{b}x{r}",) for (b, r) in BAND_CONFIGS], "cfg string")
    t2 = truth.crossJoin(F.broadcast(cfgs))
    j = t2.withColumn("in_truth", F.lit(True)).join(
        cand.withColumn("in_cand", F.lit(True)), ["cfg", "doc_a", "doc_b"], "full_outer"
    )
    it = F.col("in_truth").isNotNull()
    ic = F.col("in_cand").isNotNull()
    return j.groupBy("cfg").agg(
        F.sum(F.when(it, 1).otherwise(0)).cast("long").alias("n_truth"),
        F.sum(F.when(ic, 1).otherwise(0)).cast("long").alias("n_cand"),
        F.sum(F.when(it & ic, 1).otherwise(0)).cast("long").alias("tp"),
        F.expr(
            "CASE WHEN sum(CASE WHEN in_truth IS NOT NULL THEN 1 ELSE 0 END) = 0"
            " THEN 0L ELSE"
            " CAST(sum(CASE WHEN in_truth IS NOT NULL AND in_cand IS NOT NULL"
            " THEN 1 ELSE 0 END) * 10000L AS BIGINT)"
            " div CAST(sum(CASE WHEN in_truth IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " END"
        ).alias("recall_bp"),
        F.expr(
            "CASE WHEN sum(CASE WHEN in_cand IS NOT NULL THEN 1 ELSE 0 END) = 0"
            " THEN 0L ELSE"
            " CAST(sum(CASE WHEN in_truth IS NOT NULL AND in_cand IS NOT NULL"
            " THEN 1 ELSE 0 END) * 10000L AS BIGINT)"
            " div CAST(sum(CASE WHEN in_cand IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
            " END"
        ).alias("precision_bp"),
    )


_REG_DD["dedup_lsh_band_tradeoff_audit"].oracle = _band_tradeoff_oracle()


# ---------------------------------------------------------------------------
# Exact-substring dedup via sorted suffixes (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", arXiv:2107.06499 — the
# suffix-array method, audit-sized): cross-document repeated substrings are
# exactly the long common prefixes of ADJACENT entries in the sorted suffix
# order. Distinct from dedup_substring_spans (word-5-gram spans): this works
# at CHARACTER granularity with exact LCP lengths, the shape that catches
# templated boilerplate crossing token boundaries.
# ---------------------------------------------------------------------------

SFX_SAMPLE = 32  # docs in the audited sample (bounded, like all recall audits)
SFX_W = 48  # suffixes truncated to this width (caps LCP; >= threshold)
SFX_MIN_LCP = 16  # report adjacent pairs sharing at least this many chars


@register(
    "dedup_suffix_lcp_pairs",
    oracle=f"""
    WITH samp AS (
      SELECT doc_id, text FROM documents
      ORDER BY md5('sfx:' || CAST(doc_id AS VARCHAR)), doc_id
      LIMIT {SFX_SAMPLE}),
    sfx AS (
      SELECT doc_id, i AS pos, substring(text, CAST(i AS INT), {SFX_W}) AS suf
      FROM samp,
           LATERAL (SELECT unnest(generate_series(1, length(text))) AS i) t),
    ord AS (
      SELECT doc_id, pos, suf,
             lag(doc_id) OVER (ORDER BY suf, doc_id, pos) AS pdoc,
             lag(suf) OVER (ORDER BY suf, doc_id, pos) AS psuf
      FROM sfx),
    adj AS (
      SELECT doc_id, pdoc, pos, suf, psuf FROM ord
      WHERE pdoc IS NOT NULL AND pdoc != doc_id),
    lcp AS (
      SELECT doc_id, pdoc, pos,
             least(max(CASE WHEN substring(suf, 1, CAST(k AS INT))
                               = substring(psuf, 1, CAST(k AS INT))
                            THEN k ELSE 0 END),
                   length(suf), length(psuf)) AS lcp
      FROM adj,
           LATERAL (SELECT unnest(generate_series(1, {SFX_W})) AS k) t
      GROUP BY doc_id, pdoc, pos, suf, psuf)
    SELECT least(doc_id, pdoc) AS doc_a, greatest(doc_id, pdoc) AS doc_b,
           CAST(max(lcp) AS BIGINT) AS max_lcp,
           CAST(count(*) AS BIGINT) AS n_adj
    FROM lcp WHERE lcp >= {SFX_MIN_LCP}
    GROUP BY 1, 2
    """,
    tags=("dedup", "window", "audit"),
    doc=f"Exact-substring duplicate pairs via sorted suffixes (the Lee et "
    f"al. suffix-array shape, arXiv:2107.06499), audit-sized: a "
    f"deterministic {SFX_SAMPLE}-doc sample explodes into per-position "
    f"suffixes (truncated to {SFX_W} chars), the suffixes sort globally, "
    "and each ADJACENT cross-document pair reports its exact LCP — "
    "repeated substrings of length >= L appear as adjacent sorted suffixes "
    f"with LCP >= L, so pairs at LCP >= {SFX_MIN_LCP} are character-exact "
    "boilerplate hits that word-shingle dedup can miss across token "
    "boundaries. LCP is computed relationally (max matching prefix width "
    "over a bounded k-unnest — monotone, so max = LCP) and both engines "
    "sort ASCII binary-identically, making adjacency itself oracle-exact. "
    "Scale: a distributed suffix sort is range-partitioned sort + "
    "boundary-row exchange (each partition needs only its predecessor's "
    "last suffix); cost is O(total chars · log) with NO all-pairs term, "
    "which is why the suffix approach, not pairwise comparison, is the "
    "production path for exact-substring dedup at 100 TB.",
)
def dedup_suffix_lcp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = tbl(spark, sf_dir, "documents")
    samp = (
        d.orderBy(
            F.md5(F.concat(F.lit("sfx:"), F.col("doc_id").cast("string"))),
            "doc_id",
        )
        .limit(SFX_SAMPLE)
        .select("doc_id", "text")
    )
    sfx = samp.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
    ).select(
        "doc_id",
        F.col("i").alias("pos"),
        F.expr(f"substring(text, i, {SFX_W})").alias("suf"),
    )
    # the audit's global suffix sort: one window over ~SFX_SAMPLE * avg_len
    # rows. At corpus scale this becomes repartitionByRange(suf) + a
    # per-partition lag with each partition's first row joined against its
    # predecessor's last (boundary exchange), never a single-partition sort.
    w = Window.orderBy("suf", "doc_id", "pos")
    ordered = sfx.select(
        "doc_id",
        "pos",
        "suf",
        F.lag("doc_id").over(w).alias("pdoc"),
        F.lag("suf").over(w).alias("psuf"),
    )
    adj = ordered.filter(
        F.col("pdoc").isNotNull() & (F.col("pdoc") != F.col("doc_id"))
    )
    lcp = (
        adj.select(
            "doc_id",
            "pdoc",
            "pos",
            "suf",
            "psuf",
            F.explode(F.sequence(F.lit(1), F.lit(SFX_W))).alias("k"),
        )
        .groupBy("doc_id", "pdoc", "pos", "suf", "psuf")
        .agg(
            F.max(
                F.when(
                    F.expr("substring(suf, 1, k) = substring(psuf, 1, k)"),
                    F.col("k"),
                ).otherwise(F.lit(0))
            ).alias("maxk")
        )
        .select(
            "doc_id",
            "pdoc",
            F.least(
                F.col("maxk"), F.length("suf"), F.length("psuf")
            ).alias("lcp"),
        )
    )
    return (
        lcp.filter(F.col("lcp") >= SFX_MIN_LCP)
        .groupBy(
            F.least("doc_id", "pdoc").alias("doc_a"),
            F.greatest("doc_id", "pdoc").alias("doc_b"),
        )
        .agg(
            F.max("lcp").cast("long").alias("max_lcp"),
            F.count("*").alias("n_adj"),
        )
    )


# ---------------------------------------------------------------------------
# Exact edit distance over LSH candidates: the re-rank stage of a fuzzy-dedup
# pipeline. MinHash/LSH nominates, levenshtein adjudicates — both engines
# compute the same classic DP distance JVM-/native-side, so the oracle is
# exact with no UDF anywhere.
# ---------------------------------------------------------------------------


EDIT_MIN_BANDS = 2  # adjudicate only band-consensus candidates (see doc)


def _edit_pairs_oracle() -> str:
    from flock_spark.registry import REGISTRY

    pairs = REGISTRY["dedup_minhash_lsh_pairs"].oracle
    return f"""
    WITH cand AS ({pairs}),
    pairs AS (SELECT * FROM cand WHERE n_bands >= {EDIT_MIN_BANDS})
    SELECT p.doc_a, p.doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           CAST((levenshtein(a.text, b.text) * 10000)
                // greatest(length(a.text), length(b.text), 1) AS BIGINT)
             AS rel_bp
    FROM pairs p
    JOIN documents a ON p.doc_a = a.doc_id
    JOIN documents b ON p.doc_b = b.doc_id
    """


@register(
    "dedup_edit_distance_pairs",
    oracle=_edit_pairs_oracle(),
    tags=("dedup", "join", "audit"),
    doc="Exact Levenshtein re-rank of the LSH candidate pairs: the fuzzy-"
    "dedup adjudication stage — MinHash banding nominates O(true near-dup) "
    "candidates, then the exact DP edit distance scores each pair plus a "
    "length-normalized distance in integer basis points (edit*10000 div "
    "max(len)), the threshold unit a curation pipeline actually tunes on. "
    "Both engines run their native levenshtein (Spark JVM codegen, DuckDB "
    "vectorized) over the identical ASCII texts, so the score is "
    "oracle-exact with zero Python in the loop. Scale: cost is "
    "O(candidates * len^2) with candidates bounded by the banded "
    "self-join, never all-pairs — at 100 TB the DP runs only on pairs "
    "that already share a signature band, the same shape DataComp/CCNet "
    "use for final adjudication. Candidates are tiered by band "
    f"consensus first: only pairs colliding in >= {EDIT_MIN_BANDS} of the "
    "4 bands pay the DP (this corpus is heavily templated — single-band "
    "collisions are ~100x the consensus set and already adjudicated "
    "cheaply by the signature estimate in "
    "dedup_minhash_estimate_vs_exact), the same escalation ladder a "
    "production run uses to keep the quadratic-cost stage sized by true "
    "near-duplicates.",
)
def dedup_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.registry import REGISTRY

    pairs = (
        REGISTRY["dedup_minhash_lsh_pairs"]
        .fn(spark, sf_dir)
        .filter(F.col("n_bands") >= EDIT_MIN_BANDS)
        .select("doc_a", "doc_b")
    )
    d = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("long").alias("edit_dist"),
            F.expr(
                "CAST((levenshtein(ta, tb) * 10000) div "
                "greatest(length(ta), length(tb), 1) AS BIGINT)"
            ).alias("rel_bp"),
        )
    )
