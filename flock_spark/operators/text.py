"""Text-analysis operators over ``documents`` (LLM-pipeline extensions).

All JVM-side expressions (no Python UDFs): token statistics, language-ID via
stopword scoring, quality scoring from length/token/stopword ratios, and
md5-based document fingerprinting. Counting uses the replace-length trick
(``(length(s) - length(replace(s, pat, ''))) / length(pat)``) which both
engines evaluate identically — no regex-dialect drift in anything compared
against the oracle.

Scale: each operator is a single projection or one grouped aggregate over the
corpus — embarrassingly parallel, no shuffle except the final group-by.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flock_spark.catalog import spread, tbl
from flock_spark.operators.digests import map_rows
from flock_spark.registry import register

# stopword markers per language, matched as ' word ' inside ' ' || text || ' '
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "y"],
}


def _occ(pat: str) -> str:
    """Engine-neutral SQL: occurrence count of `pat` in padded text."""
    s = "(' ' || text || ' ')"
    return f"((length({s}) - length(replace({s}, '{pat}', ''))) / {len(pat)})"


def _tok_count() -> str:
    """Engine-neutral-ish token count: words = occurrences of ' ' + 1 in
    trimmed single-spaced text; robust because corpus is single-spaced."""
    return "(CAST(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 AS BIGINT))"


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           {_tok_count()} AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           n_chars AS n_chars_declared,
           (CAST(length(replace(text, ' ', '')) AS DOUBLE) / {_tok_count()}) AS avg_token_len
    FROM documents
    """,
    tags=("text",),
    doc="Token counting + char stats (whitespace tokenizer; exact integer "
    "arithmetic, deterministic division).",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(_tok_count()).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_computed"),
        F.col("n_chars").alias("n_chars_declared"),
        F.expr(f"CAST(length(replace(text, ' ', '')) AS DOUBLE) / {_tok_count()}").alias(
            "avg_token_len"
        ),
    )


def _lang_score_sql(lang: str) -> str:
    return "(" + " + ".join(_occ(f" {w} ") for w in LANG_MARKERS[lang]) + ")"


def _langid_sql() -> str:
    """Predicted language = argmax of stopword scores, ties broken by the
    fixed key order en > de > fr > es > unknown (strictly-greater chain)."""
    en, de, fr, es = (_lang_score_sql(x) for x in ("en", "de", "fr", "es"))
    return f"""
    SELECT doc_id, lang AS lang_declared,
           CAST({en} AS BIGINT) AS score_en,
           CAST({de} AS BIGINT) AS score_de,
           CAST({fr} AS BIGINT) AS score_fr,
           CAST({es} AS BIGINT) AS score_es,
           CASE
             WHEN {en} >= {de} AND {en} >= {fr} AND {en} >= {es} AND {en} > 0 THEN 'en'
             WHEN {de} >= {fr} AND {de} >= {es} AND {de} > 0 THEN 'de'
             WHEN {fr} >= {es} AND {fr} > 0 THEN 'fr'
             WHEN {es} > 0 THEN 'es'
             ELSE 'unknown'
           END AS lang_pred
    FROM documents
    """


@register(
    "text_langid",
    oracle=_langid_sql(),
    tags=("text",),
    doc="Heuristic language-ID: per-language stopword occurrence scores with "
    "a deterministic argmax. (The corpus' lang column is synthetic/random — "
    "lang_pred is a function of the text only, and the declared label is "
    "carried through for inspection.)",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_sql = _langid_sql()
    d = tbl(spark, sf_dir, "documents")
    d.createOrReplaceTempView("documents")
    return spark.sql(register_sql)


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           {_tok_count()} AS n_tokens,
           CAST({_occ(' the ')} + {_occ(' a ')} + {_occ(' of ')} AS BIGINT) AS stop_hits,
           (CAST({_occ(' the ')} + {_occ(' a ')} + {_occ(' of ')} AS DOUBLE) / {_tok_count()}) AS stop_ratio,
           (CASE WHEN length(text) BETWEEN 100 AND 5000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN {_tok_count()} >= 20 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
            + CASE WHEN ({_occ(' the ')} + {_occ(' a ')} + {_occ(' of ')}) > 0 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
           ) AS quality
    FROM documents
    """,
    tags=("text",),
    doc="Quality scoring: length band + token count + stopword presence → "
    "additive score in [0,1] (the length/punct/stopword-ratio family used by "
    "C4/Gopher-style filters), all exact arithmetic.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    stop = f"{_occ(' the ')} + {_occ(' a ')} + {_occ(' of ')}"
    return d.select(
        "doc_id",
        F.expr(_tok_count()).alias("n_tokens"),
        F.expr(f"CAST({stop} AS BIGINT)").alias("stop_hits"),
        F.expr(f"CAST({stop} AS DOUBLE) / {_tok_count()}").alias("stop_ratio"),
        F.expr(
            # CAST each arm: bare decimal literals would type the sum DECIMAL
            f"CASE WHEN length(text) BETWEEN 100 AND 5000 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
            f" + CASE WHEN {_tok_count()} >= 20 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
            f" + CASE WHEN ({stop}) > 0 THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
        ).alias("quality"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT substring(md5(text), 1, 2) AS bucket,
           count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_distinct
    FROM documents
    GROUP BY 1
    """,
    tags=("text", "dedup"),
    doc="Document fingerprinting: md5 content hash, bucketed by 2-hex-char "
    "prefix (256-way) — the partitioning scheme a 100 TB fingerprint store "
    "would shard on.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    return (
        d.select(fp.alias("fp"))
        .groupBy(F.substring("fp", 1, 2).alias("bucket"))
        .agg(F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_distinct"))
    )


@register(
    "pipeline_quality_dedup_stats",
    oracle="""
    WITH kept AS (
      SELECT doc_id, text FROM documents
      WHERE length(text) >= 30
        AND length(replace(text, ' ', '')) * 10 < length(text) * 9),
    uniq AS (
      SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM kept GROUP BY text)
    SELECT count(*) AS n_docs,
           CAST(sum(n_copies) - count(*) AS BIGINT) AS n_dropped_dups,
           CAST(sum(length(k.text)) AS BIGINT) AS total_chars
    FROM uniq JOIN kept k ON uniq.doc_id = k.doc_id
    """,
    tags=("text", "dedup", "pipeline"),
    doc="End-to-end training-data pipeline slice in one declarative plan: "
    "quality gate (min length, space-ratio) → exact dedup keeping the "
    "lowest doc_id → corpus statistics. Composes entirely from scans, "
    "filters, and two aggregations — one shuffle per agg, no Python; the "
    "same chained plan shape holds at 100 TB with the MinHash cluster "
    "dedup slotted in place of the exact groupBy.",
)
def pipeline_quality_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    kept = d.filter(
        (F.length("text") >= 30)
        & (F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) * 10
           < F.length("text") * 9)
    ).select("doc_id", "text")
    uniq = kept.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"), F.count("*").alias("n_copies")
    )
    joined = uniq.select("doc_id", "n_copies").join(kept, "doc_id")
    return joined.agg(
        F.count("*").alias("n_docs"),
        (F.sum("n_copies") - F.count("*")).alias("n_dropped_dups"),
        F.sum(F.length("text")).alias("total_chars"),
    )


# BPE-ish pre-tokenization pattern (GPT-2 style split classes: leading-space
# word / number / punctuation runs), restricted to the lookahead-free subset
# both Java regex and RE2 support — and backslash-free, so the same literal
# is valid in Spark and DuckDB SQL strings.
_BPE_PAT = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@register(
    "text_token_stats_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS BIGINT) AS n_bpe_tokens,
           {_tok_count()} AS n_ws_tokens,
           (CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS DOUBLE)
            / {_tok_count()}) AS fertility
    FROM documents
    """,
    tags=("text", "tokenizer"),
    doc="BPE-ish token counting: GPT-2-style pre-tokenization classes "
    "(leading-space word/number/punct runs) via regexp_extract_all, "
    "compared against the whitespace count as a fertility ratio — the "
    "pre-tokenizer pass a training pipeline runs to budget sequence "
    "lengths before the real BPE merge table is applied. Pure JVM regexp, "
    "narrow pipeline.",
)
def text_token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    bpe = f"CAST(size(regexp_extract_all(text, '{_BPE_PAT}', 0)) AS BIGINT)"
    return d.select(
        "doc_id",
        F.expr(bpe).alias("n_bpe_tokens"),
        F.expr(_tok_count()).alias("n_ws_tokens"),
        F.expr(f"CAST({bpe} AS DOUBLE) / {_tok_count()}").alias("fertility"),
    )


POSTINGS_HEAD = 16
MIN_DF = 5


@register(
    "text_inverted_index",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), toks AS (
      SELECT DISTINCT doc_id, tok FROM raw WHERE tok <> ''
    )
    SELECT tok, count(*) AS df,
           array_to_string((list_sort(list(doc_id)))[1:{POSTINGS_HEAD}], ',')
             AS postings_head
    FROM toks
    GROUP BY tok
    HAVING count(*) >= {MIN_DF}
    """,
    tags=("text", "index"),
    doc="Inverted-index construction: token -> document-frequency + sorted "
    "posting-list head, the core build step of corpus search and of "
    "TF-IDF-weighted quality filters. explode(split) -> per-doc distinct "
    "-> one shuffle on the token. The posting list is capped at "
    f"{POSTINGS_HEAD} entries in the OUTPUT only (a result row must stay "
    "O(1); full postings would make stopword rows gigabytes at 100 TB) — "
    "production writes the full lists sharded by token instead. df keeps "
    "the exact count either way. The sorted head is serialized to a CSV "
    "string at the output boundary (LIST output columns are banned — r6 "
    "driver canonicalizer hazard).",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    # collect_set dedups (tok, doc_id) inside the aggregate, so the whole
    # index builds in ONE shuffle keyed by token (a separate distinct would
    # add a second exchange on the wider (doc_id, tok) key)
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    postings = F.sort_array(F.collect_set("doc_id"))
    head = F.transform(
        F.slice(postings, 1, POSTINGS_HEAD), lambda x: x.cast("string")
    )
    return (
        toks.groupBy("tok")
        .agg(
            F.size(postings).cast("long").alias("df"),
            F.array_join(head, ",").alias("postings_head"),
        )
        .filter(F.col("df") >= MIN_DF)
    )


TFIDF_TOP = 5


@register(
    "text_tfidf_topk_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS c FROM tok WHERE tok <> '' GROUP BY 1, 2
    ), df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM tok WHERE tok <> '' GROUP BY tok
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.tok,
             round((tf.c * CAST(n.n_docs AS DOUBLE)) / df.df, 6) AS score
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, tok, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok) AS rn
      FROM scored
    )
    SELECT doc_id, tok, score, rn FROM ranked WHERE rn <= {TFIDF_TOP}
    """,
    tags=("text", "index", "window"),
    doc=f"TF-IDF keyword extraction: top-{TFIDF_TOP} terms per document "
    "under term-frequency x linear inverse-document-frequency (c * N / df "
    "— the linear-idf variant keeps the score a single deterministic "
    "division of exact integers, where log-idf would hang cross-engine "
    "parity on libm ulp agreement). One shuffle builds tf, one builds df "
    "(distinct-token universe only), the scalar N broadcasts, and the "
    "per-doc top-k is a rank window — the keyword/quality-signal "
    "extraction pass of a curation pipeline, fed by the same token "
    "pipeline as the inverted index.",
)
def text_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    df_t = tok.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_t, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                (F.col("c") * F.col("n_docs").cast("double")) / F.col("df"), 6
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP)
        .select("doc_id", "tok", "score", "rn")
    )


# ---------------------------------------------------------------------------
# BM25 retrieval ranking
# ---------------------------------------------------------------------------

BM25_TERMS = ("window", "join", "scan")  # fixed literal query, mid/high-df
BM25_K1 = "1.2"
BM25_B = "0.75"
BM25_TOP = 10


def _bm25_term_micros() -> str:
    """Engine-neutral SQL for one term's BM25 contribution in integer micros.

    idf is the odds form (N - df + 0.5) / (df + 0.5) WITHOUT the log —
    log-idf would hang cross-engine parity on libm ulp agreement (same
    trade as text_tfidf_topk_terms' linear idf), while +,*,/ on doubles are
    IEEE exactly-rounded and deterministic given the identical expression
    shape both engines get here. Each term's double score is quantized to
    integer micros BEFORE the per-doc sum so the sum is exact integer
    arithmetic — a 2-3-term double sum would be association-order-sensitive.
    """
    idf = "((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))"
    tf_part = (
        f"((tf * ({BM25_K1} + 1.0)) / "
        f"(tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * (dl / avgdl))))"
    )
    return f"CAST(round({idf} * {tf_part} * 1000000) AS BIGINT)"


@register(
    "text_bm25_doc_ranking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok
      FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT count(*) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM tok
      WHERE tok IN {BM25_TERMS!r} GROUP BY doc_id, tok),
    df AS (
      SELECT tok, count(DISTINCT doc_id) AS df FROM tok
      WHERE tok IN {BM25_TERMS!r} GROUP BY tok),
    term_scores AS (
      SELECT tf.doc_id,
             {_bm25_term_micros()} AS micros
      FROM tf JOIN df ON tf.tok = df.tok
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats),
    scored AS (
      SELECT doc_id, CAST(sum(micros) AS BIGINT) AS score_micros
      FROM term_scores GROUP BY doc_id)
    SELECT doc_id, score_micros,
           CAST(row_number() OVER (ORDER BY score_micros DESC, doc_id)
                AS BIGINT) AS rank
    FROM scored
    ORDER BY score_micros DESC, doc_id
    LIMIT {BM25_TOP}
    """,
    tags=("text", "index", "retrieval", "scale-pattern"),
    doc=f"BM25 document ranking for a fixed {len(BM25_TERMS)}-term query "
    f"(k1={BM25_K1}, b={BM25_B}): the retrieval scorer behind "
    "contamination search, RAG corpus audits, and hard-negative mining. "
    "The token stream is filtered to the (broadcast-small) query terms "
    "BEFORE any aggregation, so only query-term postings ever shuffle — "
    "corpus-size-independent past the one dl/avgdl length pass, which a "
    "production index precomputes once per ingest. Per-term scores are "
    "quantized to integer micros before the per-doc sum (exact, "
    "association-order-free) and the final top-k plans as "
    "TakeOrderedAndProject. Oracle shares the identical IEEE expression "
    "shape; idf is the log-free odds form (see _bm25_term_micros).",
)
def text_bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE corpus pass: dl and the three query-term tfs ride the same
    # doc_id aggregate as conditional counts (map-side partials collapse
    # the token stream before the one exchange). The previous form derived
    # the explode four times — dl for stats, dl for the score join, qtok
    # for tf, qtok for df — because each consumer inlined the token
    # subtree (plan: 4 scans, 7 exchanges). df now derives FROM tf (tf
    # has one row per posting, so df = postings per term), dl rides the
    # tf row itself (no dl join), and the bounded one-row-per-doc relation
    # is pinned so stats and the scoring pass share one materialization —
    # exactly the "decide on small rows" discipline: a production index
    # precomputes this per-doc table once per ingest.
    d = tbl(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), " ")).alias("tok")
    )
    per_doc = (
        tok.groupBy("doc_id")
        .agg(
            F.count("*").alias("dl"),
            *[
                F.count(F.when(F.col("tok") == t, 1)).alias(f"tf_{i}")
                for i, t in enumerate(BM25_TERMS)
            ],
        )
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    stack_args = ", ".join(
        f"'{t}', tf_{i}" for i, t in enumerate(BM25_TERMS)
    )
    tf = per_doc.selectExpr(
        "doc_id",
        "dl",
        f"stack({len(BM25_TERMS)}, {stack_args}) AS (tok, tf)",
    ).filter(F.col("tf") > 0)
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    term_scores = (
        tf.join(F.broadcast(df_t), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_bm25_term_micros()).alias("micros"))
    )
    scored = term_scores.groupBy("doc_id").agg(
        F.sum("micros").cast("long").alias("score_micros")
    )
    from pyspark.sql import Window as W

    # top-k FIRST (plans as TakeOrderedAndProject — partial top-k per
    # partition, K-row final merge), THEN the unpartitioned rank window,
    # which therefore only ever sees K rows — not the scored corpus
    top = scored.orderBy(F.desc("score_micros"), "doc_id").limit(BM25_TOP)
    w = W.orderBy(F.desc("score_micros"), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# BPE tokenizer training: one merge step
# ---------------------------------------------------------------------------

BPE_TOP_PAIRS = 20


@register(
    "tokenizer_bpe_merge_step",
    oracle=f"""
    WITH words AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
      WHERE length(word) >= 2
      GROUP BY word),
    pairs AS (
      SELECT unnest([substring(word, i, 2)
                     for i in generate_series(1, length(word) - 1)]) AS pair,
             freq
      FROM words),
    counted AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
      FROM pairs GROUP BY pair)
    SELECT pair, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, pair)
                           AS BIGINT) AS rank
    FROM counted
    ORDER BY cnt DESC, pair
    LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("text", "tokenizer", "aggregate", "scale-pattern"),
    doc=f"One BPE training step: the top-{BPE_TOP_PAIRS} adjacent "
    "character pairs by corpus frequency — the merge-candidate ranking "
    "at the heart of byte-pair-encoding tokenizer training. The scale "
    "trick IS the plan shape: the corpus-sized pass is ONE word-count "
    "aggregate (map-side combinable, vocabulary-sized output), and pair "
    "enumeration then runs over the VOCABULARY weighted by word "
    "frequency — never over the raw token stream — so each further "
    "merge iteration costs |vocab|, not |corpus| (exactly how production "
    "BPE trainers amortize: count words once, iterate merges over the "
    "weighted vocab). Top-k plans as TakeOrderedAndProject; the rank "
    "window runs over k rows.",
)
def tokenizer_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.trim("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    counted = pairs.groupBy("pair").agg(F.sum("freq").cast("long").alias("cnt"))
    top = counted.orderBy(F.desc("cnt"), "pair").limit(BPE_TOP_PAIRS)
    w = W.orderBy(F.desc("cnt"), "pair")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# BPE tokenizer training: apply the learned merge, recount (iteration 2)
# ---------------------------------------------------------------------------


@register(
    "tokenizer_bpe_apply",
    oracle=f"""
    WITH words AS (
      SELECT word, count(*) AS freq
      FROM (SELECT unnest(string_split(trim(text), ' ')) AS word FROM documents) t
      WHERE length(word) >= 2
      GROUP BY word),
    pairs AS (
      SELECT unnest([substring(word, i, 2)
                     for i in generate_series(1, length(word) - 1)]) AS pair,
             freq
      FROM words),
    counted AS (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
      FROM pairs GROUP BY pair),
    t1 AS (SELECT pair FROM counted ORDER BY cnt DESC, pair LIMIT 1),
    merged AS (
      SELECT replace(word, (SELECT pair FROM t1), chr(1)) AS mw, freq
      FROM words),
    mpairs AS (
      SELECT unnest([substring(mw, i, 2)
                     for i in generate_series(1, length(mw) - 1)]) AS p2,
             freq
      FROM merged WHERE length(mw) >= 2),
    expanded AS (
      SELECT CASE WHEN substring(p2, 1, 1) = chr(1)
                  THEN (SELECT pair FROM t1) ELSE substring(p2, 1, 1) END
               AS left_sym,
             CASE WHEN substring(p2, 2, 1) = chr(1)
                  THEN (SELECT pair FROM t1) ELSE substring(p2, 2, 1) END
               AS right_sym,
             freq
      FROM mpairs),
    c2 AS (
      SELECT left_sym, right_sym, CAST(sum(freq) AS BIGINT) AS cnt
      FROM expanded GROUP BY left_sym, right_sym)
    SELECT left_sym, right_sym, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, left_sym, right_sym)
                AS BIGINT) AS rank
    FROM c2 ORDER BY cnt DESC, left_sym, right_sym
    LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("text", "tokenizer", "aggregate", "scale-pattern"),
    doc="The second BPE training iteration — proof the merge LOOP runs at "
    "|vocab| cost, not |corpus|: the winning pair from "
    "tokenizer_bpe_merge_step is applied to every vocabulary word "
    "(leftmost non-overlapping replacement with a 1-char marker symbol — "
    "exactly the greedy left-to-right BPE merge, and exactly what both "
    "engines' replace() implements, so the merge semantics are "
    "dialect-identical by construction), then adjacent SYMBOL pairs are "
    "recounted over the merged vocab, marker expanded back to its "
    "2-char symbol in the output. The corpus-sized pass remains the ONE "
    "word-frequency aggregate inherited from step 1; the merge + recount "
    "touch only vocabulary rows, so iterating to a 50k-merge vocabulary "
    "costs 50k × |vocab| — never re-reading the corpus. The winning pair "
    "rides along as a broadcast 1-row relation (scalar subquery), no "
    "driver collect. Top-k plans as TakeOrderedAndProject.",
)
def tokenizer_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.trim("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    counted = pairs.groupBy("pair").agg(F.sum("freq").cast("long").alias("cnt"))
    top1 = (
        counted.orderBy(F.desc("cnt"), "pair")
        .limit(1)
        .select(F.col("pair").alias("top_pair"))
    )
    merged = words.crossJoin(F.broadcast(top1)).select(
        F.expr("replace(word, top_pair, chr(1))").alias("mw"), "freq", "top_pair"
    )
    mpairs = (
        merged.filter(F.length("mw") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(mw) - 1),"
                    " i -> substring(mw, i, 2))"
                )
            ).alias("p2"),
            "freq",
            "top_pair",
        )
    )
    sym = lambda i: F.when(  # noqa: E731
        F.expr(f"substring(p2, {i}, 1)") == F.expr("chr(1)"), F.col("top_pair")
    ).otherwise(F.expr(f"substring(p2, {i}, 1)"))
    expanded = mpairs.select(
        sym(1).alias("left_sym"), sym(2).alias("right_sym"), "freq"
    )
    c2 = expanded.groupBy("left_sym", "right_sym").agg(
        F.sum("freq").cast("long").alias("cnt")
    )
    top = c2.orderBy(F.desc("cnt"), "left_sym", "right_sym").limit(BPE_TOP_PAIRS)
    w = W.orderBy(F.desc("cnt"), "left_sym", "right_sym")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Greedy longest-match subword tokenization (WordPiece-style)
# ---------------------------------------------------------------------------

WP_VOCAB_3 = (
    "ing", "ion", "ent", "ers", "the", "and", "est", "ate", "ter", "ive",
)
WP_VOCAB_2 = (
    "er", "in", "on", "at", "es", "ed", "or", "an", "re", "te", "st", "ar",
    "al", "it", "se", "le", "is", "en", "nt", "to", "nd", "ou", "ea", "ti",
    "de", "ra", "ng", "co", "ma", "li",
)
WP_TOP_WORDS = 300
WP_WORD_RE = "[a-z]{2,12}"


def _wp_greedy(word: str) -> tuple[int, str]:
    """Greedy longest-match-first segmentation over the fixed vocab; single
    chars are always in-vocab (byte fallback), so every word segments."""
    pieces: list[str] = []
    pos = 0
    while pos < len(word):
        if word[pos : pos + 3] in WP_VOCAB_3:
            step = 3
        elif word[pos : pos + 2] in WP_VOCAB_2:
            step = 2
        else:
            step = 1
        pieces.append(word[pos : pos + step])
        pos += step
    return len(pieces), "|".join(pieces)


_WP_V3_SQL = ", ".join(f"'{u}'" for u in WP_VOCAB_3)
_WP_V2_SQL = ", ".join(f"'{u}'" for u in WP_VOCAB_2)


@register(
    "tokenizer_wordpiece_greedy",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT word, cnt FROM (
        SELECT lower(w) AS word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS w
              FROM documents) t
        WHERE regexp_full_match(lower(w), '{WP_WORD_RE}')
        GROUP BY lower(w)
        ORDER BY cnt DESC, word
        LIMIT {WP_TOP_WORDS}) s
    ),
    seg AS (
      SELECT word, cnt, CAST(1 AS BIGINT) AS pos, CAST('' AS VARCHAR) AS pieces,
             CAST(0 AS BIGINT) AS n_pieces
      FROM words
      UNION ALL
      SELECT word, cnt, pos + length(m) AS pos, pieces || '|' || m AS pieces,
             n_pieces + 1 AS n_pieces
      FROM (
        SELECT word, cnt, pos, pieces, n_pieces,
          CASE WHEN substring(word, CAST(pos AS INT), 3) IN ({_WP_V3_SQL})
                 THEN substring(word, CAST(pos AS INT), 3)
               WHEN substring(word, CAST(pos AS INT), 2) IN ({_WP_V2_SQL})
                 THEN substring(word, CAST(pos AS INT), 2)
               ELSE substring(word, CAST(pos AS INT), 1) END AS m
        FROM seg WHERE pos <= length(word)) s
    )
    SELECT word, cnt, n_pieces, substring(pieces, 2) AS pieces
    FROM seg WHERE pos = length(word) + 1
    """,
    tags=("text", "tokenizer", "pandas_udf"),
    doc="WordPiece-style INFERENCE: greedy longest-match-first segmentation "
    "of the corpus's frequent words against a fixed subword vocab (3-char "
    "units beat 2-char beat single-char fallback — single chars are "
    "always in-vocab, so segmentation is total; this is the apply side "
    "of the trainer that tokenizer_bpe_merge_step/tokenizer_bpe_apply "
    "build). Spark runs the greedy loop as a vectorized pandas batch "
    "over the word list — per-word cost is O(len), data-parallel, no "
    "state — while the oracle REPLAYS it as a recursive CTE (one "
    "recursion step per emitted piece, bounded by max word length), so "
    "an imperative algorithm is certified against a purely declarative "
    "respecification, the strongest cross-form check in the repo's "
    "differential arsenal. At 100 TB tokenization distributes "
    "perfectly: the vocab broadcasts (real vocabs are ~30k entries — a "
    "trie per executor), the corpus streams once, output is the token "
    "stream; the word-frequency LIMIT here only bounds the certified "
    "sample, not the plan shape.",
)
def tokenizer_wordpiece_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    d = tbl(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.trim("text"), " ")).alias("w"))
        .select(F.lower("w").alias("word"))
        .filter(F.col("word").rlike(f"^{WP_WORD_RE}$"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(WP_TOP_WORDS)
    )

    def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            segs = [_wp_greedy(w) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "cnt": pdf["cnt"],
                    "n_pieces": pd.Series([s[0] for s in segs], dtype="int64"),
                    "pieces": [s[1] for s in segs],
                }
            )

    return words.mapInPandas(
        tokenize, schema="word string, cnt long, n_pieces long, pieces string"
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction
# ---------------------------------------------------------------------------

RAKE_STOPWORDS = (
    "the", "and", "a", "an", "of", "to", "in", "is", "on", "for", "with",
    "as", "by", "at", "or", "be", "are", "was", "it", "this", "that", "from",
)
RAKE_TOP = 100

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(trim(lower(text)), ' ') AS t,
             len(string_split(trim(lower(text)), ' ')) AS n
      FROM documents WHERE text IS NOT NULL),
    pos AS (
      SELECT doc_id, t[p] AS tok, p,
             CASE WHEN t[p] IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END AS is_stop
      FROM (SELECT doc_id, t, unnest(generate_series(1, n)) AS p
            FROM toks WHERE n > 0) x),
    islands AS (
      SELECT doc_id, tok, is_stop,
             sum(is_stop) OVER (PARTITION BY doc_id ORDER BY p) AS phrase_id
      FROM pos),
    phrases AS (
      SELECT doc_id, phrase_id, tok,
             count(*) OVER (PARTITION BY doc_id, phrase_id) AS phrase_len
      FROM islands WHERE is_stop = 0),
    words AS (
      SELECT tok AS word,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(phrase_len) AS BIGINT) AS degree
      FROM phrases GROUP BY tok)
    SELECT word, freq, degree,
           (degree * 100) // freq AS rake_x100
    FROM words
    ORDER BY rake_x100 DESC, freq DESC, word
    LIMIT {RAKE_TOP}
    """,
    tags=("text", "window", "aggregate"),
    doc="RAKE keyword extraction (Rose et al. 2010): candidate phrases are "
    "maximal stopword-free token runs — found by gaps-and-islands (a "
    "running stopword count names the runs; the pattern-matching "
    "discipline of events_pattern_kleene applied to text) — and each "
    "word scores degree/freq, where degree sums the lengths of phrases "
    "containing it (words living in longer phrases rank higher). Score "
    "kept as integer hundredths via floor division — no float in the "
    f"ordering. Top-{RAKE_TOP} plans as TakeOrderedAndProject. At "
    "100 TB: explode → one doc-keyed window → word aggregate; map-side "
    "partials mean the distinct-word universe, not the token stream, "
    "crosses the final shuffle; no joins, no pairwise anything.",
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.trim(F.lower("text")), " ").alias("t")
    )
    pos = toks.select(
        "doc_id", F.posexplode("t").alias("p", "tok")
    ).withColumn(
        "is_stop", F.when(F.col("tok").isin(*RAKE_STOPWORDS), 1).otherwise(0)
    )
    wp = W.partitionBy("doc_id").orderBy("p")
    islands = pos.withColumn("phrase_id", F.sum("is_stop").over(wp))
    wl = W.partitionBy("doc_id", "phrase_id")
    phrases = islands.filter(F.col("is_stop") == 0).withColumn(
        "phrase_len", F.count("*").over(wl)
    )
    words = phrases.groupBy(F.col("tok").alias("word")).agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("phrase_len").cast("long").alias("degree"),
    )
    return (
        words.select(
            "word",
            "freq",
            "degree",
            F.expr("(degree * 100L) div freq").alias("rake_x100"),
        )
        .orderBy(F.desc("rake_x100"), F.desc("freq"), "word")
        .limit(RAKE_TOP)
    )


@register(
    "text_hashed_linear_quality",
    oracle="""
    WITH scored AS (
      SELECT lang,
             len(string_split(trim(lower(text)), ' ')) AS n_toks,
             list_sum([('0x' || substring(md5(w), 1, 15))::BIGINT % 201 - 100
                       for w in string_split(trim(lower(text)), ' ')]) AS wsum
      FROM documents),
    classed AS (
      SELECT lang, n_toks,
             CASE WHEN wsum >= 4 * n_toks THEN 'good'
                  WHEN wsum <= -4 * n_toks THEN 'bad'
                  ELSE 'mid' END AS qclass
      FROM scored)
    SELECT lang, qclass,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS toks_total
    FROM classed GROUP BY lang, qclass
    """,
    tags=("text", "llm", "quality"),
    doc="Hashed-bag-of-words linear quality classifier — the fastText-style "
    "model-based filter (score = w·x over hashed token features) that "
    "production pipelines (CCNet, RefinedWeb) run after the rule-based "
    "battery (text_quality_score). Weights here are the deterministic "
    "hash-derived stand-in w(tok) = md5_60(tok) % 201 - 100 (a trained "
    "model would broadcast a real weight table keyed the same way; the "
    "Spark plumbing — per-row fold, no shuffle until the final per-class "
    "rollup — is identical). Classification compares the integer weight "
    "sum against ±4·n_tokens (avg weight ±4), division-free so both "
    "engines agree exactly. One scan, one exchange.",
)
def text_hashed_linear_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    scored = d.select(
        "lang",
        F.expr("size(split(trim(lower(text)), ' '))").alias("n_toks"),
        F.expr(
            "aggregate(transform(split(trim(lower(text)), ' '),"
            " w -> CAST(conv(substring(md5(w), 1, 15), 16, 10) AS BIGINT)"
            " % 201 - 100), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("wsum"),
    )
    classed = scored.select(
        "lang",
        "n_toks",
        F.when(F.col("wsum") >= 4 * F.col("n_toks"), "good")
        .when(F.col("wsum") <= -4 * F.col("n_toks"), "bad")
        .otherwise("mid")
        .alias("qclass"),
    )
    return classed.groupBy("lang", "qclass").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("toks_total"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup (CommonCrawl-style)
# ---------------------------------------------------------------------------

_URL_HOSTS = ["News.Example.COM", "blog.example.com", "WWW.Example.com"]
_URL_TRACK = ["utm_source=feed", "utm_campaign=x", "ref=home", ""]


def _url_gen(md5l, str_t: str) -> str:
    """Engine-templated synthetic raw URL for a doc_id: mixed-case host,
    optional default port, tracking params, fragment — every mess the
    canonicalizer must remove, chosen deterministically by md5."""
    h = md5l(f"('url' || CAST(doc_id AS {str_t}))")
    host = (
        f"(CASE ({h} % 3) WHEN 0 THEN '{_URL_HOSTS[0]}' "
        f"WHEN 1 THEN '{_URL_HOSTS[1]}' ELSE '{_URL_HOSTS[2]}' END)"
    )
    port = f"(CASE WHEN ({h} % 5) = 0 THEN ':80' ELSE '' END)"
    track = (
        f"(CASE ({h} % 4) WHEN 0 THEN '?{_URL_TRACK[0]}' "
        f"WHEN 1 THEN '?{_URL_TRACK[1]}' "
        f"WHEN 2 THEN '?{_URL_TRACK[2]}' ELSE '' END)"
    )
    frag = f"(CASE WHEN ({h} % 7) = 0 THEN '#section2' ELSE '' END)"
    path = f"('/post/' || CAST(({h} % 40) AS {str_t}) || '/')"
    return f"('http://' || {host} || {port} || {path} || {track} || {frag})"


def _url_canon_sql(md5l, str_t: str) -> str:
    """Canonicalize then count collisions per canonical URL. The regex
    surface is deliberately RE2-and-Java-compatible (no lookaround)."""
    raw = _url_gen(md5l, str_t)
    return f"""
    WITH raw AS (SELECT doc_id, {raw} AS url FROM documents),
    canon AS (
      SELECT doc_id,
             -- the :80 strip is a plain string replace (the path alphabet
             -- can't contain ':80'), NOT a regex with a backreference:
             -- replacement syntax diverges across engines ($1 in Java
             -- regex vs \\1 in RE2), so backreferences are banned here
             replace(
               regexp_replace(
                 regexp_replace(lower(url), '#.*$', ''),
                 '[?](utm_[a-z]+=[^&#]*|ref=[^&#]*)', ''),
               ':80/', '/') AS c1
      FROM raw),
    c2 AS (
      SELECT doc_id,
             CASE WHEN c1 LIKE '%/' THEN substring(c1, 1, length(c1) - 1)
                  ELSE c1 END AS curl
      FROM canon),
    c3 AS (SELECT doc_id, replace(curl, '://www.', '://') AS curl FROM c2)
    SELECT curl,
           count(*) AS n_docs,
           min(doc_id) AS canonical_doc,
           CAST(count(*) - 1 AS BIGINT) AS n_dups
    FROM c3
    GROUP BY curl
    """


@register(
    "text_url_canonicalize_dedup",
    oracle=None,  # set below — needs the DuckDB md5 template
    tags=("text", "dedup", "pipeline"),
    doc="URL canonicalization + exact dedup — the first stage of a "
    "CommonCrawl-style pipeline: lowercase, strip fragments, tracking "
    "params (utm_*/ref), default :80 ports, trailing slashes, and the "
    "www prefix, then group by canonical URL keeping min(doc_id) as "
    "survivor. The synthetic raw URLs are md5-derived with every mess "
    "class present (mixed-case hosts, optional ports/params/fragments), "
    "so the oracle regenerates and re-canonicalizes them independently — "
    "a green hash certifies the whole normalization chain end to end. "
    "Regexes are lookaround-free (portable across Java regex and RE2). "
    "Pure per-row projection + one aggregate: scan-partitioning "
    "preserved, the only exchange carries canonical keys.",
)
def text_url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.hashing import spark_md5_long

    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_url_canon_sql(spark_md5_long, "STRING"))


def _finish_url_oracle() -> None:
    from flock_spark.operators.hashing import duck_md5_long
    from flock_spark.registry import REGISTRY

    REGISTRY["text_url_canonicalize_dedup"].oracle = _url_canon_sql(
        duck_md5_long, "VARCHAR"
    )


_finish_url_oracle()


# ---------------------------------------------------------------------------
# Vocabulary coverage curve
# ---------------------------------------------------------------------------


@register(
    "tokenizer_vocab_coverage_curve",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(trim(text), ' ')) AS tok FROM documents),
    counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    ranked AS (
      SELECT c,
             row_number() OVER (ORDER BY c DESC, tok) AS rk,
             sum(c) OVER (ORDER BY c DESC, tok
                          ROWS UNBOUNDED PRECEDING) AS cum,
             (SELECT CAST(sum(c) AS BIGINT) FROM counts) AS total
      FROM counts),
    ks AS (SELECT CAST(1 << i AS BIGINT) AS k
           FROM range(12) t(i))
    SELECT ks.k,
           CAST(max(ranked.cum) AS BIGINT) AS covered,
           CAST(max(ranked.total) AS BIGINT) AS total,
           CAST((1000000 * max(ranked.cum)) // max(ranked.total) AS BIGINT)
             AS coverage_ppm
    FROM ks JOIN ranked ON ranked.rk <= ks.k
    GROUP BY ks.k
    """,
    tags=("text", "tokenizer", "stats"),
    doc="Vocabulary coverage curve: what fraction of all token "
    "occurrences the top-k most frequent types cover, for k in powers "
    "of two — the measurement a tokenizer vocabulary size is chosen "
    "from (the integer skeleton of a Zipf fit, no logs). One token "
    "count aggregate (vocabulary-sized), one running-sum window over "
    "the RANKED VOCABULARY (not the corpus), and a tiny k-grid join; "
    "coverage is exact integer ppm. Deterministic tie-break (count "
    "DESC, token ASC) on the rank order.",
)
def tokenizer_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = tbl(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.trim(F.col("text")), " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    from pyspark.sql import Window as W

    wr = W.orderBy(F.desc("c"), "tok")
    ranked = counts.select(
        "c",
        F.row_number().over(wr).alias("rk"),
        F.sum("c").over(wr.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
    ).crossJoin(counts.agg(F.sum("c").cast("long").alias("total")))
    ks = d.sparkSession.range(12).selectExpr(
        "CAST(shiftleft(1, CAST(id AS INT)) AS BIGINT) AS k"
    )
    return (
        ks.join(F.broadcast(ranked), F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.max("cum").cast("long").alias("covered"),
            F.max("total").cast("long").alias("total"),
            # integer division on both engines (// in DuckDB, div here):
            # CAST(double) rounds in DuckDB but truncates in Spark, so the
            # float path would diverge at x.5 boundaries
            F.expr("(1000000 * max(cum)) div max(total)").alias("coverage_ppm"),
        )
    )


@register(
    "text_langid_confusion_audit",
    oracle=f"""
    WITH pred AS ({_langid_sql()})
    SELECT lang_declared, lang_pred,
           count(*) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS example_doc
    FROM pred
    GROUP BY lang_declared, lang_pred
    """,
    tags=("text", "quality", "audit"),
    doc="Classifier-quality confusion matrix for the heuristic language "
    "ID: declared label x predicted label with counts and one example "
    "doc per cell — the accuracy audit every production classifier "
    "(langid, quality scorer, toxicity filter) ships next to its "
    "predictions, in the same pattern as ann_ivf_recall_audit for ANN. "
    "The corpus' lang column is synthetic, so the matrix is deliberately "
    "noisy — which is the point: the audit MEASURES disagreement rather "
    "than assuming the label. One scan (prediction is a per-row "
    "projection) + one cells-sized aggregate.",
)
def text_langid_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(
        f"""
        WITH pred AS ({_langid_sql()})
        SELECT lang_declared, lang_pred,
               count(*) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS example_doc
        FROM pred
        GROUP BY lang_declared, lang_pred
        """
    )


# ---------------------------------------------------------------------------
# Multi-pattern blocklist matching via Aho-Corasick (Aho & Corasick 1975):
# the corpus-filtering primitive — screen every document against a phrase
# blocklist in ONE pass over the text, instead of one scan per pattern.
# ---------------------------------------------------------------------------

BLOCKLIST_N = 16  # patterns: the alphabetically-first distinct corpus tokens


def aho_corasick_build(patterns: list[str]):
    """Build the automaton: goto trie, BFS failure links, and per-node
    output sets (pattern indices ending at that node, merged through the
    failure chain — the part naive trie matchers miss when one pattern is
    a suffix of another)."""
    goto: list[dict[str, int]] = [{}]
    out: list[set[int]] = [set()]
    for idx, pat in enumerate(patterns):
        node = 0
        for ch in pat:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append(set())
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].add(idx)
    fail = [0] * len(goto)
    queue = list(goto[0].values())
    for node in queue:  # BFS; queue grows in place
        for ch, nxt in goto[node].items():
            queue.append(nxt)
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != nxt else 0
            out[nxt] |= out[fail[nxt]]
    return goto, fail, out


def aho_corasick_scan(text: str, goto, fail, out) -> set[int]:
    """One pass over the text; returns the set of pattern indices that occur
    as substrings."""
    hits: set[int] = set()
    node = 0
    for ch in text:
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        if out[node]:
            hits |= out[node]
    return hits


@register(
    "text_blocklist_multimatch",
    oracle=f"""
    WITH pats AS (
      SELECT token FROM (
        SELECT DISTINCT unnest(string_split(trim(text), ' ')) AS token
        FROM documents) t
      WHERE token != '' ORDER BY token LIMIT {BLOCKLIST_N}),
    hits AS (
      SELECT d.doc_id, p.token
      FROM documents d JOIN pats p ON contains(d.text, p.token))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           md5(string_agg(token, ',' ORDER BY token)) AS hits_md5
    FROM hits GROUP BY doc_id
    """,
    tags=("text", "pandas_udf", "filter"),
    doc=f"Phrase-blocklist screening via a REAL Aho-Corasick automaton "
    f"(goto trie + BFS failure links + failure-merged output sets): every "
    f"document is scanned ONCE against all {BLOCKLIST_N} patterns "
    "simultaneously — O(text + matches) per doc — where the naive plan "
    "runs one contains() scan per pattern. The pattern set is derived "
    "deterministically (alphabetically-first distinct corpus tokens), and "
    "the oracle adjudicates with per-pattern contains() on a bounded "
    "docs x patterns join, so every hit set is exact cross-engine. "
    "Scale: THE shape for safety/quality filtering at 100 TB — a "
    "production blocklist is 10^4-10^6 phrases, where per-pattern scans "
    "are simply infeasible (10^6 passes over the corpus) and the "
    "automaton's one-pass cost is unchanged; the automaton builds once "
    "per task from a broadcast pattern list, and matching stays inside "
    "the Arrow batch loop with no JVM round trip per pattern.",
)
def text_blocklist_multimatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    d = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    pats = [
        r[0]
        for r in (
            d.select(
                F.explode(F.split(F.trim("text"), " ")).alias("token")
            )
            .filter(F.col("token") != "")
            .distinct()
            .orderBy("token")
            .limit(BLOCKLIST_N)
            .collect()
        )
    ]  # bounded driver-side state: BLOCKLIST_N strings, like the ANN queries
    bpats = spark.sparkContext.broadcast(pats)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        patterns = bpats.value
        goto, fail, out = aho_corasick_build(patterns)
        for pdf in batches:
            rows: dict[str, list] = {"doc_id": [], "n_hits": [], "hits_md5": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                hits = aho_corasick_scan(str(text), goto, fail, out)
                if not hits:
                    continue
                names = sorted(patterns[i] for i in hits)
                rows["doc_id"].append(int(doc_id))
                rows["n_hits"].append(len(names))
                rows["hits_md5"].append(
                    hashlib.md5(",".join(names).encode()).hexdigest()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                    "n_hits": pd.Series(rows["n_hits"], dtype="int64"),
                    "hits_md5": pd.Series(rows["hits_md5"], dtype="object"),
                }
            )

    from flock_spark.catalog import spread

    return spread(d).mapInPandas(
        run, schema="doc_id long, n_hits long, hits_md5 string"
    )


# ---------------------------------------------------------------------------
# Boilerplate removal / main-text extraction (jusText-shaped line filter)
# ---------------------------------------------------------------------------

BOILER_LINE_W = 8  # words per pseudo-line
_BOILER_HEADER = "<a> home </a> <a> about </a> <a> contact </a>"
_BOILER_FOOTER = "copyright <a> terms </a> <a> privacy </a>"
_BOILER_SIDEBAR = "<a> login </a>"


def _boiler_sql(words_select: str, listagg_line: str, listagg_kept: str,
                idiv: str, pages_body: str | None = None) -> str:
    """One template produces both engines' SQL; the holes are the engine's
    positional-explode spelling, its ordered string-aggregate spelling,
    its integer-division operator, and optionally the pages derivation
    (the Spark side replaces the 4-way UNION ALL — which plans one
    documents scan PER BRANCH — with a single-scan inline-array explode
    producing the identical rows; the oracle keeps the UNION form).
    Classification is pure integer arithmetic: a line is LINK boilerplate
    when link tokens are at least half its tokens (2*n_link >= n_tokens),
    LOWSTOP when it has zero stopwords ('a'/'the' — jusText's
    stopword-density gate with the threshold at the only
    cross-engine-exact value), KEEP otherwise."""
    if pages_body is None:
        pages_body = f"""
      SELECT doc_id, 0 AS part, '{_BOILER_HEADER}' AS ptext FROM documents
      UNION ALL SELECT doc_id, 1, text FROM documents
      UNION ALL SELECT doc_id, 2, '{_BOILER_FOOTER}' FROM documents
      UNION ALL SELECT doc_id, 3, '{_BOILER_SIDEBAR}' FROM documents
        WHERE doc_id % 2 = 1"""
    return f"""
    WITH pages AS ({pages_body}),
    words AS ({words_select}),
    lines AS (
      SELECT doc_id, part, pos {idiv} {BOILER_LINE_W} AS line_no,
             {listagg_line} AS line,
             count(*) AS n_tokens,
             sum(CASE WHEN word IN ('<a>', '</a>') THEN 1 ELSE 0 END)
               AS n_link,
             sum(CASE WHEN word IN ('a', 'the') THEN 1 ELSE 0 END) AS n_stop
      FROM words
      GROUP BY doc_id, part, pos {idiv} {BOILER_LINE_W}),
    classified AS (
      SELECT doc_id, part, line_no, line, length(line) AS n_chars,
             CASE WHEN 2 * n_link >= n_tokens THEN 'link'
                  WHEN n_stop = 0 THEN 'lowstop'
                  ELSE 'keep' END AS verdict
      FROM lines)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN verdict = 'link' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_link,
           CAST(sum(CASE WHEN verdict = 'lowstop' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_lowstop,
           CAST(sum(CASE WHEN verdict = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(coalesce(sum(CASE WHEN verdict = 'keep' THEN n_chars END), 0)
                AS BIGINT) AS kept_chars,
           md5(coalesce({listagg_kept}, '')) AS kept_md5
    FROM classified
    GROUP BY doc_id
    """


_BOILER_SPARK = _boiler_sql(
    words_select="SELECT doc_id, part, pos, word FROM pages "
    "LATERAL VIEW posexplode(split(ptext, ' ')) t AS pos, word",
    listagg_line="listagg(word, ' ') WITHIN GROUP (ORDER BY pos)",
    listagg_kept="listagg(CASE WHEN verdict = 'keep' THEN line END, chr(10)) "
    "WITHIN GROUP (ORDER BY part, line_no)",
    idiv="div",
    pages_body=f"""
      SELECT doc_id, p.part AS part, p.ptext AS ptext FROM documents
      LATERAL VIEW explode(filter(array(
        named_struct('part', 0, 'ptext', '{_BOILER_HEADER}'),
        named_struct('part', 1, 'ptext', text),
        named_struct('part', 2, 'ptext', '{_BOILER_FOOTER}'),
        CASE WHEN doc_id % 2 = 1
             THEN named_struct('part', 3, 'ptext', '{_BOILER_SIDEBAR}')
             END), x -> x IS NOT NULL)) t AS p""",
)

_BOILER_DUCK = _boiler_sql(
    words_select="SELECT doc_id, part, "
    "generate_subscripts(string_split(ptext, ' '), 1) - 1 AS pos, "
    "unnest(string_split(ptext, ' ')) AS word FROM pages",
    listagg_line="string_agg(word, ' ' ORDER BY pos)",
    listagg_kept="string_agg(line, chr(10) ORDER BY part, line_no) "
    "FILTER (WHERE verdict = 'keep')",
    idiv="//",
)


@register(
    "text_boilerplate_linefilter",
    oracle=_BOILER_DUCK,
    tags=("text", "corpus", "cleaning", "sql"),
    doc="Boilerplate-removal / main-text extraction, the jusText/"
    "trafilatura-shaped line classifier that is the first cleaning pass "
    "of every web-corpus pipeline: each document becomes a page "
    f"(a nav header, its text chunked into {BOILER_LINE_W}-word lines, a "
    "footer, and for odd doc_ids a sidebar — the synthetic lines carry "
    "real <a>-tag link tokens), then EVERY line goes through one "
    "classifier: LINK boilerplate when link tokens make up at least half "
    "the line (2*n_link >= n_tokens, the integer link-density gate that "
    "kills nav/footer chrome), LOWSTOP when the line has no stopwords "
    "(jusText's stopword-density gate — content prose keeps function "
    "words, keyword-stuffed chrome does not), KEEP otherwise. Emits "
    "per-document drop counts by reason, surviving char mass, and the "
    "md5 of the kept text in document order (the actual extraction "
    "output). Fully declarative on both engines — one posexplode + two "
    "ordered aggregates, no UDF: at 100 TB this is a per-document "
    "shuffle-free pipeline after the explode, the same plan family as "
    "every tokenize-then-aggregate pass, and Catalyst keeps the whole "
    "classification in whole-stage codegen.",
)
def text_boilerplate_linefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_BOILER_SPARK)


# ---------------------------------------------------------------------------
# Robots Exclusion Protocol (RFC 9309) longest-match classification
# ---------------------------------------------------------------------------

# The synthetic rule group the entry classifies against (prefix-only rules so
# the longest-match tournament is exactly expressible in SQL on both
# engines; the full wildcard matcher below handles '*'/'$' and is pinned by
# tests against the RFC's documented examples).
ROBOTS_RULES: tuple[tuple[str, str], ...] = (
    ("/", "allow"),
    ("/doc_", "allow"),
    ("/doc_1", "disallow"),
    ("/doc_12", "allow"),
    ("/doc_3", "disallow"),
    ("/doc_34", "disallow"),
    ("/doc_7", "allow"),
    ("/doc_7", "disallow"),  # exact duplicate: RFC tie -> allow wins
)


def rep_path_match(pattern: str, path: str) -> bool:
    """RFC 9309 §2.2.3 path matching: '*' matches any octet sequence,
    a trailing '$' anchors the pattern at the end of the path; matching is
    greedy left-to-right (the standard reference behavior)."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = pattern.split("*")
    if not path.startswith(parts[0]):
        return False
    pos = len(parts[0])
    if len(parts) == 1:
        # no '*' at all: anchored means exact octet-length equality
        return pos == len(path) if anchored else True
    # middle segments: greedy leftmost is optimal (it minimizes consumed
    # octets, leaving maximum room for everything to the right)
    for part in parts[1:-1]:
        idx = path.find(part, pos)
        if idx < 0:
            return False
        pos = idx + len(part)
    last = parts[-1]
    if anchored:
        # the final literal segment must sit at the very END of the path
        # (matching it leftmost false-negatives when it also occurs
        # earlier, e.g. '/a*b$' vs '/aXbYb'); with a trailing '*' before
        # '$' last == '' and the wildcard consumes the rest.
        return path.endswith(last) and len(path) - len(last) >= pos
    return path.find(last, pos) >= 0


def rep_decision(rules, path: str) -> tuple[str, str, bool]:
    """RFC 9309 §2.2.2: the most specific (longest, by octet length of the
    pattern WITHOUT its '$' terminator) matching rule wins; on a length tie
    the LEAST RESTRICTIVE (allow) rule wins; a further tie between distinct
    same-length same-verdict rules resolves to the lexicographically
    largest rule text (a total, engine-shared order — the verdict is
    already decided at that point, only the reported rule needs to be
    deterministic). Returns (rule, verdict, allowed); no match -> implicit
    allow."""
    best = None  # (core_len, allow_bit, rule, verdict)
    for rule, verdict in rules:
        if rep_path_match(rule, path):
            core = rule[:-1] if rule.endswith("$") else rule
            key = (len(core), 1 if verdict == "allow" else 0, rule)
            if best is None or key > best[:3]:
                best = (key[0], key[1], rule, verdict)
    if best is None:
        return "", "allow", True
    return best[2], best[3], best[3] == "allow"


_ROBOTS_RULES_SQL = "\n      UNION ALL ".join(
    f"SELECT '{r}' AS rule, '{v}' AS verdict" for r, v in ROBOTS_RULES
)

_ROBOTS_SQL = f"""
    WITH rules AS (
      {_ROBOTS_RULES_SQL}),
    urls AS (
      SELECT doc_id, concat('/doc_', CAST(doc_id AS STRING)) AS url
      FROM documents),
    m AS (
      SELECT u.doc_id, u.url, r.rule, r.verdict,
             -- tournament key: longest rule wins, allow beats disallow on
             -- ties (two distinct same-length prefixes cannot both match
             -- one URL, so ties only occur on identical rule text and the
             -- allow bit fully breaks them)
             length(r.rule) * 2
               + CASE WHEN r.verdict = 'allow' THEN 1 ELSE 0 END AS k
      FROM urls u JOIN rules r
        ON substring(u.url, 1, length(r.rule)) = r.rule)
    SELECT doc_id, url,
           max_by(rule, k) AS match_rule,
           CAST(length(max_by(rule, k)) AS BIGINT) AS rule_len,
           CAST(max(k) % 2 AS BIGINT) AS allowed
    FROM m
    GROUP BY doc_id, url
"""


@register(
    "text_robots_longest_match",
    oracle=_ROBOTS_SQL,
    tags=("text", "corpus", "crawl", "sql"),
    doc="Robots Exclusion Protocol (RFC 9309) longest-match classification "
    "— the crawl-side gate of every web-corpus pipeline, run relationally: "
    "each document's URL plays against a rule group and the MOST SPECIFIC "
    "(longest by octet length) matching rule decides, with allow beating "
    "disallow on exact ties (§2.2.2, exercised by a deliberate duplicate "
    "rule). Fully declarative and engine-shared: the rules are a literal "
    "relation, matching is a prefix equality join, and the tournament is "
    "a max_by group-by — map-side partial aggregation reduces each URL to "
    "one row BEFORE the exchange (plan-pinned) — so at 100 TB the rule "
    "table broadcasts, the URL corpus streams through the join without a "
    "pre-shuffle, and the shuffle carries one row per URL. The "
    "full wildcard semantics ('*'/'$', greedy octet matching) live in "
    "rep_path_match/rep_decision, test-pinned against the RFC's examples "
    "and replayed against this entry's verdicts.",
)
def text_robots_longest_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_ROBOTS_SQL)


# ---------------------------------------------------------------------------
# Robots wildcard rules as data: '*'/'$' matching lowered to relational LIKE
# ---------------------------------------------------------------------------

# Wildcard rule group: '*' and '$' rules decide real verdicts here (the
# prefix-only entry above keeps its original certified shape). URLs are
# '/doc_<id>', so '*' rules key off digits appearing anywhere in the id and
# '$' rules off the id's final digit.
ROBOTS_WILD_RULES: tuple[tuple[str, str], ...] = (
    ("/", "allow"),
    ("/doc_", "allow"),
    ("/doc_*1", "disallow"),   # any id containing a '1'
    ("/doc_*1$", "allow"),     # ...unless it ENDS in '1' (len tie -> allow)
    ("/doc_*3", "disallow"),   # any id containing a '3'
    ("/doc_2*7$", "allow"),    # ids starting 2... ending 7 (both wildcards)
    ("/doc_*9$", "disallow"),  # ids ending in '9'
    ("/doc_4*", "disallow"),   # ids starting with '4'
    ("/doc_44*$", "allow"),    # ids starting with '44' (anchored trailing *)
)

_REP_LIKE_ESC = "!"


def rep_like_pattern(pattern: str) -> str:
    """Lower one RFC 9309 path pattern to a SQL LIKE pattern with identical
    semantics: '*' -> '%', literal '%'/'_'/escape octets escaped with '!',
    a trailing '$' anchors (no trailing '%'), otherwise the pattern matches
    any path prefix (trailing '%'). LIKE anchors at the string start, which
    is exactly RFC prefix matching from the first path octet."""
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    out = []
    for ch in core:
        if ch == "*":
            out.append("%")
        elif ch in ("%", "_", _REP_LIKE_ESC):
            out.append(_REP_LIKE_ESC + ch)
        else:
            out.append(ch)
    if not anchored:
        out.append("%")
    return "".join(out)


def _rep_core_len(pattern: str) -> int:
    return len(pattern) - 1 if pattern.endswith("$") else len(pattern)


_ROBOTS_WILD_RULES_SQL = "\n      UNION ALL ".join(
    f"SELECT '{r}' AS rule, '{rep_like_pattern(r)}' AS like_pat, "
    f"{_rep_core_len(r) * 2 + (1 if v == 'allow' else 0)} AS k"
    for r, v in ROBOTS_WILD_RULES
)

_ROBOTS_WILD_SQL = f"""
    WITH rules AS (
      {_ROBOTS_WILD_RULES_SQL}),
    urls AS (
      SELECT doc_id, concat('/doc_', CAST(doc_id AS STRING)) AS url
      FROM documents),
    m AS (
      SELECT u.doc_id, u.url,
             -- total tournament key: zero-padded specificity (2*core_len +
             -- allow_bit) then the rule text, so two distinct rules tying
             -- on length AND verdict still resolve identically on both
             -- engines (ASCII byte order)
             concat(lpad(CAST(r.k AS STRING), 6, '0'), r.rule) AS kk,
             r.k
      FROM urls u JOIN rules r
        ON u.url LIKE r.like_pat ESCAPE '{_REP_LIKE_ESC}')
    SELECT doc_id, url,
           substring(max(kk), 7) AS match_rule,
           -- floor(), not a bare CAST: DuckDB ROUNDS float->int casts
           -- while Spark truncates; floor agrees on both (k >= 0)
           CAST(floor(max(k) / 2) AS BIGINT) AS rule_len,
           CAST(max(k) % 2 AS BIGINT) AS allowed
    FROM m
    GROUP BY doc_id, url
"""


@register(
    "text_robots_wildcard_match",
    oracle=_ROBOTS_WILD_SQL,
    tags=("text", "corpus", "crawl", "sql"),
    doc="RFC 9309 robots matching with WILDCARD rules as data — '*' and "
    "'$' rules (§2.2.3) decide real verdicts relationally, closing the "
    "prefix-only restriction of text_robots_longest_match: each '*' "
    "lowers to SQL LIKE '%' (literal '%'/'_' octets escaped), a '$' "
    "terminator drops the trailing '%' so the pattern anchors at the "
    "path end — semantics identical to rep_path_match, which the test "
    "suite replays against every verdict this entry emits. Specificity "
    "is the octet length of the pattern without its '$' terminator; "
    "allow beats disallow on ties; a residual tie between distinct "
    "same-length same-verdict rules resolves by rule text through a "
    "single total sort key (zero-padded specificity || rule), so the "
    "winning rule is deterministic and engine-shared. Scale: the rule "
    "relation is literal and broadcasts; LIKE matching streams the URL "
    "corpus through the join with no pre-shuffle; max/max_by-style "
    "aggregation reduces each URL map-side to one row before the "
    "exchange — the same plan family as the prefix entry, now carrying "
    "the full pattern language real robots.txt files use.",
)
def text_robots_wildcard_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_ROBOTS_WILD_SQL)


# ---------------------------------------------------------------------------
# CDX / SURT crawl-index canonicalization (Common-Crawl index dedup shape)
# ---------------------------------------------------------------------------

_SURT_SPARK_SQL = """
    WITH caps AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'www'
                  WHEN doc_id % 3 = 1 THEN 'en' ELSE 'img' END AS sub,
             concat('example', CAST(doc_id % 5 AS STRING), '.com') AS dom,
             concat('/doc/', CAST(doc_id % 40 AS STRING)) AS path,
             concat('b=', CAST(doc_id % 4 AS STRING),
                    '&utm_source=', CAST(doc_id % 2 AS STRING),
                    '&a=', CAST(doc_id % 3 AS STRING)) AS query,
             20250000000000 + doc_id AS ts,
             md5(hex(CAST(text AS BINARY))) AS digest
      FROM documents),
    canon AS (
      SELECT ts, digest,
             concat(
               array_join(reverse(split(
                 CASE WHEN sub = 'www' THEN dom
                      ELSE concat(sub, '.', dom) END, '[.]')), ','),
               ')', path, '?',
               array_join(array_sort(filter(split(query, '&'),
                 x -> x NOT LIKE 'utm!_%' ESCAPE '!')), '&')
             ) AS surt_key
      FROM caps)
    SELECT surt_key,
           CAST(count(*) AS BIGINT) AS n_captures,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_unique_digests,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM canon GROUP BY surt_key
"""

@register(
    "text_cdx_surt_dedup",
    oracle="""
    WITH caps AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'www'
                  WHEN doc_id % 3 = 1 THEN 'en' ELSE 'img' END AS sub,
             concat('example', CAST(doc_id % 5 AS VARCHAR), '.com') AS dom,
             concat('/doc/', CAST(doc_id % 40 AS VARCHAR)) AS path,
             concat('b=', CAST(doc_id % 4 AS VARCHAR),
                    '&utm_source=', CAST(doc_id % 2 AS VARCHAR),
                    '&a=', CAST(doc_id % 3 AS VARCHAR)) AS query,
             20250000000000 + doc_id AS ts,
             md5(hex(encode(text))) AS digest
      FROM documents),
    canon AS (
      SELECT ts, digest,
             concat(
               array_to_string(list_reverse(string_split(
                 CASE WHEN sub = 'www' THEN dom
                      ELSE concat(sub, '.', dom) END, '.')), ','),
               ')', path, '?',
               array_to_string(list_sort(list_filter(string_split(query, '&'),
                 x -> x NOT LIKE 'utm!_%' ESCAPE '!')), '&')
             ) AS surt_key
      FROM caps)
    SELECT surt_key,
           CAST(count(*) AS BIGINT) AS n_captures,
           CAST(count(DISTINCT digest) AS BIGINT) AS n_unique_digests,
           min(ts) AS first_ts,
           max(ts) AS last_ts
    FROM canon GROUP BY surt_key
    """,
    tags=("text", "corpus", "crawl", "sql"),
    doc="CDX-style crawl-index canonicalization and dedup — the index "
    "layer of every web archive (Common-Crawl's cdx files, Heritrix/"
    "OpenWayback SURT keys): each document becomes a capture with a raw "
    "URL (rotating subdomain, 5 domains, 40 paths, tracking-polluted "
    "query) and the entry computes the SURT key RELATIONALLY — host "
    "labels reversed comma-joined (sort-friendly: one domain's captures "
    "become one contiguous key range, THE property that lets a 100 TB "
    "index binary-search by prefix), a leading 'www' label dropped, "
    "utm_* tracking params stripped, remaining query params sorted — "
    "then groups captures by key: capture count, distinct content "
    "digests (unchanged-page detection), first/last timestamp. Engine-"
    "shared logic in two dialects (split/reverse/array_join + lambda "
    "filter on Spark; string_split/list_reverse/list_sort/list_filter "
    "on DuckDB); all intermediate arrays collapse to strings before "
    "output. Scale: pure-JVM string/array functions, one hash "
    "aggregation on the canonical key with map-side partials — the "
    "same plan family as every keyed rollup; no UDF, no explode.",
)
def text_cdx_surt_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_SURT_SPARK_SQL)


# ---------------------------------------------------------------------------
# Unigram min-cost subword segmentation (SentencePiece's Viterbi shape)
# ---------------------------------------------------------------------------

# Integer piece costs: 3-char units are cheapest, single chars (always
# in-vocab: byte fallback) most expensive. Greedy longest-match is NOT
# optimal under these costs ('xated': greedy x|ate|d = 15, optimal
# x|at|ed = 14), which is exactly what separates this entry from
# tokenizer_wordpiece_greedy.
UNIGRAM_COSTS = {3: 3, 2: 4, 1: 6}
UNIGRAM_TOP_WORDS = 200


def _unigram_viterbi(word: str) -> tuple[int, int, str]:
    """Min-total-cost segmentation over the shared subword vocab by
    right-to-left DP; ties resolve to the LARGEST step at the earliest
    position (the lexicographically-largest step-digit string among
    min-cost segmentations — the rule the oracle replays). Returns
    (min_cost, n_pieces, pieces)."""
    n = len(word)
    best = [0] * (n + 1)
    choice = [0] * n
    for i in range(n - 1, -1, -1):
        cands = [(UNIGRAM_COSTS[1] + best[i + 1], 1)]
        if word[i : i + 2] in WP_VOCAB_2 and i + 2 <= n:
            cands.append((UNIGRAM_COSTS[2] + best[i + 2], 2))
        if word[i : i + 3] in WP_VOCAB_3 and i + 3 <= n:
            cands.append((UNIGRAM_COSTS[3] + best[i + 3], 3))
        c = min(c for c, _ in cands)
        best[i] = c
        choice[i] = max(s for cc, s in cands if cc == c)
    pieces: list[str] = []
    pos = 0
    while pos < n:
        pieces.append(word[pos : pos + choice[pos]])
        pos += choice[pos]
    return best[0], len(pieces), "|".join(pieces)


@register(
    "tokenizer_unigram_viterbi",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT word, cnt FROM (
        SELECT lower(w) AS word, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(string_split(trim(text), ' ')) AS w
              FROM documents) t
        WHERE regexp_full_match(lower(w), '{WP_WORD_RE}')
        GROUP BY lower(w)
        ORDER BY cnt DESC, word
        LIMIT {UNIGRAM_TOP_WORDS}) s
    ),
    seg AS (
      -- enumerate EVERY legal segmentation (branch on 1/2/3-char pieces)
      SELECT word, cnt, CAST(1 AS BIGINT) AS pos,
             CAST('' AS VARCHAR) AS pieces, CAST('' AS VARCHAR) AS steps,
             CAST(0 AS BIGINT) AS cost, CAST(0 AS BIGINT) AS n_pieces
      FROM words
      UNION ALL
      SELECT word, cnt, pos + stp AS pos,
             pieces || '|' || substring(word, CAST(pos AS INT), CAST(stp AS INT)),
             steps || CAST(stp AS VARCHAR),
             cost + CASE stp WHEN 3 THEN {UNIGRAM_COSTS[3]}
                             WHEN 2 THEN {UNIGRAM_COSTS[2]}
                             ELSE {UNIGRAM_COSTS[1]} END,
             n_pieces + 1
      FROM (
        SELECT word, cnt, pos, pieces, steps, cost, n_pieces,
               unnest(list_filter([1, 2, 3], stp ->
                 pos + stp <= length(word) + 1 AND (
                   stp = 1
                   OR (stp = 2 AND substring(word, CAST(pos AS INT), 2)
                         IN ({_WP_V2_SQL}))
                   OR (stp = 3 AND substring(word, CAST(pos AS INT), 3)
                         IN ({_WP_V3_SQL}))))) AS stp
        FROM seg WHERE pos <= length(word)) b
    ),
    complete AS (
      SELECT word, cnt, cost, n_pieces, substring(pieces, 2) AS pieces, steps,
             row_number() OVER (PARTITION BY word
                                ORDER BY cost ASC, steps DESC) AS rk
      FROM seg WHERE pos = length(word) + 1
    )
    SELECT word, cnt, CAST(cost AS BIGINT) AS min_cost,
           CAST(n_pieces AS BIGINT) AS n_pieces, pieces
    FROM complete WHERE rk = 1
    """,
    tags=("text", "tokenizer", "pandas_udf"),
    doc="Unigram-LM subword segmentation (the SentencePiece inference "
    "shape): each frequent word is segmented by VITERBI dynamic "
    "programming to the GLOBAL minimum total piece cost over the shared "
    "vocab (3-char units cost 3, 2-char 4, single-char fallback 6), "
    "with ties resolving to the largest step at the earliest position. "
    "Greedy longest-match is provably suboptimal under these costs, so "
    "this certifies a genuinely different algorithm than "
    "tokenizer_wordpiece_greedy. The oracle is the strongest "
    "differential form in the repo: a recursive CTE ENUMERATES every "
    "legal segmentation of every word (branching on in-vocab 1/2/3-char "
    "pieces), then picks the optimum per word with the same tie-break — "
    "an O(len) imperative DP certified against an exhaustive-search "
    "respecification. At 100 TB inference distributes perfectly: vocab "
    "+ costs broadcast, the corpus streams once through a vectorized "
    "pandas batch, per-word cost O(len); the frequency LIMIT bounds the "
    "certified sample, not the plan shape.",
)
def tokenizer_unigram_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from collections.abc import Iterator

    import pandas as pd

    d = tbl(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.trim("text"), " ")).alias("w"))
        .select(F.lower("w").alias("word"))
        .filter(F.col("word").rlike(f"^{WP_WORD_RE}$"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "word")
        .limit(UNIGRAM_TOP_WORDS)
    )

    def tokenize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            segs = [_unigram_viterbi(w) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "cnt": pdf["cnt"],
                    "min_cost": pd.Series([s[0] for s in segs], dtype="int64"),
                    "n_pieces": pd.Series([s[1] for s in segs], dtype="int64"),
                    "pieces": [s[2] for s in segs],
                }
            )

    return words.mapInPandas(
        tokenize,
        schema="word string, cnt long, min_cost long, n_pieces long, "
        "pieces string",
    )


# ---------------------------------------------------------------------------
# Punycode (RFC 3492) — internationalized hostname labels, the encoding
# under every xn-- label SURT/robots/CDX keys meet on a real crawl.
# ---------------------------------------------------------------------------

_PUNY_BASE, _PUNY_TMIN, _PUNY_TMAX = 36, 1, 26
_PUNY_SKEW, _PUNY_DAMP = 38, 700
_PUNY_INITIAL_BIAS, _PUNY_INITIAL_N = 72, 128


def _puny_adapt(delta: int, numpoints: int, firsttime: bool) -> int:
    """RFC 3492 §6.1 bias adaptation."""
    delta = delta // _PUNY_DAMP if firsttime else delta // 2
    delta += delta // numpoints
    k = 0
    while delta > ((_PUNY_BASE - _PUNY_TMIN) * _PUNY_TMAX) // 2:
        delta //= _PUNY_BASE - _PUNY_TMIN
        k += _PUNY_BASE
    return k + (((_PUNY_BASE - _PUNY_TMIN + 1) * delta) // (delta + _PUNY_SKEW))


def _puny_digit_char(d: int) -> str:
    return chr(ord("a") + d) if d < 26 else chr(ord("0") + d - 26)


def _puny_char_digit(c: str) -> int:
    if "a" <= c <= "z":
        return ord(c) - ord("a")
    if "0" <= c <= "9":
        return ord(c) - ord("0") + 26
    if "A" <= c <= "Z":
        return ord(c) - ord("A")
    raise ValueError(f"invalid punycode digit {c!r}")


def punycode_encode(s: str) -> str:
    """RFC 3492 §6.3 encoding: basic code points copied (plus the '-'
    delimiter when any exist), non-basic code points inserted in
    (codepoint, position) order as generalized-variable-length integers
    with adaptive bias."""
    basic = [c for c in s if ord(c) < 0x80]
    out = basic[:]
    h = b = len(basic)
    if basic:
        out.append("-")
    n, delta, bias = _PUNY_INITIAL_N, 0, _PUNY_INITIAL_BIAS
    while h < len(s):
        m = min(ord(c) for c in s if ord(c) >= n)
        delta += (m - n) * (h + 1)
        n = m
        for c in s:
            cp = ord(c)
            if cp < n:
                delta += 1
            elif cp == n:
                q = delta
                k = _PUNY_BASE
                while True:
                    t = (
                        _PUNY_TMIN if k <= bias
                        else (_PUNY_TMAX if k >= bias + _PUNY_TMAX
                              else k - bias)
                    )
                    if q < t:
                        break
                    out.append(_puny_digit_char(t + (q - t) % (_PUNY_BASE - t)))
                    q = (q - t) // (_PUNY_BASE - t)
                    k += _PUNY_BASE
                out.append(_puny_digit_char(q))
                bias = _puny_adapt(delta, h + 1, h == b)
                delta = 0
                h += 1
        delta += 1
        n += 1
    return "".join(out)


def punycode_decode(s: str) -> str:
    """RFC 3492 §6.2 decoding: the inverse insertion walk. ValueError on
    any malformed digit or overflow-shaped input."""
    pos = s.rfind("-")
    out = list(s[:pos]) if pos > 0 else []
    for c in out:
        if ord(c) >= 0x80:
            raise ValueError("non-basic code point in basic section")
    enc = s[pos + 1 :] if pos >= 0 else s
    i, n, bias = 0, _PUNY_INITIAL_N, _PUNY_INITIAL_BIAS
    p = 0
    while p < len(enc):
        oldi = i
        w = 1
        k = _PUNY_BASE
        while True:
            if p >= len(enc):
                raise ValueError("truncated punycode variable-length integer")
            d = _puny_char_digit(enc[p])
            p += 1
            i += d * w
            t = (
                _PUNY_TMIN if k <= bias
                else (_PUNY_TMAX if k >= bias + _PUNY_TMAX else k - bias)
            )
            if d < t:
                break
            w *= _PUNY_BASE - t
            k += _PUNY_BASE
        bias = _puny_adapt(i - oldi, len(out) + 1, oldi == 0)
        n += i // (len(out) + 1)
        i %= len(out) + 1
        out.insert(i, chr(n))
        i += 1
    return "".join(out)


PUNY_LABEL_LEN = 12

_PUNY_CP_EXPRS = [
    (
        f"(97 + (ascii(substring(text, {k + 1}, 1)) % 256) % 26)"
        if k % 2 == 0
        else f"(19968 + ascii(substring(text, {k + 1}, 1)) % 256)"
    )
    for k in range(PUNY_LABEL_LEN)
]
_PUNY_SUM_SQL = " + ".join(_PUNY_CP_EXPRS)
_PUNY_MD5_SQL = "md5(concat_ws(','," + ",".join(
    f" CAST({e} AS VARCHAR)" for e in _PUNY_CP_EXPRS
) + "))"


@register(
    "text_punycode_idna_roundtrip",
    oracle=f"""
    SELECT doc_id,
           CAST({PUNY_LABEL_LEN // 2} AS BIGINT) AS n_basic,
           CAST({PUNY_LABEL_LEN // 2} AS BIGINT) AS n_encoded,
           CAST({_PUNY_SUM_SQL} AS BIGINT) AS decoded_cp_sum,
           {_PUNY_MD5_SQL} AS decoded_cp_md5
    FROM documents
    WHERE length(text) >= {PUNY_LABEL_LEN}
    """,
    tags=("text", "corpus", "crawl", "codec", "pandas_udf"),
    doc="Punycode (RFC 3492) encode + decode from the spec — the bootstring "
    "transform under every internationalized 'xn--' hostname label a real "
    "crawl's SURT/robots/CDX layer must normalize: each document seeds a "
    f"{PUNY_LABEL_LEN}-char label alternating ASCII letters (basic code "
    "points, copied verbatim before the '-' delimiter) and CJK code "
    "points (inserted as generalized variable-length integers with "
    "adaptive bias — §6.1 adapt, §6.3 insertion order). Certified three "
    "ways in-UDF: our encoder's output equals the STDLIB punycode "
    "codec's byte-for-byte (independent RFC implementation), our decoder "
    "inverts both, and the oracle re-derives every decoded code point "
    "per char in SQL (sum + md5 of the comma-joined code point list). "
    "Scale: per-label string transform in a vectorized pandas batch — "
    "embarrassingly parallel, the hostname-normalization step of a "
    "100 TB URL pipeline.",
)
def text_punycode_idna_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.length("text") >= PUNY_LABEL_LEN)
    )

    def rows_of(doc_id: int, text: str) -> Iterator[tuple]:
        cs = [ord(c) % 256 for c in str(text)[:PUNY_LABEL_LEN]]
        label = "".join(
            chr(97 + c % 26) if k % 2 == 0 else chr(19968 + c)
            for k, c in enumerate(cs)
        )
        enc = punycode_encode(label)
        ref = label.encode("punycode").decode("ascii")
        if enc != ref:
            raise ValueError(
                f"encoder disagrees with stdlib for doc {doc_id}: "
                f"{enc!r} != {ref!r}"
            )
        dec = punycode_decode(enc)
        if dec != label:
            raise ValueError(f"roundtrip mismatch for doc {doc_id}")
        cps = [ord(c) for c in dec]
        yield (
            doc_id,
            sum(1 for c in dec if ord(c) < 128),
            sum(1 for c in dec if ord(c) >= 128),
            sum(cps),
            hashlib.md5(",".join(str(v) for v in cps).encode()).hexdigest(),
        )

    return map_rows(
        spread(d),
        "doc_id long, n_basic long, n_encoded long, "
        "decoded_cp_sum long, decoded_cp_md5 string",
        rows_of,
    )


# ---------------------------------------------------------------------------
# robots.txt FILE parsing (RFC 9309 §2.1-2.2): lines -> groups -> the group
# that governs a given crawler — the layer ABOVE the path matchers.
# ---------------------------------------------------------------------------

ROBOTS_CRAWLER = "flockbot"

# Line-level fixture: 50 synthetic hosts; even hosts carry a specific
# flockbot group (consecutive UA lines sharing it), odd hosts only the '*'
# group — so agent selection (exact beats wildcard) decides differently per
# host. Comments, blank lines, mixed-case directives and unknown directives
# all appear and must be handled by the PARSER, not the fixture.
_ROBOTS_FILE_EVEN = (
    "# robots.txt for host {h}\n"
    "User-Agent: FlockBot\n"
    "User-agent: crawler{h}\n"
    "Disallow: /private{h}  # secret\n"
    "Allow: /private{h}/pub\n"
    "\n"
    "User-agent: *\n"
    "Disallow: /tmp{h}\n"
    "Crawl-delay: 5\n"
    "Mystery: ignored\n"
    "\n"
    "User-agent: otherbot\n"
    "Disallow: /\n"
)
_ROBOTS_FILE_ODD = (
    "# robots.txt for host {h}\n"
    "User-agent: *\n"
    "Allow: /open{h}\n"
    "Disallow: /tmp{h}\n"
    "Unknown-directive: x\n"
    "\n"
    "User-agent: otherbot\n"
    "Disallow: /\n"
)


def _robots_parse_sql(
    unnest_lines: str, strpos: str, instr_ws: str, str_type: str
) -> str:
    """The engine-shared robots.txt parse, parameterized only by how each
    dialect explodes a string into (line_no, line) rows. Grouping: a
    user-agent line STARTS a new group unless the previous line was also a
    user-agent line (RFC 9309 §2.1: consecutive UA lines share the group);
    rules attach to the current group; the crawler's group is the exact
    agent match if any host group names it, else the '*' group."""
    return f"""
    WITH hosts AS (
      SELECT DISTINCT doc_id % 50 AS h FROM documents),
    files AS (
      SELECT h,
             CASE WHEN h % 2 = 0
               THEN {_robots_tpl_sql("_ROBOTS_FILE_EVEN", str_type)}
               ELSE {_robots_tpl_sql("_ROBOTS_FILE_ODD", str_type)}
             END AS txt
      FROM hosts),
    lines AS ({unnest_lines}),
    cleaned AS (
      SELECT h, line_no,
             trim(regexp_replace(line, '#.*$', '')) AS clean
      FROM lines),
    classified AS (
      SELECT h, line_no, clean,
             CASE WHEN clean = '' THEN ''
                  ELSE lower(trim(substring(clean, 1, {strpos} - 1))) END
               AS directive,
             CASE WHEN clean = '' THEN ''
                  ELSE trim(substring(clean, {strpos} + 1)) END AS value
      FROM cleaned),
    flagged AS (
      SELECT h, line_no, directive, value,
             CASE WHEN directive = 'user-agent' THEN 1 ELSE 0 END AS is_ua
      FROM classified),
    lagged AS (
      SELECT h, line_no, directive, value, is_ua,
             CASE WHEN is_ua = 1 AND COALESCE(LAG(is_ua) OVER (
                    PARTITION BY h ORDER BY line_no), 0) = 0
                  THEN 1 ELSE 0 END AS starts_group
      FROM flagged),
    grouped AS (
      SELECT h, line_no, directive, value, is_ua,
             SUM(starts_group)
               OVER (PARTITION BY h ORDER BY line_no) AS grp
      FROM lagged),
    agents AS (
      SELECT h, grp, lower(value) AS agent
      FROM grouped WHERE is_ua = 1),
    chosen AS (
      SELECT h,
             COALESCE(MIN(CASE WHEN agent = '{ROBOTS_CRAWLER}' THEN grp END),
                      MIN(CASE WHEN agent = '*' THEN grp END)) AS grp,
             CASE WHEN MAX(CASE WHEN agent = '{ROBOTS_CRAWLER}' THEN 1
                           ELSE 0 END) = 1
                  THEN '{ROBOTS_CRAWLER}' ELSE '*' END AS matched_agent
      FROM agents GROUP BY h),
    rules AS (
      SELECT g.h, g.grp, g.line_no, g.directive, g.value
      FROM grouped g
      WHERE g.directive IN ('allow', 'disallow')),
    picked AS (
      SELECT c.h, c.matched_agent, r.line_no,
             r.directive || ' ' || r.value AS rule
      FROM chosen c JOIN rules r ON r.h = c.h AND r.grp = c.grp)
    SELECT h AS host,
           matched_agent,
           CAST(SUM(CASE WHEN rule LIKE 'allow %' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_allow,
           CAST(SUM(CASE WHEN rule LIKE 'disallow %' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_disallow,
           md5({instr_ws}) AS rules_md5
    FROM picked
    GROUP BY h, matched_agent
    """


def _robots_tpl_sql(which: str, str_type: str) -> str:
    """Lower one of the two file templates to a SQL concat over the host
    column (identical text on both engines)."""
    tpl = _ROBOTS_FILE_EVEN if which == "_ROBOTS_FILE_EVEN" else _ROBOTS_FILE_ODD
    parts: list[str] = []
    for seg in tpl.split("{h}"):
        if parts:
            parts.append(f"CAST(h AS {str_type})")
        if seg:
            parts.append("'" + seg.replace("\n", "' || chr(10) || '") + "'")
    # collapse '' || chains the split may have produced
    return "(" + " || ".join(p for p in parts if p != "''") + ")"


_ROBOTS_PARSE_SPARK = _robots_parse_sql(
    unnest_lines=(
        "SELECT h, pos + 1 AS line_no, line FROM files "
        "LATERAL VIEW posexplode(split(txt, '\\n')) t AS pos, line"
    ),
    strpos="instr(clean, ':')",
    str_type="STRING",
    instr_ws=(
        "concat_ws('|', sort_array(collect_list("
        "concat(lpad(CAST(line_no AS STRING), 4, '0'), ' ', rule))))"
    ),
)

_ROBOTS_PARSE_DUCK = _robots_parse_sql(
    unnest_lines=(
        "SELECT h, i AS line_no, string_split(txt, chr(10))[i] AS line "
        "FROM files, unnest(generate_series(1, "
        "len(string_split(txt, chr(10))))) AS s(i)"
    ),
    strpos="strpos(clean, ':')",
    str_type="VARCHAR",
    instr_ws=(
        "string_agg(lpad(CAST(line_no AS VARCHAR), 4, '0') || ' ' || rule, "
        "'|' ORDER BY line_no)"
    ),
)


@register(
    "text_robots_file_parse",
    oracle=_ROBOTS_PARSE_DUCK,
    tags=("text", "corpus", "crawl", "sql"),
    doc="robots.txt FILE parsing (RFC 9309 §2.1-2.2) — the layer above the "
    "path matchers (text_robots_longest_match / _wildcard_match): 50 "
    "synthetic per-host files carrying comments, blank lines, mixed-case "
    "directives, unknown directives (crawl-delay, mystery lines) and — "
    "on even hosts — a specific crawler group opened by CONSECUTIVE "
    "user-agent lines that share it (the §2.1 grouping rule naive "
    "line-parsers break). The parse is fully relational on both "
    "engines: comment stripping is a regexp_replace, directive/value "
    "split on the first colon, group assignment is a running SUM over a "
    "LAG flag (a UA line starts a group only when the previous line was "
    "not UA), agent selection picks the exact '" + ROBOTS_CRAWLER + "' "
    "group when one exists else the '*' group, and the governed rule "
    "list is md5'd in line order. Even hosts must resolve to the exact "
    "group, odd hosts to the wildcard group — both paths decided by "
    "data. Scale: per-host parsing is one window pass partitioned by "
    "host — a million robots.txt files parse as one shuffle on host, "
    "the same plan family as any keyed sessionization.",
)
def text_robots_file_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_ROBOTS_PARSE_SPARK)


# ---------------------------------------------------------------------------
# Crawl-frontier politeness scheduling: the step after robots + CDX dedup
# ---------------------------------------------------------------------------

FRONTIER_HOSTS = 16
FRONTIER_SLOT_MS = 250  # per-host politeness interval


@register(
    "crawl_frontier_politeness_schedule",
    oracle=f"""
    WITH frontier AS (
      SELECT doc_id,
             doc_id % {FRONTIER_HOSTS} AS host,
             concat('/doc_', CAST(doc_id AS VARCHAR)) AS path,
             -- priority: shorter docs first (cheap fetches), doc_id ties
             n_chars AS cost
      FROM documents),
    ranked AS (
      SELECT doc_id, host, path, cost,
             row_number() OVER (PARTITION BY host
                                ORDER BY cost, doc_id) AS wave
      FROM frontier),
    scheduled AS (
      SELECT doc_id, host, path, wave,
             CAST((wave - 1) * {FRONTIER_SLOT_MS} AS BIGINT) AS fetch_at_ms,
             row_number() OVER (ORDER BY wave, host, doc_id) AS global_seq
      FROM ranked)
    SELECT host,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(max(wave) AS BIGINT) AS n_waves,
           CAST(max(fetch_at_ms) AS BIGINT) AS makespan_ms,
           CAST(sum(global_seq) AS BIGINT) AS seq_sum,
           md5(string_agg(concat(lpad(CAST(wave AS VARCHAR), 8, '0'), ':',
                                 lpad(CAST(doc_id AS VARCHAR), 12, '0'), ':',
                                 path), '|'
               ORDER BY wave, doc_id)) AS order_md5
    FROM scheduled
    GROUP BY host
    """,
    tags=("text", "corpus", "crawl", "sql"),
    doc="Crawl-frontier politeness scheduling — the step downstream of "
    "text_robots_file_parse and text_cdx_surt_dedup in a real crawler: "
    "frontier URLs are ranked per host (cheapest fetch first, stable "
    "doc_id tie-break), each host's k-th URL is assigned to wave k with "
    f"a {FRONTIER_SLOT_MS} ms per-host politeness slot (host-parallel, "
    "host-serial — the invariant every polite crawler must hold), and a "
    "global round-robin sequence interleaves waves across hosts. Emits "
    "per-host queue depth, wave count, makespan, the global-sequence "
    "checksum and the md5 of the exact per-host fetch order. Fully "
    "declarative: two window passes (one keyed, one global) and a keyed "
    "rollup. Scale: the per-host ranking is the classic "
    "shuffle-on-host + in-partition sort; the single global sequence "
    "window is the only global order — at 100 TB you'd range-partition "
    "it by wave, which is exactly how the plan already orders (wave "
    "first), so the scale path is a config swap, not a rewrite.",
)
def crawl_frontier_politeness_schedule(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    frontier = d.select(
        "doc_id",
        (F.col("doc_id") % FRONTIER_HOSTS).alias("host"),
        F.concat(F.lit("/doc_"), F.col("doc_id").cast("string")).alias("path"),
        F.col("n_chars").alias("cost"),
    )
    ranked = frontier.withColumn(
        "wave",
        F.row_number().over(
            W.partitionBy("host").orderBy("cost", "doc_id")
        ),
    )
    scheduled = ranked.withColumn(
        "fetch_at_ms",
        ((F.col("wave") - 1) * FRONTIER_SLOT_MS).cast("long"),
    ).withColumn(
        "global_seq",
        F.row_number().over(W.orderBy("wave", "host", "doc_id")),
    )
    return scheduled.groupBy("host").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.max("wave").cast("long").alias("n_waves"),
        F.max("fetch_at_ms").cast("long").alias("makespan_ms"),
        F.sum("global_seq").cast("long").alias("seq_sum"),
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.lpad(F.col("wave").cast("string"), 8, "0"),
                            F.lit(":"),
                            F.lpad(F.col("doc_id").cast("string"), 12, "0"),
                            F.lit(":"),
                            F.col("path"),
                        )
                    )
                ),
            ).cast("binary")
        ).alias("order_md5"),
    )


# ---------------------------------------------------------------------------
# Sitemap XML walk (sitemaps.org protocol): crawl discovery's other half
# ---------------------------------------------------------------------------

SITEMAP_HOSTS = 25

_SITEMAP_SPARK = f"""
    WITH entries AS (
      SELECT doc_id % {SITEMAP_HOSTS} AS host,
             concat('<url><loc>http://h', CAST(doc_id % {SITEMAP_HOSTS} AS STRING),
                    '.example.com/doc_', CAST(doc_id AS STRING),
                    '</loc><lastmod>2025-06-',
                    lpad(CAST(doc_id % 28 + 1 AS STRING), 2, '0'),
                    '</lastmod><priority>0.', CAST(doc_id % 10 AS STRING),
                    '</priority></url>') AS url_xml
      FROM documents),
    sitemaps AS (
      SELECT host,
             concat('<urlset>',
                    concat_ws('', sort_array(collect_list(url_xml))),
                    '</urlset>') AS xml
      FROM entries GROUP BY host),
    parsed AS (
      SELECT host,
             xpath(xml, '/urlset/url/loc/text()') AS locs,
             xpath(xml, '/urlset/url/priority/text()') AS prs,
             xpath(xml, '/urlset/url/lastmod/text()') AS mods
      FROM sitemaps)
    SELECT host,
           CAST(size(locs) AS BIGINT) AS n_urls,
           md5(array_join(sort_array(locs), '|')) AS loc_md5,
           CAST(aggregate(prs, 0L,
                (acc, x) -> acc + CAST(substring(x, 3, 1) AS BIGINT))
                AS BIGINT) AS pr_decisum,
           array_max(mods) AS lastmod_max
    FROM parsed
"""

@register(
    "crawl_sitemap_xml_walk",
    oracle=f"""
    WITH entries AS (
      SELECT doc_id % {SITEMAP_HOSTS} AS host,
             concat('<url><loc>http://h', CAST(doc_id % {SITEMAP_HOSTS} AS VARCHAR),
                    '.example.com/doc_', CAST(doc_id AS VARCHAR),
                    '</loc><lastmod>2025-06-',
                    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0'),
                    '</lastmod><priority>0.', CAST(doc_id % 10 AS VARCHAR),
                    '</priority></url>') AS url_xml
      FROM documents),
    sitemaps AS (
      SELECT host,
             '<urlset>' || string_agg(url_xml, '' ORDER BY url_xml)
               || '</urlset>' AS xml
      FROM entries GROUP BY host),
    parsed AS (
      SELECT host,
             regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1) AS locs,
             regexp_extract_all(xml, '<priority>0\\.([0-9])</priority>', 1)
               AS prs,
             regexp_extract_all(xml, '<lastmod>([^<]*)</lastmod>', 1) AS mods
      FROM sitemaps)
    SELECT host,
           CAST(len(locs) AS BIGINT) AS n_urls,
           md5(array_to_string(list_sort(locs), '|')) AS loc_md5,
           CAST(list_sum(list_transform(prs, x -> CAST(x AS BIGINT)))
                AS BIGINT) AS pr_decisum,
           list_aggregate(mods, 'max') AS lastmod_max
    FROM parsed
    """,
    tags=("text", "corpus", "crawl", "sql", "xml"),
    doc="Sitemap XML walk (the sitemaps.org protocol) — crawl discovery's "
    "other half next to robots.txt: each host's documents aggregate "
    "into a real <urlset> sitemap (loc, lastmod, priority per url), "
    "and the entry PARSES the XML back — Spark through its native "
    "xpath() functions (real XML path evaluation over the document "
    "tree), the oracle through anchored regexp extraction — then "
    "certifies per host the url count, the md5 of the sorted loc list, "
    "the integer deci-priority mass and the latest lastmod. Two "
    "genuinely different XML readers (a path evaluator vs a pattern "
    "extractor) agreeing on every host is the cross-form check; the "
    "fixture exercises multi-element urls, zero-padded dates and "
    "single-digit priorities. Scale: per-host XML assembly and parse "
    "is one shuffle on host + per-row string functions — sitemap files "
    "cap at 50k urls by spec, so per-host XML stays MB-sized at any "
    "corpus scale; a 100 TB crawl parses millions of sitemaps "
    "embarrassingly parallel.",
)
def crawl_sitemap_xml_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_SITEMAP_SPARK)


# ---------------------------------------------------------------------------
# RFC 3986 reference resolution (§5.2): the URL algebra every crawler runs
# on every extracted link before it can join robots/CDX/frontier keys.
# ---------------------------------------------------------------------------


def rfc3986_remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4, the exact five-case buffer algorithm (not the
    segment-stack shortcut): './'/'../' prefixes dropped, '/./' collapsed,
    '/../' pops the output's last segment, lone '.'/'..' consumed."""
    inp = path
    out = ""
    while inp:
        if inp.startswith("../"):
            inp = inp[3:]
        elif inp.startswith("./"):
            inp = inp[2:]
        elif inp.startswith("/./"):
            inp = "/" + inp[3:]
        elif inp == "/.":
            inp = "/"
        elif inp.startswith("/../"):
            inp = "/" + inp[4:]
            out = out[: out.rfind("/")] if "/" in out else ""
        elif inp == "/..":
            inp = "/"
            out = out[: out.rfind("/")] if "/" in out else ""
        elif inp in (".", ".."):
            inp = ""
        else:
            i = inp.find("/", 1)
            seg, inp = (inp[:i], inp[i:]) if i >= 0 else (inp, "")
            out += seg
    return out


def rfc3986_resolve(base: str, ref: str) -> str:
    """RFC 3986 §5.2.2 transform for the http subset the fixtures use
    (absolute base with authority; ref may be network-path '//h/p',
    absolute-path '/p', or relative 'p' — with optional query)."""
    import re as _re

    m = _re.match(r"^(https?)://([^/?#]*)(/[^?#]*)?(?:\?([^#]*))?", base)
    if not m:
        raise ValueError(f"unsupported base: {base!r}")
    scheme, authority, bpath = m.group(1), m.group(2), m.group(3) or "/"
    rq = ""
    rpath = ref
    if "?" in ref:
        rpath, rq = ref.split("?", 1)
        rq = "?" + rq
    if rpath.startswith("//"):
        mm = _re.match(r"^//([^/?#]*)(/.*)?$", rpath)
        authority, tpath = mm.group(1), mm.group(2) or ""
    elif rpath.startswith("/"):
        tpath = rpath
    elif rpath == "":
        tpath = bpath
    else:
        tpath = bpath[: bpath.rfind("/") + 1] + rpath  # §5.2.3 merge
    out = rfc3986_remove_dot_segments(tpath)
    return f"{scheme}://{authority}{out or '/'}{rq}"


def _url_resolve_sql(
    strpos: str, str_type: str, elem: str, arrlen: str, last_elem: str
) -> str:
    """Engine-shared relational replay of §5.2: base/ref fixtures from
    doc_id, authority + merged-path derivation with regexes, then
    remove_dot_segments as a RECURSIVE segment walk — '..' pops the tail
    segment of the accumulated output, '.' is a no-op, anything else
    appends; per §5.2.4 a path ENDING in '.' or '..' keeps its trailing
    slash ('/a/b/..' resolves to '/a/', not '/a'), handled by a final
    last-segment check. Parameterized by dialect string-position/
    element-access."""
    return f"""
    WITH RECURSIVE refs AS (
      SELECT doc_id,
             concat('http://h', CAST(doc_id % 7 AS {str_type}),
                    '.example.com/a', CAST(doc_id % 3 AS {str_type}),
                    '/b', CAST(doc_id % 5 AS {str_type}),
                    '/c/page.html') AS base,
             CASE doc_id % 8
               WHEN 0 THEN concat('../up', CAST(doc_id % 9 AS {str_type}),
                                  '.html')
               WHEN 1 THEN './here.html'
               WHEN 2 THEN concat('rel/child.html?q=',
                                  CAST(doc_id % 4 AS {str_type}))
               WHEN 3 THEN concat('/abs/../root',
                                  CAST(doc_id % 9 AS {str_type}), '.html')
               WHEN 4 THEN concat('../../x/../y',
                                  CAST(doc_id % 9 AS {str_type}), '.html')
               WHEN 5 THEN concat('//other', CAST(doc_id % 4 AS {str_type}),
                           '.example.org/p/./q.html')
               WHEN 6 THEN '..'
               ELSE concat('d', CAST(doc_id % 9 AS {str_type}), '/.')
             END AS ref,
             CAST(doc_id % 8 AS BIGINT) AS kind
      FROM documents),
    pieces AS (
      SELECT doc_id, kind, ref,
             CASE WHEN kind = 5 THEN regexp_extract(ref, '^//([^/?#]*)', 1)
                  ELSE regexp_extract(base, '^http://([^/?#]*)', 1)
             END AS authority,
             CASE WHEN kind = 5
                    THEN regexp_replace(ref, '^//[^/?#]*', '')
                  WHEN kind = 3 THEN ref
                  ELSE concat(
                    regexp_replace(
                      regexp_extract(base, '^http://[^/]*(/.*)$', 1),
                      '/[^/]*$', '/'),
                    ref)
             END AS rawpath
      FROM refs),
    split_q AS (
      SELECT doc_id, kind, authority,
             CASE WHEN {strpos("rawpath", "'?'")} > 0
                  THEN substring(rawpath, 1, {strpos("rawpath", "'?'")} - 1)
                  ELSE rawpath END AS path_nq,
             CASE WHEN {strpos("rawpath", "'?'")} > 0
                  THEN substring(rawpath, {strpos("rawpath", "'?'")})
                  ELSE '' END AS query
      FROM pieces),
    segged AS (
      SELECT doc_id, kind, authority, query,
             split(path_nq, '/') AS parts,
             {arrlen} AS n
      FROM split_q),
    walk AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS i, CAST('' AS {str_type}) AS acc
      FROM segged
      UNION ALL
      SELECT w.doc_id, w.i + 1,
             CASE WHEN {elem} = '..' THEN
                    CASE WHEN w.acc = '' THEN ''
                         ELSE regexp_replace(w.acc, '/[^/]*$', '') END
                  WHEN {elem} = '.' THEN w.acc
                  ELSE concat(w.acc, '/', {elem}) END
      FROM walk w JOIN segged s ON s.doc_id = w.doc_id
      WHERE w.i < s.n),
    fixedw AS (
      SELECT s.doc_id, s.kind, s.authority, s.query,
             CASE WHEN {last_elem} IN ('.', '..')
                  THEN concat(w.acc, '/') ELSE w.acc END AS acc
      FROM walk w JOIN segged s ON s.doc_id = w.doc_id AND w.i = s.n),
    resolved AS (
      SELECT doc_id, kind,
             concat('http://', authority,
                    CASE WHEN acc = '' THEN '/' ELSE acc END,
                    query) AS resolved
      FROM fixedw)
    SELECT doc_id, kind, resolved FROM resolved
    """


def _url_resolve_spark_sql() -> str:
    """Spark lowering: the same refs/merge CTEs, but remove_dot_segments
    runs as ONE higher-order aggregate() fold over the segment array —
    a single whole-stage-codegen expression per row, no recursion, no
    join-per-step (the recursive form costs one join per segment depth;
    at 50k rows it measured 19 s vs ~2 s for the fold)."""
    base = _url_resolve_sql(
        strpos=lambda col, ch: f"instr({col}, {ch})",
        str_type="STRING",
        elem="element_at(s.parts, CAST(w.i + 1 AS INT))",
        arrlen="CAST(size(split(path_nq, '/')) AS BIGINT)",
        last_elem="element_at(s.parts, CAST(s.n AS INT))",
    )
    prefix = base[: base.index("    segged AS (")]
    prefix = prefix.replace("WITH RECURSIVE refs AS (", "WITH refs AS (")
    return prefix + """    resolved AS (
      SELECT doc_id, kind,
             concat('http://', authority,
                    CASE WHEN acc = '' THEN '/' ELSE acc END,
                    query) AS resolved
      FROM (
        SELECT doc_id, kind, authority, query,
               aggregate(
                 slice(split(path_nq, '/'), 2,
                       size(split(path_nq, '/')) - 1),
                 '',
                 (acc, seg) -> CASE
                   WHEN seg = '..' THEN
                     CASE WHEN acc = '' THEN ''
                          ELSE regexp_replace(acc, '/[^/]*$', '') END
                   WHEN seg = '.' THEN acc
                   ELSE concat(acc, '/', seg) END,
                 acc -> CASE
                   WHEN element_at(split(path_nq, '/'), -1) IN ('.', '..')
                   THEN concat(acc, '/') ELSE acc END) AS acc
        FROM split_q) t)
    SELECT doc_id, kind, resolved FROM resolved
    """


_URL_RESOLVE_SPARK = _url_resolve_spark_sql()

_URL_RESOLVE_DUCK = _url_resolve_sql(
    strpos=lambda col, ch: f"strpos({col}, {ch})",
    str_type="VARCHAR",
    elem="s.parts[CAST(w.i + 1 AS INT)]",
    arrlen="CAST(len(split(path_nq, '/')) AS BIGINT)",
    last_elem="s.parts[CAST(s.n AS INT)]",
)


@register(
    "crawl_url_resolve_rfc3986",
    oracle=_URL_RESOLVE_DUCK,
    tags=("text", "corpus", "crawl", "sql", "pandas_udf"),
    doc="RFC 3986 reference resolution (§5.2) — the URL algebra a crawler "
    "runs on every extracted link before robots/CDX/frontier keys can "
    "join: eight reference shapes per document (dot-dot climbs, same-dir, "
    "relative child with query, absolute path with an embedded '..', a "
    "double climb with an interior pop, a network-path '//host' "
    "reference that swaps the authority, and two TRAILING dot-segment "
    "shapes — a bare '..' and a 'dir/.' — that must keep the §5.2.4 "
    "trailing slash) resolve against a derived base URL. BOTH engines run the same declarative replay — §5.2.3 path "
    "merge by regex, then §5.2.4 remove_dot_segments as a RECURSIVE "
    "segment walk where '..' pops the accumulated tail and '.' is a "
    "no-op — while the test suite replays every resolved URL against "
    "the from-spec Python implementation (the exact five-case buffer "
    "algorithm) AND stdlib urljoin, a three-way agreement. Scale: "
    "per-URL string recursion bounded by segment count (<10); at "
    "100 TB this is one generate-and-join pass, embarrassingly "
    "parallel per link.",
)
def crawl_url_resolve_rfc3986(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_URL_RESOLVE_SPARK)


# ---------------------------------------------------------------------------
# HTML link extraction + resolution: the step between fetch and frontier
# ---------------------------------------------------------------------------


def _link_extract_sql(
    str_type: str, extract_all: str, explode_hrefs: str, agg_md5: str
) -> str:
    """Engine-shared link pipeline: per-document HTML with four href
    shapes (absolute, root-relative, dot-free relative, protocol-relative)
    plus a deliberate duplicate; regex extraction; resolution by reference
    class; internal/external split against the page host; dedup +
    order-insensitive digest."""
    return f"""
    WITH pages AS (
      SELECT doc_id,
             concat('http://h', CAST(doc_id % 7 AS {str_type}),
                    '.example.com') AS origin,
             concat('/a', CAST(doc_id % 3 AS {str_type}),
                    '/b', CAST(doc_id % 5 AS {str_type}), '/c/') AS basedir,
             concat(
               '<html><body><nav>',
               '<a href="http://ext', CAST(doc_id % 4 AS {str_type}),
               '.example.net/x', CAST(doc_id % 9 AS {str_type}), '">e</a>',
               '<a href="/r/doc_', CAST(doc_id AS {str_type}), '.html">r</a>',
               '</nav><p>body text</p>',
               '<a href="sub/child_', CAST(doc_id % 9 AS {str_type}),
               '.html">c</a>',
               '<a href="//cdn', CAST(doc_id % 4 AS {str_type}),
               '.example.org/lib_', CAST(doc_id % 9 AS {str_type}),
               '.js">l</a>',
               '<a href="/r/doc_', CAST(doc_id AS {str_type}),
               '.html">dup</a>',
               '</body></html>') AS html
      FROM documents),
    hrefs AS (
      SELECT doc_id, origin, basedir,
             {extract_all} AS href_list
      FROM pages),
    links AS (
      SELECT doc_id, origin, basedir, href
      FROM ({explode_hrefs}) x),
    resolved AS (
      SELECT doc_id, origin,
             CASE WHEN href LIKE 'http://%' THEN href
                  WHEN href LIKE '//%' THEN concat('http:', href)
                  WHEN href LIKE '/%' THEN concat(origin, href)
                  ELSE concat(origin, basedir, href) END AS url
      FROM links),
    classified AS (
      SELECT DISTINCT doc_id, url,
             CASE WHEN url LIKE concat(origin, '/%') THEN 1 ELSE 0 END
               AS internal
      FROM resolved),
    raw_counts AS (
      SELECT doc_id, count(*) AS n_raw FROM resolved GROUP BY doc_id)
    SELECT c.doc_id,
           CAST(max(r.n_raw) AS BIGINT) AS n_raw,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c.internal) AS BIGINT) AS n_internal,
           CAST(sum(1 - c.internal) AS BIGINT) AS n_external,
           md5({agg_md5}) AS links_md5
    FROM classified c JOIN raw_counts r ON r.doc_id = c.doc_id
    GROUP BY c.doc_id
    """


_LINKS_SPARK = _link_extract_sql(
    str_type="STRING",
    extract_all="regexp_extract_all(html, 'href=\"([^\"]*)\"', 1)",
    explode_hrefs=(
        "SELECT doc_id, origin, basedir, explode(href_list) AS href "
        "FROM hrefs"
    ),
    agg_md5="concat_ws('|', array_sort(collect_list(c.url)))",
)

_LINKS_DUCK = _link_extract_sql(
    str_type="VARCHAR",
    extract_all="regexp_extract_all(html, 'href=\"([^\"]*)\"', 1)",
    explode_hrefs=(
        "SELECT doc_id, origin, basedir, unnest(href_list) AS href "
        "FROM hrefs"
    ),
    agg_md5="string_agg(c.url, '|' ORDER BY c.url)",
)


@register(
    "crawl_link_extract_resolve",
    oracle=_LINKS_DUCK,
    tags=("text", "corpus", "crawl", "sql"),
    doc="HTML link extraction + resolution — the step between fetch and "
    "frontier in every crawler: per-document HTML carrying all four "
    "href reference classes (absolute, root-relative, dot-free "
    "relative, protocol-relative) plus a deliberate duplicate; hrefs "
    "come out with one anchored regexp extraction, each resolves by "
    "its class against the page origin/base directory (dot-segment "
    "references are certified separately by crawl_url_resolve_rfc3986 "
    "— composition, not duplication), duplicates collapse, and each "
    "document reports raw/distinct/internal/external link counts plus "
    "the md5 of its sorted resolved outlink set — the exact input the "
    "frontier scheduler and the host graph consume. Fully declarative "
    "in both dialects. Scale: per-document regex + string functions, "
    "one explode bounded by links-per-page, one keyed aggregation — "
    "linear in corpus bytes, the same plan family as tokenization.",
)
def crawl_link_extract_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_LINKS_SPARK)


# ---------------------------------------------------------------------------
# End-to-end crawl-discovery chain: WARC ingest -> link extract -> URL
# resolve -> robots verdict -> dedup -> frontier schedule, as ONE plan
# ---------------------------------------------------------------------------


def _crawl_chain_prefix(source: str, st: str, explode: str, path_of: str) -> str:
    """The shared CTE prefix of the crawl chain (ingest through the robots
    rule relation), engine-parameterized. Kept separate so the Spark side
    can ALSO phrase the verdicts stage as a standalone query over the same
    prefix and pin its (distinct-URL-sized) result per invocation."""
    return f"""ingested AS ({source}),
    pages AS (
      SELECT doc_id, body_len, body_md5,
             concat('http://h', CAST(doc_id % 7 AS {st}),
                    '.example.com') AS origin,
             concat('/a', CAST(doc_id % 3 AS {st}),
                    '/b', CAST(doc_id % 5 AS {st}), '/c/') AS basedir,
             concat(
               '<html><body>',
               '<a href="/doc_', CAST(doc_id % 50 AS {st}), '">d</a>',
               '<a href="/r/doc_', CAST(doc_id AS {st}), '.html">r</a>',
               '<a href="sub/child_', CAST(doc_id % 9 AS {st}),
               '.html">c</a>',
               '<a href="http://ext', CAST(doc_id % 4 AS {st}),
               '.example.net/x', CAST(doc_id % 9 AS {st}), '">e</a>',
               '<a href="/doc_', CAST(doc_id % 50 AS {st}), '">dup</a>',
               '</body></html>') AS html
      FROM ingested),
    hrefs AS (
      SELECT doc_id, origin, basedir,
             regexp_extract_all(html, 'href="([^"]*)"', 1) AS href_list
      FROM pages),
    links AS (
      SELECT doc_id, origin, basedir, href FROM ({explode}) x),
    resolved AS (
      SELECT doc_id, origin,
             CASE WHEN href LIKE 'http://%' THEN href
                  WHEN href LIKE '/%' THEN concat(origin, href)
                  ELSE concat(origin, basedir, href) END AS url
      FROM links),
    internal AS (
      SELECT DISTINCT origin, {path_of} AS path
      FROM resolved WHERE url LIKE concat(origin, '/%')),
    rules AS (
      {_ROBOTS_WILD_RULES_SQL})"""


def _crawl_chain_sql(
    source: str, st: str, explode: str, path_of: str,
    agg_sorted: str, agg_sorted2: str, verdicts_src: str | None = None,
) -> str:
    """Engine-shared relational tail of the crawl-discovery loop. ``source``
    is the ingested page set (doc_id, body_len, body_md5): the staged WARC
    walk on the Spark side, the equivalent documents derivation in the
    oracle. Every stage downstream of ingest is pure SQL — link extraction
    (regex over per-page HTML carrying root-doc, root-relative, relative
    and external href classes plus a duplicate), resolution by reference
    class, internal/external split, the RFC 9309 wildcard-rule tournament
    (broadcast rule relation, LIKE lowering, longest-rule + allow-on-tie
    via one max()), dedup, and per-host politeness waves."""
    return f"""
    WITH {_crawl_chain_prefix(source, st, explode, path_of)},
    verdicts AS (
      {verdicts_src or f'''SELECT i.origin, i.path,
             CAST(max(r.k) % 2 AS BIGINT) AS allowed
      FROM internal i JOIN rules r
        ON i.path LIKE r.like_pat ESCAPE '{_REP_LIKE_ESC}'
      GROUP BY i.origin, i.path'''}),
    frontier AS (
      SELECT origin, path,
             row_number() OVER (PARTITION BY origin ORDER BY path) AS wave
      FROM verdicts WHERE allowed = 1),
    page_stats AS (
      SELECT origin,
             CAST(count(*) AS BIGINT) AS n_pages,
             CAST(sum(body_len) AS BIGINT) AS sum_body_len,
             md5({agg_sorted}) AS pages_md5
      FROM pages GROUP BY origin),
    link_stats AS (
      SELECT origin,
             CAST(count(*) AS BIGINT) AS n_links_raw,
             CAST(sum(CASE WHEN url LIKE concat(origin, '/%')
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_internal_raw
      FROM resolved GROUP BY origin),
    robot_stats AS (
      SELECT origin,
             CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(allowed) AS BIGINT) AS n_allowed,
             CAST(sum(1 - allowed) AS BIGINT) AS n_denied
      FROM verdicts GROUP BY origin),
    sched AS (
      SELECT origin,
             CAST(max(wave) AS BIGINT) AS n_waves,
             CAST((max(wave) - 1) * 250 AS BIGINT) AS makespan_ms,
             md5({agg_sorted2}) AS order_md5
      FROM frontier GROUP BY origin)
    SELECT p.origin AS host, p.n_pages, p.sum_body_len, p.pages_md5,
           l.n_links_raw, l.n_internal_raw,
           r.n_candidates, r.n_allowed, r.n_denied,
           s.n_waves, s.makespan_ms, s.order_md5
    FROM page_stats p
    JOIN link_stats l ON l.origin = p.origin
    JOIN robot_stats r ON r.origin = p.origin
    JOIN sched s ON s.origin = p.origin
    """


# Spark phrases the chain as TWO statements over the pinned ingest view:
# the verdicts stage runs standalone and pins its distinct-URL-sized result
# (it feeds BOTH the frontier/scheduler and the robots stats, and Spark
# inlines CTEs per consumer — unsplit, the resolve + rule-tournament
# subtree planned and ran twice). The oracle keeps the single-statement
# form with the inline verdicts body.
_CHAIN_SPARK_ARGS = dict(
    source="SELECT doc_id, body_len, body_md5 FROM warc_chain_ingested",
    st="STRING",
    explode="SELECT doc_id, origin, basedir, explode(href_list) AS href "
            "FROM hrefs",
    path_of="substring(url, CAST(length(origin) + 1 AS INT))",
)

_CHAIN_SPARK_VERDICTS = f"""
    WITH {_crawl_chain_prefix(**_CHAIN_SPARK_ARGS)}
    SELECT i.origin, i.path,
           CAST(max(r.k) % 2 AS BIGINT) AS allowed
    FROM internal i JOIN rules r
      ON i.path LIKE r.like_pat ESCAPE '{_REP_LIKE_ESC}'
    GROUP BY i.origin, i.path
    """

_CHAIN_SPARK = _crawl_chain_sql(
    **_CHAIN_SPARK_ARGS,
    agg_sorted="concat_ws(',', array_sort(collect_list(body_md5)))",
    agg_sorted2="concat_ws('|', array_sort(collect_list(concat("
                "lpad(CAST(wave AS STRING), 8, '0'), ':', path))))",
    verdicts_src="SELECT origin, path, allowed FROM warc_chain_verdicts",
)

_CHAIN_DUCK = _crawl_chain_sql(
    source="SELECT doc_id, octet_length(encode(text)) AS body_len, "
           "md5(hex(encode(text))) AS body_md5 FROM documents "
           "WHERE octet_length(encode(text)) > 0",
    st="VARCHAR",
    explode="SELECT doc_id, origin, basedir, unnest(href_list) AS href "
            "FROM hrefs",
    path_of="substring(url, length(origin) + 1)",
    agg_sorted="string_agg(body_md5, ',' ORDER BY body_md5)",
    agg_sorted2="string_agg(concat(lpad(CAST(wave AS VARCHAR), 8, '0'), "
                "':', path), '|' ORDER BY concat(lpad(CAST(wave AS "
                "VARCHAR), 8, '0'), ':', path))",
)


@register(
    "crawl_chain_end_to_end",
    oracle=_CHAIN_DUCK,
    tags=("text", "corpus", "crawl", "sql", "pandas_udf", "staged"),
    doc="The FULL crawl-discovery loop as one certified plan, composing "
    "every round-10/11 crawl piece end to end: file-true WARC ingest "
    "(the staged on-disk .warc.gz shards of mm_warc_file_ingest, walked "
    "by the same gzip-multistream + ISO 28500 + HTTP/1.1 parse — the "
    "chain's ONLY Python stage) feeds one relational pipeline with no "
    "Python boundary between stages: per-page link extraction (four "
    "href classes + a duplicate), resolution by reference class, "
    "internal/external split, the RFC 9309 wildcard-rule tournament "
    "(broadcast rule relation, LIKE lowering, longest-match with "
    "allow-on-tie), URL dedup, and per-host politeness waves. Emits per "
    "host: ingested pages + body-byte sum + sorted page-digest md5 "
    "(proving the WARC bytes flowed through), raw/internal link counts, "
    "robots candidates/allowed/denied, wave count, makespan, and the "
    "exact fetch-order md5. The oracle replays the whole chain from the "
    "documents view. Scale: one task per shard file at ingest, then "
    "broadcast-join + keyed aggregations + one per-host window — no "
    "stage shuffles the corpus more than once, and the plan is the "
    "composition proof VERDICT r11 asked for (stretch item 7).",
)
def crawl_chain_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flock_spark.operators.multimodal import (
        WARC_N_SHARDS,
        _stage_warc_corpus,
        gzip_multistream_walk,
        http_response_parse,
        warc_record_parse,
    )

    path = _stage_warc_corpus(sf_dir)
    bf = (
        spark.read.format("binaryFile")
        .load(f"{path}/*.warc.gz")
        .select("path", "content")
    )

    def rows_of(fpath: str, content: bytes) -> Iterator[tuple]:
        m = re.search(r"shard-(\d+)\.warc\.gz$", str(fpath))
        if not m:
            raise ValueError(f"unexpected shard file name: {fpath}")
        shard = int(m.group(1))
        members = gzip_multistream_walk(bytes(content))
        parsed = [warc_record_parse(mm[2]) for mm in members]
        for i in range(0, len(parsed), 3):
            resp_fields, resp_block = parsed[i + 2]
            uri = resp_fields["warc-target-uri"]
            doc_id = int(re.search(r"/doc_(\d+)$", uri).group(1))
            if doc_id % WARC_N_SHARDS != shard:
                raise ValueError(f"doc {doc_id} in wrong shard")
            _status, _hh, body = http_response_parse(resp_block)
            yield doc_id, len(body), hashlib.md5(body.hex().upper().encode()).hexdigest()

    # the chain fans out over the ingest result (page stats, link stats,
    # robots verdicts, scheduler all consume it): pin it per invocation so
    # the WARC walk runs ONCE — a CTE would inline per consumer and re-run
    # the Python stage 4x. At 100 TB the same decision is
    # persist-to-storage-level (or a first-stage write), not a rewrite.
    # (NOT .cache(): a plan-matched InMemoryRelation would survive into
    # later runs — cross-run result caching.)
    ing = map_rows(
        bf, "doc_id long, body_len long, body_md5 string", rows_of
    ).localCheckpoint(eager=True)
    ing.createOrReplaceTempView("warc_chain_ingested")
    # verdicts feed two consumers (frontier/scheduler and robots stats) and
    # CTEs inline per consumer: pin the distinct-URL-sized verdict relation
    # so the link resolve + RFC 9309 rule tournament runs once per
    # invocation (per-invocation checkpoint — same discipline as the ingest
    # pin above; at 100 TB this is the frontier store a crawler persists).
    ver = spark.sql(_CHAIN_SPARK_VERDICTS).localCheckpoint(eager=True)
    ver.createOrReplaceTempView("warc_chain_verdicts")
    return spark.sql(_CHAIN_SPARK)
