"""Text-analysis operators over ``documents`` (north-star §2.2.i):
tokenization/word-count, per-language stats, quality scoring, heuristic
language ID, token-count estimation, and document fingerprinting.

Everything is built-in-function SQL (split / explode / higher-order array
fns / regexp) — zero Python in the row path, full codegen.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_batch_processor_spark.catalog import load_table
from go_batch_processor_spark.spread import _spread
from go_batch_processor_spark.registry import REGISTRY, register

TOP_WORDS = 20
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def _corpus_bigrams(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(bi, cb): the per-occurrence bigram stream and the
    localCheckpoint'd distinct-bigram count frame (w1, w2, c BIGINT).

    Shared code for text_bigram_kn_logprob, text_head_middle_tail_split
    and text_pmi_collocations, which score against the same count
    table; it builds both frames on each call. The count frame is
    Zipf-bounded (vocabulary-sized, never corpus-sized), so it is
    checkpointed inside the caller's plan; the corpus-sized stream
    ``bi`` is left lazy (the graph lesson: materializing the
    corpus-sized frame cost 37 s vs 9 s)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.lower("text"), " ")
    # r13 optimization: the fixture parquet is one row group, so without
    # the rebalance the ~200x bigram explode runs single-task no matter
    # the core count (the dedup._spread rationale; guide §2.5 input skew).
    bi = (
        _spread(d).filter(F.size(w) >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(w) - 1),
                    lambda i: F.struct(
                        F.element_at(w, i).alias("w1"),
                        F.element_at(w, i + 1).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
    )
    cb = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    return bi, cb


# Tiny per-language function-word profiles for the n-gram/heuristic lang-ID.
LANG_PROFILES = {
    "en": ("the", "of", "and", "a", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "es": ("el", "la", "de", "y", "es", "un"),
}
_sw_list = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "text_tokenize_wordcount",
    oracle=f"""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT {TOP_WORDS}
    """,
)
def text_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenize + global top-20 terms (explode -> hash agg -> top-k).

    At scale: partial aggregation collapses each map task to its local
    vocabulary before the shuffle, so the shuffle is O(|vocab|) not O(tokens).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(TOP_WORDS)
    )


@register(
    "text_lang_stats",
    oracle="""
    SELECT lang, source,
           count(*)                 AS n_docs,
           round(avg(n_chars), 4)   AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(language, source) corpus statistics."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w, length(text) AS tlen
      FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           round((tlen - (len(w) - 1)) * 1.0 / len(w), 4) AS avg_word_len,
           round(len(list_filter(w, x -> x IN ({_sw_list}))) * 1.0 / len(w), 4)
             AS stopword_ratio,
           round(0.5 * (len(list_filter(w, x -> x IN ({_sw_list}))) * 1.0 / len(w))
                 + 0.5 * (least(len(w), 50) * 1.0 / 50), 4) AS quality_score
    FROM t
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality heuristics: length, avg word length, stopword ratio,
    and a blended [0,1] quality score (longer + more function words = better,
    the standard cheap pre-filter for LLM training corpora)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    nw = F.size(w).cast("double")
    stop_ratio = (
        F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).cast("double") / nw
    )
    return d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_words"),
        F.round((F.length("text") - (F.size(w) - 1)) / nw, 4).alias("avg_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(0.5 * stop_ratio + 0.5 * (F.least(F.size(w), F.lit(50)) / 50.0), 4)
        .alias("quality_score"),
    )


def _profile_score_sql(words_expr: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
    return f"len(list_filter({words_expr}, x -> x IN ({lst})))"


@register(
    "text_langid",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    s AS (
      SELECT doc_id, lang,
             {_profile_score_sql('w', 'en')} AS s_en,
             {_profile_score_sql('w', 'de')} AS s_de,
             {_profile_score_sql('w', 'es')} AS s_es
      FROM t
    )
    SELECT doc_id, lang AS labeled_lang,
           CAST(s_en AS BIGINT) AS s_en,
           CAST(s_de AS BIGINT) AS s_de,
           CAST(s_es AS BIGINT) AS s_es,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
                WHEN s_de >= s_es AND s_de > 0 THEN 'de'
                WHEN s_es > 0 THEN 'es'
                ELSE 'unknown' END AS guessed_lang
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score against per-language function-word
    profiles, argmax with fixed precedence (en > de > es) for determinism."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    def profile_score(prof: tuple[str, ...]):
        return F.size(F.filter(w, lambda x: x.isin(*prof))).cast("long")

    scores = {lang: profile_score(prof) for lang, prof in LANG_PROFILES.items()}
    guess = (
        F.when(
            (scores["en"] >= scores["de"])
            & (scores["en"] >= scores["es"])
            & (scores["en"] > 0),
            "en",
        )
        .when((scores["de"] >= scores["es"]) & (scores["de"] > 0), "de")
        .when(scores["es"] > 0, "es")
        .otherwise("unknown")
    )
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        scores["en"].alias("s_en"),
        scores["de"].alias("s_de"),
        scores["es"].alias("s_es"),
        guess.alias("guessed_lang"),
    )


@register(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
             AS word_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS subword_est
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: regex word tokens + the chars/4 BPE-subword estimate
    (the standard cheap proxy when no tokenizer is in the cluster image)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("[A-Za-z0-9]+")).cast("long").alias("word_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("subword_est"),
    )


TFIDF_TOP_K = 3


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH tokens AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tokens GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.term = df.term, n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= {TFIDF_TOP_K}
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document — the classic keyword extractor.

    Two aggregations (term frequency per doc, document frequency per term)
    sharing one tokenization, and a per-doc top-k window. ln() is
    libm-dependent -> rounded on both sides.
    At 100 TB: the DF table is O(vocabulary), which at web scale is NOT
    reliably broadcast-sized (Heaps' law) — no hint; both tf and df are
    hash-partitioned on `term`, so the join co-locates, and AQE broadcasts
    when the vocabulary is actually small. The corpus count enters the plan
    as a 1-row aggregate cross-joined in (broadcast nested loop), not a
    driver-side ``count()`` action.
    """
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "term").crossJoin(F.broadcast(n)).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6
        ).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tfidf", "rn")
    )


@register(
    "sample_hash_deterministic",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2', '3')
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~25% corpus sample by content-stable hash (md5 of the
    key, first hex nibble < 4). THE production sampling pattern: the same
    row lands in the same split on any engine, any partitioning, any day —
    unlike rand()/sample(), which are partitioning-dependent."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
            "0", "1", "2", "3"
        )
    ).select("doc_id", "lang", "source")


@register("sample_stratified", tags={"rows_only"})
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling (sampleBy): different keep-rates per language —
    how corpus language balancing is done. Seeded, but partition-order
    dependent -> rows-only; tests bound the realized fractions."""
    d = load_table(spark, sf_dir, "documents")
    langs = [r.lang for r in d.select("lang").distinct().collect()]
    fractions = {lang: (0.8 if lang == "en" else 0.3) for lang in langs}
    return d.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")


@register("text_fingerprint", tags={"rows_only"})
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: min/max xxhash64 over word
    5-grams plus the full-text hash — a compact signature for shard-level
    dedup. Rows-only (hash function is engine-specific)."""
    from go_batch_processor_spark.operators.dedup import _word_ngrams

    d = load_table(spark, sf_dir, "documents")
    grams = _word_ngrams(F.split("text", " "), 5)
    gram_hashes = F.transform(grams, lambda g: F.xxhash64(g))
    return d.select(
        "doc_id",
        F.array_min(gram_hashes).alias("fp_min"),
        F.array_max(gram_hashes).alias("fp_max"),
        F.xxhash64("text").alias("fp_full"),
    )


TOP_TERMS_K = 20
MIN_TERM_LEN = 3


@register(
    "text_normalize_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT lower(unnest(string_split(text, ' '))) AS term FROM documents
    )
    SELECT term, count(*) AS n
    FROM toks
    WHERE length(term) >= {MIN_TERM_LEN}
      AND term NOT IN {STOPWORDS!r}
    GROUP BY term
    ORDER BY n DESC, term ASC
    LIMIT {TOP_TERMS_K}
    """,
)
def text_normalize_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level normalized vocabulary head: lowercase, drop short
    tokens and stopwords, count, top-20 — the first diagnostic run on any
    training corpus (boilerplate and contamination show up here first).
    Top-k over the aggregate is TakeOrderedAndProject, never a full sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
    return (
        toks.filter(
            (F.length("term") >= MIN_TERM_LEN) & (~F.col("term").isin(*STOPWORDS))
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(TOP_TERMS_K)
    )


CONTAM_N = 3  # n-gram size; real decontamination uses 13 — 3 fits the tiny-vocab fixture

# Broadcast the eval gram set only while it plausibly fits an executor heap;
# above this a giant eval suite falls back to a shuffled join instead of
# OOMing every executor. ~5M short gram strings ~ a few hundred MB hashed.
CONTAM_BROADCAST_MAX_GRAMS = 5_000_000


def contamination_hits(
    grams: DataFrame,
    eval_grams: DataFrame,
    broadcast_max: int = CONTAM_BROADCAST_MAX_GRAMS,
) -> DataFrame:
    """Distinct (doc_id, g) train-side hits against the eval gram set.

    Size-gated join strategy: count the eval gram set (one eval-side-only
    job — in production the eval suite is its own small table, so this is
    trivially cheap) and BROADCAST it only under ``broadcast_max``;
    otherwise fall back to a shuffled hash/merge join on ``g`` so an
    oversized eval suite degrades to a shuffle instead of executor OOM.
    Both paths produce identical results (tests/test_text.py pins it).
    """
    n_eval = eval_grams.count()
    right = F.broadcast(eval_grams) if n_eval <= broadcast_max else eval_grams
    return grams.join(right, "g").select("doc_id", "g").distinct()


@register(
    "text_contamination_ngram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(a[i:i+{CONTAM_N - 1}], ' ') AS g
      FROM toks
      CROSS JOIN UNNEST(range(1, greatest(len(a) - {CONTAM_N - 1}, 0) + 1)) AS t(i)
    ),
    eval_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    hits AS (
      SELECT DISTINCT tr.doc_id, tr.g
      FROM grams tr JOIN eval_g e USING (g)
      WHERE tr.doc_id % 50 <> 0
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM hits GROUP BY doc_id
    """,
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with the eval split (doc_id % 50 == 0 stands in for the
    benchmark set), reporting how many distinct eval n-grams each one
    shares — the GPT-3-style n-gram overlap check every training corpus
    runs before release.

    Scale shape: the eval side is a benchmark — thousands of docs,
    millions of rows smaller than the corpus — so its distinct gram set is
    BROADCAST (size-gated by `contamination_hits`: above
    CONTAM_BROADCAST_MAX_GRAMS it falls back to a shuffled join rather
    than OOM executors) and the 100 TB train side streams map-side through
    the hash join with zero shuffle of raw grams; the only shuffle is the
    per-doc distinct+count on the (tiny) hit set. Train grams are
    generated inline (transform over a sequence — no UDF, no shuffle).
    """
    d = load_table(spark, sf_dir, "documents")
    a = F.split("text", " ")
    # r13 optimization: rebalance ahead of the gram explode (the
    # single-row-group scan makes it single-task otherwise).
    grams = (
        _spread(d).filter(F.size(a) >= CONTAM_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(a) - (CONTAM_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice(a, i, CONTAM_N)),
                )
            ).alias("g"),
        )
    )
    eval_g = grams.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    hits = contamination_hits(grams.filter(F.col("doc_id") % 50 != 0), eval_g)
    return hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared"))


@register(
    "text_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT sum(c) AS t FROM vocab),
    scored AS (
      SELECT doc_id, ln(c / t) AS lp
      FROM toks JOIN vocab USING (tok) CROSS JOIN tot
    )
    SELECT doc_id, round(avg(lp), 6) AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality score (CCNet-style): train a unigram model on the
    corpus itself, score each doc by its mean token log-probability — the
    classic perplexity-based quality filter for training data (low scorers
    are gibberish/boilerplate; high scorers are repetitive).

    Scale shape: the vocabulary aggregate is Zipf-bounded (millions of
    rows, not corpus-sized), so token->prob is a BROADCAST-able dim; the
    corpus-sized token stream joins against it map-side and re-aggregates
    per doc — two hash aggregations and one broadcast join over one explode
    pass. avg(log p) is order-dependent double math: rounded to 6 on both
    engines per the parity rules.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    scored = toks.join(F.broadcast(vocab), "tok").crossJoin(F.broadcast(tot)).select(
        "doc_id", F.log(F.col("c") / F.col("t")).alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    )


@register(
    "text_repetition_gopher",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    tok AS (SELECT doc_id, unnest(w) AS word FROM t),
    tc AS (SELECT doc_id, word, count(*) AS c FROM tok GROUP BY doc_id, word),
    stats AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT)   AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct_tokens,
             CAST(max(c) AS BIGINT)   AS top_token_cnt
      FROM tc GROUP BY doc_id
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(1, len(w)), i -> w[CAST(i AS INTEGER)] || ' ' ||
                            w[CAST(i AS INTEGER) + 1]) AS grams
      FROM t
    ),
    gs AS (
      SELECT doc_id,
             CAST(len(grams) AS BIGINT)                AS n_grams,
             CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_grams
      FROM g
    )
    SELECT s.doc_id,
           s.n_tokens,
           round(s.n_distinct_tokens * 1.0 / s.n_tokens, 4)      AS distinct_token_ratio,
           round(s.top_token_cnt * 1.0 / s.n_tokens, 4)          AS top_token_frac,
           round(1.0 - gs.n_distinct_grams * 1.0 / gs.n_grams, 4) AS dup_2gram_frac,
           (s.top_token_cnt * 1.0 / s.n_tokens > 0.2
            OR 1.0 - gs.n_distinct_grams * 1.0 / gs.n_grams > 0.6) AS repetitive
    FROM stats s JOIN gs ON s.doc_id = gs.doc_id
    """,
)
def text_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021 §A1.1 shape):
    per-document distinct-token ratio, most-frequent-token fraction, and
    duplicate-2-gram character-free fraction; a doc is flagged ``repetitive``
    when the top token exceeds 20% of tokens or >60% of its 2-grams are
    duplicates — the standard cheap pre-filter before LLM training.

    Scale plan: the 2-gram duplicate fraction is computed ENTIRELY in-row
    (transform over sequence + array_distinct — whole-stage codegen, zero
    shuffle, no row amplification). Only the token-mode statistic needs an
    explode, and it aggregates in two partial-combinable levels:
    (doc_id, word) then doc_id, so the shuffle carries per-doc vocabularies,
    never raw token streams. The final join is agg-output × agg-output on
    doc_id. The ``size(w) >= 2`` guard also keeps Spark's sequence() from
    descending when size(w)-1 < 1 (HANDOFF.md fact 5)."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    t = d.select("doc_id", w.alias("w")).filter(F.size("w") >= 2)
    # token-mode stats: two-level partial-combinable aggregation
    tc = (
        t.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct_tokens"),
        F.max("c").alias("top_token_cnt"),
    )
    # 2-gram dup fraction: fully in-row, zero shuffle
    grams = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    gs = t.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct_grams"),
    )
    top_frac = F.col("top_token_cnt") / F.col("n_tokens")
    dup_frac = 1.0 - F.col("n_distinct_grams") / F.col("n_grams")
    return (
        stats.join(gs, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("n_distinct_tokens") / F.col("n_tokens"), 4).alias(
                "distinct_token_ratio"
            ),
            F.round(top_frac, 4).alias("top_token_frac"),
            F.round(dup_frac, 4).alias("dup_2gram_frac"),
            ((top_frac > 0.2) | (dup_frac > 0.6)).alias("repetitive"),
        )
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PHONE_RE = "555-[0-9]{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH p AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 7 = 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                     ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                     THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS pii_text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(pii_text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM p
    WHERE doc_id % 7 = 0 OR doc_id % 11 = 0
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents: email/phone patterns replaced with
    typed placeholder tokens, plus per-doc redaction counts. The fixture
    corpus carries no real PII, so both engines append IDENTICAL
    deterministic synthetic PII (keyed on doc_id) before scrubbing — the
    oracle then checks the scrubbed text bit-exactly via md5, without
    shipping long strings through the compare.

    Scale plan: pure regexp_replace/regexp_count row expressions —
    whole-stage codegen, no shuffle at all (narrow map over the corpus);
    this is exactly how a 100 TB scrub pass should look: one scan, one
    write, zero exchanges."""
    d = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(pii_text, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return (
        d.filter((F.col("doc_id") % 7 == 0) | (F.col("doc_id") % 11 == 0))
        .select(
            "doc_id",
            F.regexp_count(pii_text, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
            F.regexp_count(pii_text, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
            F.md5(scrubbed).alias("scrubbed_md5"),
        )
    )


# Uniform-in-[0,1) from the first 8 hex nibbles of md5(doc_id), written as
# an explicit dyadic sum so BOTH engines compute the bit-identical double:
# each term digit/16^i is exactly representable and the running sum stays
# exact (numerator < 2^32), so there is no cross-engine ulp risk.
_HEX = "0123456789abcdef"
# Divisors MUST be double-typed: a bare `/ 16.0` literal parses as DECIMAL
# in Spark SQL and each term would silently truncate to 6 decimal digits,
# capping u's precision at ~1e-6 (vs the promised exact 2^-32 dyadic sum).
_U_SPARK = " + ".join(
    f"(instr('{_HEX}', substring(md5(cast(doc_id as string)), {i}, 1)) - 1)"
    f" / cast({16 ** i} as double)"
    for i in range(1, 9)
)
_U_DUCK = " + ".join(
    f"(strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
    f" / {16.0 ** i:.1f}"
    for i in range(1, 9)
)


@register(
    "sample_temperature_mixing",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    s AS (SELECT sum(n) AS total, sum(n * sqrt(n)) AS denom FROM c),
    r AS (
      SELECT c.source,
             round(least(1.0, 0.5 * s.total / s.denom * sqrt(c.n)), 6) AS rate
      FROM c CROSS JOIN s
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN r ON d.source = r.source
    WHERE ({_U_DUCK}) < r.rate
    """,
)
def sample_temperature_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing (the multilingual-corpus reweighting
    trick from GPT-3 / XLM-R data pipelines, alpha = 0.5): per-source keep
    rates proportional to n_s^alpha so small sources are up-weighted
    relative to their natural frequency, materialized as a DETERMINISTIC
    content-hash sample (doc kept iff md5-uniform < rate), overall budget
    pinned at 50% of the corpus.

    Cross-engine determinism: sqrt is IEEE-correctly-rounded in both
    engines (unlike pow, which can differ in the last ulp — that is why
    alpha=0.5 uses sqrt explicitly), the md5-uniform is an exact dyadic
    sum, and rates are rounded to 6 dp before the comparison.

    Scale plan: rates come from a per-source count (agg output = #sources
    rows) broadcast back onto the corpus; the sample itself is a narrow
    filter — one scan, one tiny broadcast, zero wide shuffles."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    s = c.agg(
        F.sum("n").alias("total"),
        F.sum(F.col("n") * F.sqrt("n")).alias("denom"),
    )
    rates = (
        c.crossJoin(F.broadcast(s))
        .select(
            "source",
            F.round(
                F.least(
                    F.lit(1.0), 0.5 * F.col("total") / F.col("denom") * F.sqrt("n")
                ),
                6,
            ).alias("rate"),
        )
    )
    u = F.expr(_U_SPARK)
    return (
        d.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate"))
        .select("doc_id", "source", "rate")
    )


REPEAT_N = 5  # repeated-span n-gram size
REPEAT_TOP_K = 25


@register(
    "text_repeated_ngrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
      WHERE len(string_split(text, ' ')) >= {REPEAT_N}
    ),
    grams AS (
      SELECT doc_id, array_to_string(a[CAST(i AS INTEGER):CAST(i AS INTEGER)+{REPEAT_N - 1}], ' ') AS g
      FROM t CROSS JOIN UNNEST(range(1, len(a) - {REPEAT_N - 1} + 1)) AS r(i)
    ),
    df AS (
      SELECT g,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM grams GROUP BY g
    )
    SELECT g, n_docs, n_occurrences
    FROM df WHERE n_docs >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, g ASC
    LIMIT {REPEAT_TOP_K}
    """,
)
def text_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal repeated-span mining (the cheap cousin of Lee et
    al. 2022's suffix-array dedup): word {REPEAT_N}-grams appearing in 2+
    distinct documents, ranked by document frequency — the spans worth
    cutting before LLM training (boilerplate, licenses, templates).

    Scale shape: gram generation is inline (transform over sequence, no
    UDF, no extra shuffle); the document-frequency aggregate shuffles
    (gram, doc_id) pairs once with partial aggregation, and the top-k is
    TakeOrderedAndProject over the aggregate — never a global sort of the
    gram stream. At 100 TB the only heavy exchange is the gram agg, which
    is the same O(corpus-grams) volume the contamination check already
    pays; frequency-capping (drop grams seen once per partition early)
    would shave it further if needed."""
    d = load_table(spark, sf_dir, "documents")
    a = F.split("text", " ")
    # r13 optimization: rebalance ahead of the gram explode — the
    # single-row-group scan otherwise runs the ~200x amplification on
    # one task (dedup._spread rationale).
    grams = (
        _spread(d).filter(F.size(a) >= REPEAT_N)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(a) - (REPEAT_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice(a, i, REPEAT_N)),
                )
            ).alias("g"),
        )
    )
    return (
        grams.groupBy("g")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("g").asc()
        )
        .limit(REPEAT_TOP_K)
    )


BPE_PAIR_TOP_K = 20


@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ),
    pairs AS (
      SELECT substr(word, CAST(i AS INTEGER), 2) AS pair
      FROM w CROSS JOIN UNNEST(range(1, len(word))) AS r(i)
      WHERE len(word) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT {BPE_PAIR_TOP_K}
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge-step statistic (Sennrich et al. 2016): corpus-wide
    frequencies of adjacent symbol pairs at the character stage — the
    quantity a tokenizer trainer maximizes at every merge. Top pairs by
    count, deterministic pair-ASC tiebreak.

    Scale shape: pair generation is an inline HOF explode (no UDF), the
    count is ONE partial-combinable aggregate over pair strings (bounded
    key space: alphabet^2), and top-k is TakeOrderedAndProject. A full
    BPE trainer iterates this with a merge table; the per-iteration Spark
    job is exactly this shape.
    """
    d = load_table(spark, sf_dir, "documents")
    word = F.col("word")
    pairs = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length(word) >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(word) - 1),
                    lambda i: F.substring(word, i, F.lit(2)),
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(BPE_PAIR_TOP_K)
    )


BPE_TRAIN_MERGES = 10


def _bpe_train_oracle(n_merges: int = BPE_TRAIN_MERGES) -> str:
    """Unrolled DuckDB twin of the BPE merge-training loop (the
    ml_decision_tree_depth2 tuple-argmax precedent, r12): every quantity
    in the loop is EXACT — pair counts are BIGINT sums of BIGINT word
    frequencies, the per-step winner is ORDER BY (n DESC, pair ASC)
    LIMIT 1 over those integers, and the splice is a discrete string
    fold — so the fixed BPE_TRAIN_MERGES iterations replay bit-exactly
    as chained CTEs. Each vocab CTE is referenced twice per step
    (pair-count + splice) => AS MATERIALIZED everywhere (the r11
    exponential-inlining trap, ml.py ml_linear_svm_gd). The splice fold
    is list_reduce with the accumulator-with-init trick (an empty
    VARCHAR[] seed prepended as the first element of a list-of-lists, so
    the fold starts from [] exactly like Spark's F.aggregate zero).
    Termination parity: Spark breaks when the best pair's count < 2; the
    HAVING >= 2 makes b{{t}} empty there, the LEFT JOIN then passes vocab
    through unchanged, and every later step stays empty — same merge
    table."""
    ctes = [
        """v0 AS MATERIALIZED (
      SELECT freq, list_transform(range(1, len(word) + 1),
                     i -> substr(word, CAST(i AS INTEGER), 1)) AS seq
      FROM (SELECT word, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS word
                  FROM documents)
            WHERE len(word) > 0 GROUP BY word)
    )"""
    ]
    for t in range(1, n_merges + 1):
        ctes.append(f"""p{t} AS MATERIALIZED (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
        SELECT freq, unnest(list_transform(range(1, len(seq)),
                              i -> seq[i] || ' ' || seq[i + 1])) AS pair
        FROM v{t - 1} WHERE len(seq) >= 2
      ) GROUP BY pair HAVING sum(freq) >= 2
    )""")
        ctes.append(f"""b{t} AS MATERIALIZED (
      SELECT pair, string_split(pair, ' ')[1] AS f,
             string_split(pair, ' ')[2] AS s,
             replace(pair, ' ', '') AS m, n
      FROM p{t} ORDER BY n DESC, pair ASC LIMIT 1
    )""")
        ctes.append(f"""v{t} AS MATERIALIZED (
      SELECT v.freq,
             CASE WHEN b.pair IS NULL THEN v.seq
                  ELSE list_reduce(
                         [CAST([] AS VARCHAR[])]
                           || list_transform(v.seq, x -> [x]),
                         (acc, x) -> CASE
                           WHEN len(acc) > 0 AND acc[-1] = b.f
                                AND x[1] = b.s
                           THEN acc[:-2] || [b.m]
                           ELSE acc || x END)
             END AS seq
      FROM v{t - 1} v LEFT JOIN b{t} b ON TRUE
    )""")
    outs = [
        f"SELECT CAST({t - 1} AS INTEGER) AS step, pair, m AS merged,"
        f" n AS weighted_count FROM b{t}"
        for t in range(1, n_merges + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(outs)
        + "\nORDER BY step"
    )


@register("text_bpe_train_merges", oracle=_bpe_train_oracle())
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE merge training (Sennrich et al. 2016), distributed:
    the classic tokenizer-training loop run as Spark jobs over the
    word-frequency table.

      vocab := distinct words with corpus frequencies (ONE corpus agg —
               all further iterations touch only the vocab, the standard
               BPE trick that makes training corpus-size-independent);
      per merge step: count adjacent symbol pairs weighted by word freq
               (partial-combinable agg), take the (count DESC, pair ASC)
               top-1, splice it into every word's symbol sequence with a
               greedy left-to-right ARRAY FOLD (aggregate over the symbol
               array: append, or replace the tail element when (tail,
               current) == the pair), localCheckpoint to truncate the
               growing lineage.

    The fold is exactly Sennrich's lookaround re.sub semantics: CONSECUTIVE
    occurrences all merge ('a a a a' -> 'ab ab'), because after a merge the
    accumulator tail is the merged symbol, which cannot re-match the pair's
    first element — unlike a space-padded literal replace, which consumes
    the trailing separator and skips every other occurrence (the round-4
    bug this replaced). tests/test_text_bpe.py pins exact equality against
    a pure-Python lookaround-regex twin. Output: the merge table
    (step, pair, merged, weighted_count).

    ORACLED (r12, upgraded from rows-only): every decision in the loop
    is an argmax over EXACT integers (BIGINT pair counts from BIGINT
    word frequencies — the ml_decision_tree_depth2 tuple-argmax class,
    determinism ledger #9's exact-integer exception), so the fixed
    BPE_TRAIN_MERGES-step loop unrolls as chained MATERIALIZED CTEs
    (_bpe_train_oracle) whose list_reduce splice replays _bpe_splice's
    fold bit-for-bit. No doubles anywhere on either side.

    Scale: the vocab is |distinct words| rows — bounded by language, not
    corpus; each iteration is one small agg + top-1 + map. At 100 TB the
    corpus is touched exactly once (the word-frequency agg).
    """
    docs = load_table(spark, sf_dir, "documents")
    word = F.col("word")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length(word) > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "freq",
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.length(word)),
                    lambda i: F.substring(word, i, F.lit(1)),
                ),
            ).alias("seq"),
        )
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(BPE_TRAIN_MERGES):
        syms = F.split("seq", " ")
        pair_col = F.explode(
            F.when(
                F.size(syms) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(syms) - 1),
                    lambda i: F.concat_ws(" ", F.slice(syms, i, 2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
        top = (
            vocab.select("freq", pair_col)
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        pair, n = top[0]["pair"], int(top[0]["n"])
        merged = pair.replace(" ", "")
        merges.append((step, pair, merged, n))
        first, second = pair.split(" ")
        spliced = _bpe_splice(F.split("seq", " "), first, second, merged)
        vocab = vocab.select(
            "freq", F.concat_ws(" ", spliced).alias("seq")
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "step int, pair string, merged string, weighted_count long"
    )


ZIPF_TOP = 1000


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH wf AS (
      SELECT word, CAST(count(*) AS DOUBLE) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word
    ),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, word ASC) AS r FROM wf
    )
    SELECT round(regr_slope(ln(f), ln(CAST(r AS DOUBLE))), 6) AS zipf_slope,
           round(regr_r2(ln(f), ln(CAST(r AS DOUBLE))), 6) AS fit_r2,
           CAST(count(*) AS BIGINT) AS n_words
    FROM ranked WHERE r <= {ZIPF_TOP}
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus word-frequency distribution: OLS slope
    of log(freq) on log(rank) over the top-{ZIPF_TOP} words (natural text
    sits near slope -1; a corpus that drifts far off is a quality signal —
    boilerplate, spam, or synthetic text).

    Scale shape: the corpus reduces to the word-frequency table in ONE
    partial-combinable agg (vocabulary-bounded, not corpus-bounded); the
    top-{ZIPF_TOP} cut happens FIRST via orderBy+limit (a
    TakeOrderedAndProject — per-partition top-k partials, k-sized driver
    merge, never a full-vocabulary sort), so the unpartitioned rank
    window runs over <= {ZIPF_TOP} rows instead of the whole vocabulary
    (round-5 verdict item 7). Ranks over the top-k slice equal global
    ranks because the limit uses the identical total order.
    Deterministic rank tiebreak (freq DESC, word ASC) on both sides.
    """
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("double").alias("f"))
    )
    top = wf.orderBy(F.col("f").desc(), F.col("word").asc()).limit(ZIPF_TOP)
    w = Window.orderBy(F.col("f").desc(), F.col("word").asc())
    ranked = top.select("f", F.row_number().over(w).cast("double").alias("r"))
    return ranked.agg(
        F.round(F.regr_slope(F.log("f"), F.log("r")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("f"), F.log("r")), 6).alias("fit_r2"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


RESERVOIR_K = 100


@register(
    "sample_reservoir_weighted",
    oracle=f"""
    SELECT doc_id, n_chars,
           round(-ln(({_U_DUCK}) + 0.25 / 4294967296.0) / n_chars * 1000, 6)
             AS res_key
    FROM documents
    ORDER BY -ln(({_U_DUCK}) + 0.25 / 4294967296.0) / n_chars ASC, doc_id ASC
    LIMIT {RESERVOIR_K}
    """,
)
def sample_reservoir_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (Efraimidis-Spirakis A-ES, 2006): keep the
    k docs with the smallest exponential race key -ln(u)/w, weight w =
    n_chars — longer documents proportionally likelier to survive. THE
    distributed weighted-sampling primitive: each partition keeps its local
    top-k by key (TakeOrderedAndProject partial), the driver merges k-sized
    heads — one pass, no shuffle of the full corpus, and the SAME rows win
    on any partitioning because u is a content-stable md5 uniform rather
    than rand().

    Cross-engine determinism: u is the exact dyadic md5 sum (see
    sample_temperature_mixing) offset by 2^-34 (also exact) so u > 0 —
    Spark's log() returns NULL at 0 while DuckDB errors, and the offset
    sidesteps both. ln/division on identical doubles use the platform
    libm in both engines; res_key is scaled by 1000 and rounded to 6 dp
    only for display, the ORDER BY uses the unrounded key.
    """
    d = load_table(spark, sf_dir, "documents")
    u = F.expr(_U_SPARK) + F.lit(0.25 / 4294967296.0)
    key = -F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "n_chars", key.alias("_k"))
        .orderBy(F.col("_k").asc(), F.col("doc_id").asc())
        .limit(RESERVOIR_K)
        .select(
            "doc_id", "n_chars", F.round(F.col("_k") * 1000, 6).alias("res_key")
        )
    )


CHUNK_BLOCK = 256  # tokens per training block
CHUNK_BUCKET = 100  # doc_id range per prefix-sum bucket


@register(
    "text_chunk_training_blocks",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n
      FROM documents
      WHERE len(string_split(text, ' ')) > 0
    ),
    pos AS (
      SELECT doc_id, n,
             coalesce(sum(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM sized
    )
    SELECT CAST(blk AS BIGINT) AS block_id, doc_id,
           CAST(least((blk + 1) * {CHUNK_BLOCK} - 1, start + n - 1)
                - greatest(blk * {CHUNK_BLOCK}, start) + 1 AS BIGINT)
             AS tok_in_block
    FROM pos,
         unnest(generate_series(CAST(start // {CHUNK_BLOCK} AS BIGINT),
                                CAST((start + n - 1) // {CHUNK_BLOCK} AS BIGINT)))
           AS t(blk)
    """,
)
def text_chunk_training_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style training-block chunking: concatenate the corpus in
    doc_id order and slice it into fixed 256-token blocks, emitting which
    docs land in which block (docs spanning a boundary appear in every
    block they touch, with their per-block token share) — the data-loader
    materialization step of LLM pretraining (concat-and-chunk, as in GPT
    pipelines; attention masking per source doc happens downstream).

    THE SCALE PATTERN HERE IS THE TWO-PASS PREFIX SUM. A naive global
    running-total window over docs is a single-task sort at 100 TB (the
    anti-pattern the repo bans for fact-sized frames). Instead:
    (1) docs group into doc_id-range buckets; an intra-bucket cumsum
        window runs partitioned by bucket (parallel, bounded);
    (2) per-bucket token totals aggregate to #buckets rows; a tiny
        unpartitioned window over THAT computes each bucket's global
        offset (the documented agg-sized exception);
    (3) offsets broadcast-join back and start = bucket_offset + intra.
    Identical output to the oracle's global cumsum, but every fact-sized
    step is hash-partitioned. Block expansion is an inline sequence()
    explode bounded by ceil(n/256) + 1 rows per doc.
    """
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n")
    ).filter(F.col("n") > 0)
    bucket = (F.col("doc_id") / CHUNK_BUCKET).cast("long")
    sized = sized.withColumn("bucket", bucket)
    w_intra = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    intra = sized.select(
        "doc_id",
        "n",
        "bucket",
        F.coalesce(F.sum("n").over(w_intra), F.lit(0)).alias("intra"),
    )
    totals = sized.groupBy("bucket").agg(F.sum("n").alias("btot"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "bucket", F.coalesce(F.sum("btot").over(w_b), F.lit(0)).alias("boff")
    )
    pos = intra.join(F.broadcast(offsets), "bucket").select(
        "doc_id", "n", (F.col("boff") + F.col("intra")).alias("start")
    )
    b = F.lit(CHUNK_BLOCK)
    blk = F.explode(
        F.sequence(
            (F.col("start") / b).cast("long"),
            ((F.col("start") + F.col("n") - 1) / b).cast("long"),
        )
    ).alias("block_id")
    out = pos.select("doc_id", "start", "n", blk)
    return out.select(
        F.col("block_id").cast("long"),
        "doc_id",
        (
            F.least((F.col("block_id") + 1) * b - 1, F.col("start") + F.col("n") - 1)
            - F.greatest(F.col("block_id") * b, F.col("start"))
            + 1
        ).cast("long").alias("tok_in_block"),
    )


def _bpe_splice(seq_col, first: str, second: str, merged: str):
    """Greedy left-to-right merge of one (first, second) pair over a
    symbol array — THE shared fold used by both text_bpe_train_merges and
    text_bpe_encode (Sennrich lookaround semantics: consecutive
    occurrences all merge; train and encode can never diverge)."""
    return F.aggregate(
        seq_col,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(first))
            & (x == F.lit(second)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


@register("text_bpe_encode", tags={"rows_only"})
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — apply the trained merge table to the corpus and
    report per-document subword token counts + compression vs character
    tokens (the second half of the tokenizer lifecycle; train is
    text_bpe_train_merges). Output: doc_id, char_tokens, bpe_tokens,
    round(compression, 4).

    THE SCALE TRICK: encoding is VOCAB-SIZED, not corpus-sized. Docs
    reduce to (doc_id, word, count); only DISTINCT words are encoded
    (each by folding the 10 trained merges over its symbol array in
    merge order — the exact tokenizer-apply algorithm), and per-doc
    totals come from a join on the encoded vocab + one sum. At 100 TB
    the encode step still touches |vocab| rows; the corpus pays one
    word-count aggregate and one vocab-sized (AQE-broadcastable) join.
    Rows-only: the 10-deep sequential fold has no SQL twin; a
    pure-Python BPE reference pins exact token counts in
    tests/test_text_bpe.py.
    """
    merges = [
        (r["pair"].split(" ")[0], r["pair"].split(" ")[1], r["merged"])
        for r in REGISTRY["text_bpe_train_merges"]
        .fn(spark, sf_dir)
        .orderBy("step")
        .collect()
    ]
    docs = load_table(spark, sf_dir, "documents")
    word_counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = word_counts.select("word").distinct()
    seq = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.substring(F.col("word"), i, F.lit(1)),
    )
    for first, second, merged in merges:
        seq = _bpe_splice(seq, first, second, merged)
    encoded = vocab.select(
        "word",
        F.length("word").cast("long").alias("chars"),
        F.size(seq).cast("long").alias("toks"),
    )
    return (
        word_counts.join(encoded, "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("chars")).alias("char_tokens"),
            F.sum(F.col("cnt") * F.col("toks")).alias("bpe_tokens"),
        )
        .select(
            "doc_id",
            "char_tokens",
            "bpe_tokens",
            F.round(
                F.col("bpe_tokens") / F.col("char_tokens").cast("double"), 4
            ).alias("compression"),
        )
    )


@register(
    "text_bigram_kn_logprob",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                    i -> w[CAST(i AS INTEGER)]))     AS w1,
             unnest(list_transform(range(1, len(w)),
                    i -> w[CAST(i AS INTEGER) + 1])) AS w2
      FROM t
    ),
    cb AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2),
    cw AS (SELECT w1, sum(c) AS cw, count(*) AS nf FROM cb GROUP BY 1),
    ct AS (SELECT w2, count(*) AS np FROM cb GROUP BY 1),
    b  AS (SELECT count(*) AS bt FROM cb),
    model AS (
      SELECT w1, w2,
             ln((c - 0.75) / cw + (0.75 * nf / cw) * (np / bt)) AS lp
      FROM cb JOIN cw USING (w1) JOIN ct USING (w2) CROSS JOIN b
    )
    SELECT doc_id, round(avg(lp), 6) AS avg_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM bi JOIN model USING (w1, w2) GROUP BY doc_id
    """,
)
def text_bigram_kn_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM quality score (Kneser & Ney 1995;
    the smoothing used by KenLM / the CCNet perplexity filter): train on
    the corpus itself, score each doc by mean bigram log-probability.

      P(w2|w1) = (c(w1,w2) − d)/c(w1·) + d·N1+(w1·)/c(w1·) · N1+(·w2)/B

    with discount d = 0.75, N1+ the distinct-continuation counts and B the
    number of distinct bigrams — the continuation distribution is what
    distinguishes KN from naive backoff ("francisco" is frequent but only
    ever follows "san", so its continuation probability is tiny).

    Scale shape: all four model tables are aggregates of the DISTINCT
    bigram table — Zipf-bounded (vocabulary-sized², but in practice ~10-50x
    the unigram vocab), never corpus-sized. The corpus bigram stream joins
    the model on (w1,w2): both sides hash-partition on the same key, so at
    100 TB this is one co-located shuffle join; the per-doc re-aggregation
    is partial-combinable. avg(ln p) is order-dependent double math —
    rounded to 6 on both engines per the parity rules; the probability
    itself is integer-count arithmetic in an identical expression tree,
    hence bit-exact per bigram. The (w1,w2) count model comes from
    _corpus_bigrams, code shared with the other two bigram-model keys
    that builds its vocab-sized checkpoint on each call."""
    bi, cb = _corpus_bigrams(spark, sf_dir)
    cw = cb.groupBy("w1").agg(
        F.sum("c").alias("cw"), F.count(F.lit(1)).alias("nf")
    )
    ct = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("np"))
    b = cb.agg(F.count(F.lit(1)).alias("bt"))
    model = (
        cb.join(cw, "w1")
        .join(ct, "w2")
        .crossJoin(F.broadcast(b))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c") - 0.75) / F.col("cw")
                + (0.75 * F.col("nf") / F.col("cw"))
                * (F.col("np") / F.col("bt"))
            ).alias("lp"),
        )
    )
    return (
        bi.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        )
    )


@register(
    "text_pmi_collocations",
    oracle="""
    WITH t AS (
      SELECT string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2
    ),
    bi AS (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[CAST(i AS INTEGER)]))     AS w1,
             unnest(list_transform(range(1, len(w)),
                    i -> w[CAST(i AS INTEGER) + 1])) AS w2
      FROM t
    ),
    cb AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
    n  AS (SELECT sum(c12) AS nb FROM cb),
    u1 AS (SELECT w1, sum(c12) AS c1 FROM cb GROUP BY 1),
    u2 AS (SELECT w2, sum(c12) AS c2 FROM cb GROUP BY 1)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           round(ln((c12 * nb) / (c1 * c2)), 6) AS pmi
    FROM cb JOIN u1 USING (w1) JOIN u2 USING (w2) CROSS JOIN n
    WHERE c12 >= 5
    ORDER BY ln((c12 * nb) / (c1 * c2)) DESC, w1, w2
    LIMIT 20
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information over adjacent
    word pairs (Church & Hanks 1990): PMI = ln(c12·N / (c1·c2)) with a
    min-count-5 support floor (bare PMI promotes hapax pairs; the floor
    is the standard fix).

    Scale shape: identical to the KN bigram model tables — every count
    is an aggregate of the DISTINCT-bigram table (Zipf-bounded, never
    corpus-sized), marginals re-aggregate cb rather than rescanning,
    and the top-k is TakeOrderedAndProject. The PMI expression is
    integer-count arithmetic in an identical tree → bit-exact, so even
    the k-boundary ordering matches the oracle exactly. The count table
    comes from _corpus_bigrams (shared code, built on each call)."""
    _, cb0 = _corpus_bigrams(spark, sf_dir)
    cb = cb0.select("w1", "w2", F.col("c").alias("c12"))
    n = cb.agg(F.sum("c12").alias("nb"))
    u1 = cb.groupBy("w1").agg(F.sum("c12").alias("c1"))
    u2 = cb.groupBy("w2").agg(F.sum("c12").alias("c2"))
    pmi = F.log((F.col("c12") * F.col("nb")) / (F.col("c1") * F.col("c2")))
    return (
        cb.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .filter(F.col("c12") >= 5)
        .orderBy(pmi.desc(), "w1", "w2")
        .limit(20)
        .select("w1", "w2", F.col("c12").cast("bigint").alias("c12"),
                F.round(pmi, 6).alias("pmi"))
    )


BM25_QUERY = ("window", "merge", "vector")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 15
_bm25_terms = ", ".join(f"'{t}'" for t in BM25_QUERY)


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ({_bm25_terms}) GROUP BY 1, 2
    ),
    df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM toks
      WHERE term IN ({_bm25_terms}) GROUP BY 1
    ),
    scored AS (
      SELECT tf.doc_id,
             sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                 * (tf.tf * ({BM25_K1} + 1))
                 / (tf.tf + {BM25_K1}
                    * (1 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))) AS score
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats s
      GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored ORDER BY score DESC, doc_id LIMIT {BM25_TOP}
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Spärck Jones probabilistic idf +
    Okapi tf saturation, k1=1.2 b=0.75) for a fixed keyword query —
    THE lexical-search scoring function (Lucene/Elasticsearch default),
    completing the retrieval family next to tf-idf and the dense
    cosine/ANN path.

    Plan: the posting stage filters the token stream to the QUERY terms
    before any shuffle (predicate on the exploded term — the inverted-
    index access pattern expressed relationally), so tf/df aggregates
    are query-sized, not corpus-sized; doc lengths + corpus stats are
    one partial-combinable aggregate; all lookups broadcast. Determinism:
    avgdl = exact-int sum/count (bit-identical), the per-doc score sums
    ≤|query| terms whose equal-stat ties are exactly equal → the
    top-k boundary cannot flip between engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    qt = toks.filter(F.col("term").isin(*BM25_QUERY))
    tf = qt.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = qt.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_part).alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), "doc_id")
        .limit(BM25_TOP)
        .select("doc_id", F.round("score", 6).alias("bm25"))
    )


@register(
    "text_heaps_law_fit",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    doc_tokens AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok FROM toks GROUP BY 1
    ),
    firsts AS (
      SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY term
    ),
    new_terms AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1
    ),
    curve AS (
      SELECT d.doc_id,
             sum(d.n_tok) OVER (ORDER BY d.doc_id)             AS n_cum,
             sum(COALESCE(t.n_new, 0)) OVER (ORDER BY d.doc_id) AS v_cum
      FROM doc_tokens d LEFT JOIN new_terms t USING (doc_id)
    ),
    ll AS (
      SELECT ln(CAST(n_cum AS DOUBLE)) AS x, ln(CAST(v_cum AS DOUBLE)) AS y
      FROM curve WHERE n_cum > 0 AND v_cum > 0
    ),
    fit AS (
      SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM ll
    )
    SELECT round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS beta,
           round(exp((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                     / n), 4) AS k_coef,
           CAST(n AS BIGINT) AS n_points
    FROM fit
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K·n^β of vocabulary growth over the corpus
    in doc_id order — the companion of text_zipf_fit (Zipf describes
    the frequency distribution, Heaps its integral: how fast NEW types
    appear) and the number that sizes tokenizer vocabularies and
    predicts OOV rates as a 100 TB corpus grows.

    Plan: the cumulative-distinct trick at corpus scale — each term's
    FIRST document is one aggregate (never a per-prefix rescan), new
    types per doc re-aggregate that frame, and the growth curve is two
    running sums over the |docs|-row frame; the log-log OLS consumes
    sufficient statistics of that same tiny frame. Integer counts
    everywhere until the final fit → rounded once."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    doc_tokens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    firsts = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    new_terms = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w_run = (
        Window.partitionBy()
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    curve = (
        doc_tokens.join(new_terms, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("n_tok").over(w_run).alias("n_cum"),
            F.sum(F.coalesce("n_new", F.lit(0))).over(w_run).alias("v_cum"),
        )
    )
    ll = curve.filter((F.col("n_cum") > 0) & (F.col("v_cum") > 0)).select(
        F.log(F.col("n_cum").cast("double")).alias("x"),
        F.log(F.col("v_cum").cast("double")).alias("y"),
    )
    fit = ll.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        F.round(beta, 6).alias("beta"),
        F.round(F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n")), 4).alias(
            "k_coef"
        ),
        F.col("n").cast("bigint").alias("n_points"),
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      FROM words
    ),
    firsts AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty
    FROM sh s JOIN firsts f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty against the corpus-so-far (doc_id
    order): the fraction of a document's distinct word 3-grams whose
    FIRST corpus occurrence is in that document. The curation signal
    behind dedup-aware data mixing — a late document with novelty ≈ 0
    is pure rehash (drop or down-weight it); pairs with
    text_contamination_ngram (which checks overlap against a FIXED
    reference set, not the rolling corpus).

    Scale shape: one explode to distinct (doc, shingle) pairs, one
    partial-combinable min-aggregate per shingle (the global
    first-occurrence table — vocabulary-sized, the same trick as
    window_cumulative_distinct), one co-partitioned join back on
    shingle, one per-doc aggregate. No windows, no sorts; both
    shuffles key on the shingle/doc hash. Integer counts — exact.
    """
    from go_batch_processor_spark.operators.dedup import _word_ngrams

    d = load_table(spark, sf_dir, "documents")
    # (doc, gram) pairs are already distinct (_word_ngrams dedups per
    # doc). Checkpoint once: both aggregates below consume this frame,
    # and the interpreted HOF shingle explode is the expensive part —
    # recomputing it per branch doubled the cost (measured 4.8 s at
    # sf0.1; ~2x less with the single materialization).
    pairs = _spread(d).select(
        "doc_id",
        F.explode(_word_ngrams(F.split("text", " "), 3)).alias("shingle"),
    ).localCheckpoint(eager=True)
    # No join back on the gram key: n_novel per doc is just the size
    # histogram of the first-occurrence table, and n_grams per doc is a
    # direct count — two vocabulary/doc-bounded aggregates joined on
    # doc_id (|docs| rows), instead of a corpus-sized gram join.
    novel_per_doc = (
        pairs.groupBy("shingle")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    grams_per_doc = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams")
    )
    return (
        grams_per_doc.join(novel_per_doc, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) * 1.0 / F.col("n_grams"), 6
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register("text_compression_ratio", tags={"rows_only"})
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap quality/
    repetition signal from the C4/Gopher filtering recipes: natural
    prose compresses to ~0.3–0.6 of its size; boilerplate, keyword
    stuffing, and template spam compress far smaller (highly
    repetitive), while random noise barely compresses at all. Filter
    rule of thumb: drop the extreme tails on both ends.

    Scale shape: a stateless per-row kernel behind an Arrow-batched
    pandas UDF (zlib is not expressible in Spark SQL — this is the
    documented legitimate Python boundary, vectorized per batch, no
    shuffle at all; the scan partitioning is the parallelism). The
    level-6 deflate is deterministic for a given zlib, so the operator
    is stable across runs; rows-only because no SQL engine exposes the
    same codec (tests/test_round6_invariants.py pins a python-zlib
    twin and the prose-vs-repetition ordering).
    """
    @F.pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: round(
                len(zlib.compress(t.encode("utf-8"), 6))
                / max(1, len(t.encode("utf-8"))),
                6,
            )
        )

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        ratio(F.col("text")).alias("compression_ratio"),
    ).orderBy("doc_id")


PSEUDO_SENT_WORDS = 15  # pseudo-sentence length for unpunctuated corpora


@register(
    "text_readability",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             string_split(text, ' ') AS w,
             len(regexp_extract_all(text, '[aeiouy]+')) AS n_syll
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(n_syll AS BIGINT) AS n_syll,
             CAST(len(list_filter(w,
                    x -> len(regexp_extract_all(x, '[aeiouy]+')) >= 3))
                  AS BIGINT) AS n_poly,
             CAST(ceil(len(w) * 1.0 / {PSEUDO_SENT_WORDS}) AS BIGINT)
               AS n_sent
      FROM t
    )
    SELECT doc_id, n_words, n_syll, n_poly,
           round(n_syll * 1.0 / n_words, 4) AS syll_per_word,
           floor((206.835 - 1.015 * (n_words * 1.0 / n_sent)
                 - 84.6 * (n_syll * 1.0 / n_words)) * 10000 + 0.5) / 10000.0
             AS flesch,
           floor((0.39 * (n_words * 1.0 / n_sent)
                 + 11.8 * (n_syll * 1.0 / n_words) - 15.59) * 10000 + 0.5)
             / 10000.0 AS fk_grade
    FROM m
    ORDER BY doc_id
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability metrics — Flesch reading ease and
    Flesch-Kincaid grade (Kincaid et al. 1975) — the classic
    quality-filter companions to the Gopher/C4 signals
    (text_repetition_gopher, text_quality_score) in an LLM training-data
    pipeline.

    Syllables are approximated as vowel-group runs ([aeiouy]+), the
    standard punctuation-free heuristic; the corpus has no sentence
    punctuation, so sentences are PSEUDO-sentences of 15 words
    (documented normalization — the formulas stay monotone in word
    length/syllable density, which is what a quality filter thresholds
    on).

    Scale shape: pure per-row regexp + higher-order array functions
    inside whole-stage codegen — zero shuffle, zero Python; the plan is
    scan -> project, embarrassingly parallel at any corpus size. The
    ORDER BY is presentation-only (the driver compare sorts anyway).

    Reference scope: go-batch-processor's Processor transforms record
    batches (batch_processor.go:147-167); per-record derived metrics are
    the Spark-native equivalent surface.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_words = F.size(w).cast("bigint")
    n_syll = F.size(F.regexp_extract_all("text", F.lit("[aeiouy]+"), F.lit(0))).cast(
        "bigint"
    )
    n_poly = F.size(
        F.filter(
            w,
            lambda x: F.size(F.regexp_extract_all(x, F.lit("[aeiouy]+"), F.lit(0)))
            >= 3,
        )
    ).cast("bigint")
    n_sent = F.ceil(n_words * 1.0 / PSEUDO_SENT_WORDS).cast("bigint")
    asl = n_words * 1.0 / n_sent
    spw = n_syll * 1.0 / n_words
    # flesch/fk_grade mix decimal constants with small-denominator
    # rationals, so values land adversarially close to 1e-4 half-points
    # where the engines' round() IMPLEMENTATIONS diverge on the SAME
    # double (Spark: BigDecimal-of-exact-value HALF_UP; DuckDB:
    # x*10^4 then nearest — the multiply re-rounds). floor(x*1e4+0.5)/1e4
    # spelled out on both sides is pure IEEE (multiply/add/floor) and
    # therefore bit-deterministic across engines.
    def round4(c):
        return F.floor(c * 10000 + 0.5) / 10000.0

    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_syll.alias("n_syll"),
        n_poly.alias("n_poly"),
        F.round(spw, 4).alias("syll_per_word"),
        round4(206.835 - 1.015 * asl - 84.6 * spw).alias("flesch"),
        round4(0.39 * asl + 11.8 * spw - 15.59).alias("fk_grade"),
    ).orderBy("doc_id")


RAKE_TOP_K = 20


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    ),
    marked AS (
      SELECT doc_id, pos, w,
             w IN ({_sw_list}) AS stop,
             sum(CASE WHEN w IN ({_sw_list}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM w
    ),
    members AS (
      SELECT doc_id, grp, pos, w FROM marked WHERE NOT stop
    ),
    plen AS (
      SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS plen
      FROM members GROUP BY doc_id, grp
    ),
    wstats AS (
      SELECT m.w,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(p.plen - 1) AS BIGINT) AS deg
      FROM members m JOIN plen p ON m.doc_id = p.doc_id AND m.grp = p.grp
      GROUP BY m.w
    ),
    scored AS (
      SELECT m.doc_id, m.grp, m.pos, m.w,
             CAST((CAST(s.deg AS HUGEINT) * 1000000000000
                   + s.freq // 2) // s.freq AS BIGINT)
               + 1000000000000 AS w12
      FROM members m JOIN wstats s ON m.w = s.w
    ),
    phrases AS (
      SELECT doc_id, grp,
             array_to_string(list(w ORDER BY pos), ' ') AS phrase,
             CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(w12) AS BIGINT) AS p12
      FROM scored GROUP BY doc_id, grp
    )
    SELECT phrase, max(n_words) AS n_words,
           CAST(count(*) AS BIGINT) AS occurrences,
           CAST((max(p12) + 500000) // 1000000 AS BIGINT) AS score_micros
    FROM phrases
    GROUP BY phrase
    ORDER BY max(p12) DESC, phrase ASC
    LIMIT {RAKE_TOP_K}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic keyword
    extraction from individual documents"): candidate phrases are
    maximal stopword-free word runs; each word scores
    deg(w)/freq(w) + 1 where freq counts phrase memberships and deg
    sums (phrase_len - 1) over its phrases (co-occurrence degree); a
    phrase scores the sum of its words' scores. Top-{RAKE_TOP_K}
    distinct phrases corpus-wide — the classic unsupervised keyword
    primitive for corpus exploration / tagging in a document pipeline.

    Determinism/parity shape (r8 rewrite, KM integer doctrine): phrase
    segmentation is a running stopword-count window ordered by word
    position (gaps-and-islands — deterministic); each word score is the
    exact scale-12 integer rhu(deg·10^12/freq) + 10^12 (round-half-up
    integer division, HUGEINT/DECIMAL38-widened), the per-phrase score
    is a plain INTEGER sum — order-independent, no ordered fold needed
    — and the emitted score_micros plus the top-k ORDER BY ride the
    integer, so identical phrases carry bit-identical scores and the
    ranking has no rounded-double tie hazard.

    Scale shape: one explode + one per-doc ordered window + two
    partial-combinable aggregates; the global word-score table is
    vocabulary-sized (Zipf-bounded) and joins via broadcast. Top-k is
    TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    is_stop = F.col("w").isin(*STOPWORDS)
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = w.select(
        "doc_id",
        "pos",
        "w",
        is_stop.alias("stop"),
        F.sum(F.when(is_stop, 1).otherwise(0)).over(win).alias("grp"),
    )
    members = marked.filter(~F.col("stop")).select("doc_id", "grp", "pos", "w")
    plen = members.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("plen")
    )
    wstats = (
        members.join(plen, ["doc_id", "grp"])
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(F.col("plen") - 1).cast("bigint").alias("deg"),
        )
    )
    scored = members.join(
        F.broadcast(
            wstats.select(
                "w",
                F.expr(
                    "CAST((CAST(deg AS DECIMAL(38,0)) * 1000000000000"
                    " + (freq DIV 2)) DIV freq AS BIGINT)"
                    " + 1000000000000"
                ).alias("w12"),
            )
        ),
        "w",
    )
    ordered_w = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
    )
    phrases = scored.groupBy("doc_id", "grp").agg(
        F.array_join(ordered_w, " ").alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("w12").cast("bigint").alias("p12"),
    )
    return (
        phrases.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("occurrences"),
            F.expr(
                "CAST((max(p12) + 500000) DIV 1000000 AS BIGINT)"
            ).alias("score_micros"),
            F.max("p12").alias("_p12"),
        )
        .orderBy(F.col("_p12").desc(), F.col("phrase").asc())
        .limit(RAKE_TOP_K)
        .drop("_p12")
    )


@register(
    "text_lexical_diversity",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wf AS (
      SELECT doc_id, w, CAST(count(*) AS BIGINT) AS f
      FROM w GROUP BY doc_id, w
    ),
    m AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT)                    AS n_types,
             CAST(sum(f) AS BIGINT)                      AS n_words,
             CAST(sum(f * f) AS BIGINT)                  AS sum_f2,
             CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END)
                  AS BIGINT)                             AS n_hapax
      FROM wf GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_types, n_hapax,
           floor((n_types * 1.0 / n_words) * 10000 + 0.5) / 10000.0
             AS ttr,
           floor((n_hapax * 1.0 / n_types) * 10000 + 0.5) / 10000.0
             AS hapax_ratio,
           floor((10000.0 * (sum_f2 - n_words) / (n_words * n_words))
                 * 10000 + 0.5) / 10000.0 AS yule_k
    FROM m
    ORDER BY doc_id
    """,
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical-diversity metrics — type-token ratio, hapax
    legomenon ratio, and Yule's K characteristic (Yule 1944):
    K = 10^4 (sum_w f_w^2 - N) / N^2, the repetitiveness measure that is
    length-robust where raw TTR is not. Together with the Gopher/C4
    signals (text_repetition_gopher, text_quality_score) these are the
    standard template/boilerplate screens in LLM training-data curation:
    machine-generated spam shows low TTR, low hapax ratio, high K.

    Scale shape: one explode + one partial-combinable (doc, word) count
    + one per-doc aggregate — two map-side-combinable shuffles, zero
    Python, zero joins; all aggregate outputs are exact integers and the
    three ratios divide once at the end. Rounding is the explicit
    floor(x*1e4+0.5)/1e4 form on both engines (pure IEEE — see
    text_readability: small-denominator rationals like 13/160 sit on
    4-decimal half-points where the engines' round() implementations
    diverge on the same double).
    """
    d = load_table(spark, sf_dir, "documents")
    wf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    m = wf.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("f").cast("bigint").alias("n_words"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("sum_f2"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
    )

    def round4(c):
        return F.floor(c * 10000 + 0.5) / 10000.0

    return m.select(
        "doc_id",
        "n_words",
        "n_types",
        "n_hapax",
        round4(F.col("n_types") * 1.0 / F.col("n_words")).alias("ttr"),
        round4(F.col("n_hapax") * 1.0 / F.col("n_types")).alias("hapax_ratio"),
        round4(
            10000.0
            * (F.col("sum_f2") - F.col("n_words"))
            / (F.col("n_words") * F.col("n_words"))
        ).alias("yule_k"),
    ).orderBy("doc_id")


C4_MIN_WORDS = 25
C4_MAX_WORDS = 10_000
C4_MIN_AVG_WLEN = 2.0
C4_MAX_AVG_WLEN = 12.0
C4_MIN_STOPWORD_RATIO = 0.02
C4_MAX_WORD_LEN = 20


@register(
    "text_c4_style_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split(text, ' ') AS w,
             length(text) AS tlen
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             CAST(len(w) AS BIGINT) AS n_words,
             (tlen - (len(w) - 1)) * 1.0 / len(w) AS avg_wlen,
             len(list_filter(w, x -> x IN ({_sw_list}))) * 1.0 / len(w)
               AS sw_ratio,
             len(list_filter(w, x -> length(x) > {C4_MAX_WORD_LEN}))
               AS n_longwords
      FROM t
    )
    SELECT doc_id,
           CASE
             WHEN lang <> 'en'                        THEN 'non_target_lang'
             WHEN n_words < {C4_MIN_WORDS}            THEN 'too_short'
             WHEN n_words > {C4_MAX_WORDS}            THEN 'too_long'
             WHEN avg_wlen < {C4_MIN_AVG_WLEN}
               OR avg_wlen > {C4_MAX_AVG_WLEN}        THEN 'degenerate_word_len'
             WHEN sw_ratio < {C4_MIN_STOPWORD_RATIO}  THEN 'low_stopword_ratio'
             WHEN n_longwords > 0                     THEN 'overlong_token'
             ELSE 'pass'
           END AS verdict,
           (CASE
             WHEN lang <> 'en'                        THEN 'non_target_lang'
             WHEN n_words < {C4_MIN_WORDS}            THEN 'too_short'
             WHEN n_words > {C4_MAX_WORDS}            THEN 'too_long'
             WHEN avg_wlen < {C4_MIN_AVG_WLEN}
               OR avg_wlen > {C4_MAX_AVG_WLEN}        THEN 'degenerate_word_len'
             WHEN sw_ratio < {C4_MIN_STOPWORD_RATIO}  THEN 'low_stopword_ratio'
             WHEN n_longwords > 0                     THEN 'overlong_token'
             ELSE 'pass'
           END) = 'pass' AS keep
    FROM m
    ORDER BY doc_id
    """,
)
def text_c4_style_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule-based document filter (Raffel et al. 2020 §2.2
    adapted to this unpunctuated corpus): target-language gate, word-
    count bounds, mean-word-length sanity band, minimum stopword ratio
    (C4's "contains English function words" proxy), and an overlong-
    token screen (lorem/base64/URL junk). Each document gets the FIRST
    failing rule as its verdict — the audit trail a curation pipeline
    reports (what fraction was dropped, and why), not just a boolean.

    Scale shape: a single scan -> project with higher-order array
    functions inside codegen; zero shuffles, zero joins, zero Python.
    Outputs are strings/booleans computed from integer counts and
    single-division rationals compared against literal thresholds —
    no rounding anywhere, so no cross-engine parity hazard at all.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    n_words = F.size(w).cast("bigint")
    avg_wlen = (F.length("text") - (F.size(w) - 1)) * 1.0 / F.size(w)
    sw_ratio = (
        F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))) * 1.0 / F.size(w)
    )
    n_longwords = F.size(F.filter(w, lambda x: F.length(x) > C4_MAX_WORD_LEN))
    verdict = (
        F.when(F.col("lang") != "en", F.lit("non_target_lang"))
        .when(n_words < C4_MIN_WORDS, F.lit("too_short"))
        .when(n_words > C4_MAX_WORDS, F.lit("too_long"))
        .when(
            (avg_wlen < C4_MIN_AVG_WLEN) | (avg_wlen > C4_MAX_AVG_WLEN),
            F.lit("degenerate_word_len"),
        )
        .when(sw_ratio < C4_MIN_STOPWORD_RATIO, F.lit("low_stopword_ratio"))
        .when(n_longwords > 0, F.lit("overlong_token"))
        .otherwise(F.lit("pass"))
    )
    return d.select(
        "doc_id",
        verdict.alias("verdict"),
        (verdict == "pass").alias("keep"),
    ).orderBy("doc_id")


@register(
    "text_head_middle_tail_split",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      WHERE len(string_split(lower(text), ' ')) >= 2
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                    i -> w[CAST(i AS INTEGER)]))     AS w1,
             unnest(list_transform(range(1, len(w)),
                    i -> w[CAST(i AS INTEGER) + 1])) AS w2
      FROM t
    ),
    cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY 1, 2),
    doc AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS sc,
             CAST(count(*) AS BIGINT) AS nb
      FROM bi JOIN cb USING (w1, w2) GROUP BY doc_id
    ),
    ranked AS (
      SELECT doc_id, sc / (nb * 1.0) AS score,
             row_number() OVER (ORDER BY sc / (nb * 1.0) DESC, doc_id) AS rn,
             (SELECT CAST(count(*) AS BIGINT) FROM doc) AS n
      FROM doc
    )
    SELECT CASE (rn - 1) * 3 // n WHEN 0 THEN 'head'
                                  WHEN 1 THEN 'middle'
                                  ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(min(score), 6) AS min_score,
           round(max(score), 6) AS max_score,
           round(avg(score), 6) AS avg_score
    FROM ranked GROUP BY 1
    """,
)
def text_head_middle_tail_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (Wenzek et al. 2020): rank
    every document by a language-model fluency score and cut the corpus
    into three equal-population buckets — LLM pretraining pipelines keep
    "head", mix "middle", and drop or down-weight "tail".

    The ranking score here is the mean corpus support of the doc's
    bigrams, sum(c(w1,w2))/n_bigrams — a RATIONAL fluency surrogate
    chosen deliberately over CCNet's perplexity: each per-doc score is
    ONE IEEE division of two exact integer aggregates, hence bit-equal
    across engines, so tertile boundary membership is deterministic
    (the true KN log-score lives in text_bigram_kn_logprob; its ln()
    is libm and must never decide a boundary — SCALE.md round-7
    determinism doctrine). Ties are broken by doc_id so the order is
    total.

    Scale shape: the bigram-count model is Zipf-bounded (distinct
    bigrams, not corpus bigrams); scoring is the same co-located
    (w1,w2) shuffle join as the KN key; the global tertile rank is
    dist_rank.distributed_row_number (quantile buckets + literal
    offsets), never a single-task ORDER BY window.
    """
    from go_batch_processor_spark.dist_rank import distributed_row_number

    bi, cb = _corpus_bigrams(spark, sf_dir)
    doc = (
        bi.join(cb, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("sc"),
            F.count(F.lit(1)).cast("bigint").alias("nb"),
        )
        .select(
            "doc_id", (F.col("sc") / (F.col("nb") * F.lit(1.0))).alias("score")
        )
        # one row per doc. distributed_row_number consumes its input THREE
        # times (quantile sampling, bucket counts, final rank) — without
        # truncation each pass re-runs the bigram explode + model join
        # (measured 19.8 s -> 3.4 s at sf0.1; the graph_local_clustering
        # union-reruns-the-join lesson).
        .localCheckpoint(eager=True)
    )
    ranked, n = distributed_row_number(
        doc,
        "score",
        [F.col("score").desc(), F.col("doc_id").asc()],
        "rn",
        descending=True,
    )
    bucket = F.expr(f"CASE (rn - 1) * 3 div {n} WHEN 0 THEN 'head' "
                    f"WHEN 1 THEN 'middle' ELSE 'tail' END")
    return (
        ranked.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("score"), 6).alias("min_score"),
            F.round(F.max("score"), 6).alias("max_score"),
            F.round(F.avg("score"), 6).alias("avg_score"),
        )
    )


VOCAB_DRIFT_TOPK = 10


@register(
    "text_vocab_drift_tvd",
    oracle=f"""
    WITH words AS (
      SELECT doc_id % 2 AS half,
             unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    counts AS (
      SELECT w,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM words GROUP BY 1
    ),
    sized AS (
      SELECT w, ca, cb,
             sum(ca) OVER () AS na,
             sum(cb) OVER () AS nb,
             abs(ca * sum(cb) OVER () - cb * sum(ca) OVER ()) AS num
      FROM counts
    )
    SELECT w AS term, ca AS count_a, cb AS count_b,
           round(num / (na * 1.0 * nb), 6) AS prob_shift,
           round(CAST(sum(num) OVER () AS BIGINT)
                 / (2.0 * na * nb), 6) AS corpus_tvd
    FROM sized
    ORDER BY num DESC, w
    LIMIT {VOCAB_DRIFT_TOPK}
    """,
)
def text_vocab_drift_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix drift monitor: total-variation distance between the
    unigram distributions of two corpus halves (id-parity split — in
    production, yesterday's crawl vs today's), plus the {VOCAB_DRIFT_TOPK}
    most-shifted terms. This is the cheap tripwire an LLM data pipeline
    runs per ingestion batch: a jump in corpus_tvd or a surprising term
    at the top means the source mix changed (new boilerplate, a crawler
    bug, a domain flip) BEFORE expensive downstream stages run.

    Exactness shape: the per-term probability gap |ca/NA - cb/NB| clears
    to the exact integer |ca*NB - cb*NA| over the corpus-constant
    denominator NA*NB, so the TVD total is ONE bigint sum and both the
    ranking and the reported values are single exact-integer divisions
    (the profile_feature_drift_sweep doctrine applied to text; TVD
    chosen over JS/KL because ln is libm).

    Scale shape: explode + one partial-aggregable groupBy(word) — the
    shuffle is vocabulary-sized (Zipf-bounded), not corpus-sized; the
    window sums run over the vocabulary frame; top-k is
    TakeOrderedAndProject on an exact integer key.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    )
    counts = words.groupBy("w").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    w_all = Window.partitionBy()
    sized = counts.select(
        "w",
        "ca",
        "cb",
        F.sum("ca").over(w_all).alias("na"),
        F.sum("cb").over(w_all).alias("nb"),
        F.abs(
            F.col("ca") * F.sum("cb").over(w_all)
            - F.col("cb") * F.sum("ca").over(w_all)
        ).alias("num"),
    )
    return (
        sized.select(
            F.col("w").alias("term"),
            F.col("ca").alias("count_a"),
            F.col("cb").alias("count_b"),
            F.round(F.col("num") / (F.col("na") * F.lit(1.0) * F.col("nb")), 6)
            .alias("prob_shift"),
            F.round(
                F.sum("num").over(w_all).cast("bigint")
                / (F.lit(2.0) * F.col("na") * F.col("nb")),
                6,
            ).alias("corpus_tvd"),
            F.col("num").alias("_n"),
        )
        .orderBy(F.col("_n").desc(), "term")
        .limit(VOCAB_DRIFT_TOPK)
        .drop("_n")
    )
