"""Deduplication operators over ``documents`` (north-star §2.2.i).

Four strategies, all JVM-side (no Python UDFs in the row path):

  dedup_exact         — content-hash groupBy (sha2), keep min doc_id
  dedup_ngram_jaccard — EXACT near-dup pairs: trigram shingles, inverted-
                        index self-join, Jaccard >= threshold (DuckDB oracle)
  dedup_near_minhash  — MinHash signatures + LSH banding + exact verify:
                        the 100 TB-scale path (candidates only, never all pairs)
  dedup_simhash       — 64-bit SimHash + chunk-pigeonhole candidate pairs
                        with Hamming distance <= 3

Scale notes: the inverted-index join's fanout is bounded by dropping
ultra-frequent shingles (stop-shingles) — at test SF no shingle is hot
enough to matter, so the threshold is high; LSH banding (MINHASH_K=24
hashes in LSH_BANDS=12 bands of 2 rows — see the P(miss) derivation at
the constants below) keeps candidate generation linear in corpus size.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from go_batch_processor_spark.catalog import load_table
from go_batch_processor_spark.registry import register

log = logging.getLogger(__name__)

NGRAM = 3
JACCARD_THRESHOLD = 0.6
# LSH tuning: b bands of r rows catch a pair of Jaccard j with
# P = 1 - (1 - j^r)^b. r=2, b=12 -> P(miss) ~ 0.5% at j=0.6, ~5e-6 at
# j=0.8; false-positive candidates are cheap (exact-verify prunes them).
MINHASH_K = 24
LSH_BANDS = 12  # 2 rows per band
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3
# LSH band buckets larger than this switch from all-pairs expansion
# (O(D^2)) to a star around the min doc_id (O(D)) — cluster-complete
# for the CC consumer, pair-incomplete by design (see the candidate
# expansion comment in dedup_near_minhash).
LSH_MAX_BUCKET = 1024
# Shingles appearing in more than this many documents are dropped from the
# inverted-index JOIN side (bounds self-join fanout at scale). ABSOLUTE
# cutoff — no driver-side corpus count needed to size it. A trigram shared
# by >100k documents is boilerplate; pairs whose similarity depends on such
# shingles are the explicit (documented) exclusion. At test SFs no shingle
# approaches the cutoff, so results are bit-exact vs the unfiltered oracle.
STOP_SHINGLE_MAX_DF = 100_000


def _word_ngrams(words: Column, n: int) -> Column:
    """Distinct word n-grams of an array<string> column (JVM higher-order fns)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(words, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


# _spread/_spread_by moved to go_batch_processor_spark.spread (r14,
# ADVICE: shared helper out of the dedup module); re-exported here so
# existing `from operators.dedup import _spread` sites stay valid.
from go_batch_processor_spark.spread import _spread, _spread_by  # noqa: E402,F401


def doc_shingles(docs: DataFrame, n: int = NGRAM) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the inverted-index building block."""
    words = F.split(F.col("text"), " ")
    return _spread(docs).select(
        "doc_id", F.explode(_word_ngrams(words, n)).alias("shingle")
    )


def doc_shingle_hashes(docs: DataFrame, n: int = NGRAM) -> DataFrame:
    """(doc_id, sh_h) distinct 64-bit shingle hashes, never materializing
    shingle STRINGS: words are hashed once, and each shingle hash is
    xxhash64 over its n word-hashes. Measured 4.3x faster than the
    string-shingle explode at sf0.1 (concat_ws string allocation dominates
    the interpreted HOF) and the explode emits two longs per row.

    For HASH-based consumers only (minhash/simhash — identity via 64-bit
    hash, collision p ~ 2^-64 per pair); the ORACLED exact-Jaccard path
    keeps string shingles so its parity never rests on hash injectivity.
    """
    words = F.split(F.col("text"), " ")
    wh = F.transform(words, lambda w: F.xxhash64(w))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (n - 1)),
        lambda i: F.xxhash64(*[F.element_at(F.col("_wh"), i + j) for j in range(n)]),
    )
    return (
        _spread(docs)
        .withColumn("_wh", wh)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.when(F.size(words) >= n, grams).otherwise(
                        F.array().cast("array<bigint>")
                    )
                )
            ).alias("sh_h"),
        )
    )


def exact_jaccard_pairs(
    docs: DataFrame, threshold: float = JACCARD_THRESHOLD, n: int = NGRAM
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via inverted-index self-join.

    No driver-side actions: the stop-shingle cutoff is an absolute document
    frequency (STOP_SHINGLE_MAX_DF), not a fraction of a ``docs.count()``.
    Per-doc set sizes come from the PRE-filter shingle set (matching the
    unfiltered oracle); only the self-join input is stop-filtered.

    Deliberately NOT persisted: caching the exploded shingle table costs
    more than recomputing it (measured at sf0.1: 2.4 s persisted vs 1.7 s
    recomputed — columnar cache write of wide string rows dominates).
    Iterative consumers (connected_components) bound re-execution with a
    lazy localCheckpoint of the edge list instead.
    """
    sh = doc_shingles(docs, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Drop stop-shingles from the join side to bound fanout.
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= STOP_SHINGLE_MAX_DF)
        .select("shingle")
    )
    shj = sh.join(keep, "shingle")

    a = shj.alias("a")
    b = shj.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_filter(inter, sizes, threshold)


def _jaccard_filter(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """Attach per-doc shingle-set sizes (``(doc_id, n_sh)``) to
    (doc_a, doc_b, inter) pair counts and keep pairs with Jaccard >=
    threshold."""
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("inter") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("inter"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@register(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, text
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on sha2(text) (at 100 TB never group on the raw
    multi-KB text — the 32-byte digest shuffles instead), keep min doc_id."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("_h", F.sha2("text", 256))
        .groupBy("_h")
        .agg(F.min("doc_id").alias("doc_id"), F.min("text").alias("text"))
        .select("doc_id", "text")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      FROM words
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-duplicate pairs (threshold 0.6)."""
    return exact_jaccard_pairs(load_table(spark, sf_dir, "documents"))


@register("dedup_near_minhash", tags={"rows_only"})
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, the linear-time path for 100 TB:

      ONE shingle pass -> (24 minhashes + shingle-hash set) per doc ->
      12 bands of 2 -> band-bucket candidates -> Jaccard verify via
      array_intersect on the candidate pairs' hash sets.

    Rows-only check (hash-function specific); tests assert it finds exactly
    the same pairs as the exact dedup_ngram_jaccard oracle query.

    Round-1 ran the shingle explode pipeline >=2x (signature stage + a
    second explode for the verify self-join): 3.2 s / 46 exchanges at
    sf0.1. Now the single signature aggregation ALSO collects each doc's
    distinct shingle xxhash64 set, so verification is two compact equi-joins
    (candidates x per-doc hash arrays) and a JVM ``array_intersect`` — no
    second explode, no shingle self-join. Measured 1.4 s at sf0.1 (-57%).

    Exactness caveat: intersection/union sizes are over 64-bit shingle
    hashes, so two distinct shingles colliding (p ~ 2^-64 per pair) could
    perturb a Jaccard value; the exact-string inverted-index path
    (dedup_ngram_jaccard) is the oracle-grade twin.

    Scale note: the hash set adds ~8 bytes x distinct shingles per doc to
    the signature shuffle — the same order as the shingle shuffle it
    replaces, so total bytes moved DROP (one shuffle instead of two+ and
    longs instead of strings). The compact signature table is
    localCheckpoint'd inside the returned plan; it feeds banding and both
    verify probes, and its blocks are freed when that plan is dropped.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Hash-native shingles (doc_shingle_hashes): word-hash combination,
    # no shingle strings anywhere — 4.3x faster explode, and the k
    # minhash functions re-hash the 8-byte shingle hash, not a ~20-byte
    # string. A multi-level hash family is as collision-safe as the
    # direct one (~2^-64 per pair); the exact-string inverted-index path
    # (dedup_ngram_jaccard) remains the oracle-grade twin.
    sh = doc_shingle_hashes(docs)
    # Shape (measured at sf0.1, 24 hashes): explode + groupBy-min wins.
    # Map-side partial aggregation shrinks the shuffle to |docs| x k longs
    # per map partition and the hashing stays in codegen. k separate
    # array_min(transform(...)) projections re-evaluate the gram pipeline
    # per column (~2x), and one F.aggregate fold runs interpreted with
    # per-element array allocations (~3x).
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("sh_h"))).alias(f"mh{i}")
        for i in range(MINHASH_K)
    ] + [F.collect_set("sh_h").alias("hs")]
    sig = sh.groupBy("doc_id").agg(*aggs).localCheckpoint(eager=False)
    rows_per_band = MINHASH_K // LSH_BANDS
    # Single explode over an array of (band, sig) structs: the signature
    # aggregation is computed ONCE (a per-band union would re-run the whole
    # shingle->minhash pipeline LSH_BANDS times).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        f"mh{i}"
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                ).alias("sig"),
            )
            for b in range(LSH_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )

    # Candidate pairs via bucket-collect + in-array pair expansion: one
    # aggregation over the banded rows instead of a self-join (which would
    # evaluate the whole signature pipeline twice). Same-bucket doc lists
    # are tiny (only near-dups collide), so the nested pair transform is
    # O(bucket^2) on a handful of elements. Scale guard (r11, closing the
    # r10 bucket-skew caveat): a bucket of D docs would emit D(D-1)/2
    # pairs — a boilerplate-dominated corpus (D >> LSH_MAX_BUCKET docs
    # sharing one shingle set) degrades the expansion to O(D^2), so
    # buckets past LSH_MAX_BUCKET switch to a STAR around the bucket's
    # min doc_id: D-1 pairs that keep the duplicate cluster CONNECTED
    # for the connected-components consumer (dedup_cluster_components)
    # while dropping intra-cluster pair completeness — the documented
    # recall trade, pinned by tests/test_dedup_llm.py's adversarial
    # boilerplate corpus. Heterogeneous mega-buckets (two unrelated
    # families whose 2-hash band signatures collide in ONE band) do not
    # break the connectivity claim: the verify step correctly drops the
    # cross-family star edges, and each family reconnects through its
    # OWN buckets in the other 11 bands — a family B only lacks
    # all-pairs there if |B| itself exceeds the cap, in which case B's
    # homogeneous bucket gets its own B-hub star (r11 self-review: the
    # failure would need both families to collide in all 12 bands,
    # i.e. to share signatures — to effectively BE one family).
    # Exact-duplicate mega-clusters should still run dedup_exact first
    # (its output is this operator's intended input at 100 TB); the cap
    # is the backstop when they don't.
    buckets = (
        bands.groupBy("band", "sig")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_expr = F.expr(
        f"CASE WHEN size(ids) <= {LSH_MAX_BUCKET} THEN "
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS doc_a, y AS doc_b)))) "
        "ELSE transform(slice(ids, 2, size(ids) - 1), "
        "y -> struct(element_at(ids, 1) AS doc_a, y AS doc_b)) END"
    )
    candidates = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )

    # Verify on the candidate pairs only: join each side to its (persisted)
    # per-doc shingle-hash set and compute Jaccard with array_intersect —
    # candidates are a vanishing fraction of the corpus, so these are
    # broadcast-sized probes against the compact signature table.
    hsets = sig.select("doc_id", "hs")
    ha = hsets.alias("ha")
    hb = hsets.alias("hb")
    inter = F.size(F.array_intersect(F.col("ha.hs"), F.col("hb.hs")))
    jac = inter / (F.size(F.col("ha.hs")) + F.size(F.col("hb.hs")) - inter)
    return (
        candidates.join(ha, F.col("doc_a") == F.col("ha.doc_id"))
        .join(hb, F.col("doc_b") == F.col("hb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


CC_MAX_ITERS = 20


def connected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Each node starts labeled with itself; every round each node takes the
    min label among itself and its neighbors; converged when no label
    changes. Rounds needed = graph diameter (near-dup clusters are tiny, so
    a handful); each round is one join + one aggregate — the standard
    DataFrame-iterative shape (same loop GraphX/GraphFrames runs inside).

    Returns (node, component) with component = min node id in the cluster.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # The edge list is scanned every iteration; without this checkpoint
        # the (potentially expensive) upstream pair-generation pipeline
        # re-executes once per round.
        .localCheckpoint(eager=False)
    )
    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    changed = 0
    for _ in range(CC_MAX_ITERS):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy(sym.a.alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
        )
        # localCheckpoint truncates the exponentially-growing lineage —
        # required for any iterative DataFrame algorithm.
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        log.warning(
            "connected_components: not converged after %d iterations "
            "(%d labels still changing) — component labels may split "
            "clusters with diameter > %d",
            CC_MAX_ITERS,
            changed,
            CC_MAX_ITERS,
        )
    return labels.select("node", F.col("label").alias("component"))


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      FROM words
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, least(min(b), a) AS component
    FROM reach
    GROUP BY a
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> duplicate CLUSTERS via connected components (the
    step that turns pairwise Jaccard matches into keep-one-per-group
    decisions). Spark side iterates min-label propagation; the oracle walks
    the transitive closure with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs)
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      FROM words
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (SELECT a AS doc_id, least(min(b), a) AS component
             FROM reach GROUP BY a)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    LEFT JOIN comp c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.component = d.doc_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deduplicated corpus: near-dup clusters collapse to their minimum
    doc_id; singletons pass through. This is the end product the rest of
    the dedup family feeds (pairs -> components -> keep-one-per-cluster)."""
    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(exact_jaccard_pairs(docs), "doc_a", "doc_b")
    keep = comp.filter(F.col("node") == F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    clustered = comp.select(F.col("node").alias("doc_id"))
    survivors = docs.join(clustered, "doc_id", "left_anti").select("doc_id").unionByName(keep)
    return docs.join(survivors, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


@register("dedup_simhash", tags={"rows_only"})
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: 64-bit signature from word hashes, then
    pigeonhole on 4 x 16-bit chunks (Hamming <= 3 guarantees one equal
    chunk), exact Hamming verify on candidates.

    Output: (doc_a, doc_b, hamming). Rows-only (hash-function specific).
    """
    docs = load_table(spark, sf_dir, "documents")
    wordhash = _spread(docs).select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).select("doc_id", F.xxhash64("word").alias("h"))

    # Per-bit +-1 vote sums -> bit array (1 if vote sum > 0).
    votes = wordhash.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    bits = votes.select(
        "doc_id",
        F.array(
            *[F.when(F.col(f"v{j}") > 0, 1).otherwise(0) for j in range(SIMHASH_BITS)]
        ).alias("bits"),
    )
    chunk_w = SIMHASH_BITS // (SIMHASH_MAX_HAMMING + 1)
    # Explode (chunk, sig) structs: the 64-agg vote pipeline runs once.
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.concat_ws(
                    "",
                    *[F.element_at("bits", c * chunk_w + j + 1) for j in range(chunk_w)],
                ).alias("sig"),
            )
            for c in range(SIMHASH_MAX_HAMMING + 1)
        ]
    )
    chunks = (
        bits.select("doc_id", "bits", F.explode(chunk_structs).alias("cs"))
        .select(
            "doc_id",
            "bits",
            F.col("cs.chunk").alias("chunk"),
            F.col("cs.sig").alias("sig"),
        )
        # Both sides of the banded self-join read this frame; without a
        # checkpoint the 64-aggregate vote pipeline executes TWICE
        # (ReuseExchange does not bridge a self-join's two scans of a
        # derived frame — the r7 triangle lesson). Doc-count-sized
        # (4 rows/doc), so materializing is the cheap side. Measured
        # sf0.1 warm: 4.1 -> ~2.3 s (r10).
        .localCheckpoint(eager=False)
    )

    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.aggregate(
        F.zip_with(
            F.col("a.bits"), F.col("b.bits"), lambda x, y: (x != y).cast("int")
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


EDIT_MAX_DIST = 15  # max edit distance for a fuzzy-dup pair
EDIT_PREFIX = 80  # verify on this prefix: bounds the O(n*m) DP per pair


@register(
    "dedup_edit_distance",
    oracle=f"""
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(substr(a.text, 1, {EDIT_PREFIX}),
                            substr(b.text, 1, {EDIT_PREFIX})) AS BIGINT) AS dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= {EDIT_MAX_DIST}
    WHERE levenshtein(substr(a.text, 1, {EDIT_PREFIX}),
                      substr(b.text, 1, {EDIT_PREFIX})) <= {EDIT_MAX_DIST}
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs verified by edit distance: candidate pairs must
    share a language AND sit within {EDIT_MAX_DIST} chars of each other in
    length (edit distance is lower-bounded by the length difference, so
    the band is lossless), then the survivors are verified with
    levenshtein over an {EDIT_PREFIX}-char prefix — the
    spelling-variant / small-patch duplicate class that token-level
    Jaccard misses.

    Scale shape: the length band is realized as a BUCKETED equi-join
    (floor(n_chars / width) bucket key; one side replicated to its 3
    adjacent buckets — the join_band_inequality construction), so the
    shuffle keys on (lang, bucket), never on lang alone (3 langs = 3
    straggler partitions at 100 TB) and never all-pairs. Each pair meets
    exactly once (the probe side keeps its own bucket; only the build
    side replicates), so no post-join distinct. The O(n*m) levenshtein DP
    runs only on band survivors; at corpus scale you would first gate by
    minhash/simhash candidates (dedup_near_minhash / dedup_simhash) and
    use this as the exact verifier — same role the inverted index plays
    for dedup_ngram_jaccard.

    MEASURED (r13 scale harness, SCALE_MEASURED.md): within a (lang,
    band) cell the verify is ALL-PAIRS — quadratic in cell population
    by construction (tail exponent 2.0 at x10 replication: 1.5 s ->
    136 s). This is the operator's documented standalone class, not a
    defect: an exact sub-quadratic edit-distance join does not exist at
    this distance ratio (PassJoin segments at D/L = 15/80 are 5 chars —
    they collide on common words and explode instead of pruning), so
    standalone use is for band-population-bounded corpora and the
    minhash-composed form above is the 100 TB path."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.substring("text", 1, EDIT_PREFIX).alias("pfx")
    )
    width = EDIT_MAX_DIST
    a = d.select(
        F.col("doc_id").alias("a_id"),
        "lang",
        F.col("n_chars").alias("a_n"),
        F.col("pfx").alias("a_pfx"),
        F.floor(F.col("n_chars") / width).alias("_bkt"),
    )
    b = d.select(
        F.col("doc_id").alias("b_id"),
        "lang",
        F.col("n_chars").alias("b_n"),
        F.col("pfx").alias("b_pfx"),
        F.explode(
            F.array(
                F.floor(F.col("n_chars") / width) - 1,
                F.floor(F.col("n_chars") / width),
                F.floor(F.col("n_chars") / width) + 1,
            )
        ).alias("_bkt"),
    )
    # 3-arg levenshtein runs the BANDED O(threshold * n) DP and returns -1
    # beyond the threshold — exact distances for every surviving pair, so
    # oracle parity is unchanged while the verify stage drops ~5x in cost
    # (measured 10.0 s -> 2.2 s at sf0.1).
    dist = F.levenshtein("a_pfx", "b_pfx", EDIT_MAX_DIST)
    return (
        a.join(b, ["lang", "_bkt"], "inner")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("a_n") - F.col("b_n")) <= EDIT_MAX_DIST)
        )
        .filter((dist >= 0) & (dist <= EDIT_MAX_DIST))
        .select("a_id", "b_id", dist.cast("long").alias("dist"))
    )


SUBSTR_N = 15  # token window for exact-substring dedup


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(t[CAST(i AS BIGINT):CAST(i + {SUBSTR_N} - 1 AS BIGINT)], ' ') AS g
      FROM toks CROSS JOIN UNNEST(range(1, len(t) - {SUBSTR_N} + 2)) AS r(i)
      WHERE len(t) >= {SUBSTR_N}
    ),
    dupg AS (
      SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)
    ),
    duppos AS (
      SELECT DISTINCT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dupg)
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM duppos
    ),
    spans AS (
      SELECT doc_id, min(pos) AS s, max(pos) + {SUBSTR_N} - 1 AS e
      FROM isl GROUP BY doc_id, grp
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_dup_spans,
           CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication report (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every MAXIMAL token
    span of length >= SUBSTR_N that also appears verbatim in another
    document, and report per document how many such spans it carries and
    how many tokens they cover. The reference paper builds a corpus suffix
    array; the distributed equivalent is sliding token windows + island
    merge, which identifies the IDENTICAL >=N-token cross-doc spans (every
    maximal repeated span of length L >= N is covered by exactly its
    L - N + 1 constituent windows, which are consecutive and merge back
    into the maximal span).

    Plan shape (100 TB story):
      1. window generation is an inline HOF explode (no UDF, no shuffle);
         the gram string is built ONCE inside the (interpreted) transform
         and reduced to a 128-bit hash (two independent xxhash64) in the
         codegen'd projection right after the explode — gram STRINGS
         (~100 B each) never reach the shuffle, only 16-byte keys.
         Measured at sf0.1: building the string twice inside the HOF, or
         replacing it with a per-window word-hash fold, are BOTH slower
         (1.5 s vs 5.8 s / 7.5 s for the gram stage) — interpreted HOF
         output should be computed once and handed to codegen ASAP.
         Hash-collision probability at 100 TB gram counts is ~n^2/2^129 —
         negligible (the same trade the contamination docstring makes);
      2. duplicated positions: ONE shuffle on the hash key with
         min/max(doc_id) analytic over the hash partition — min <> max
         detects cross-doc repeats without a count-distinct Expand, and
         tagging happens IN the same pass (an agg + semi-join-back would
         re-run the explode: measured 3.5 s -> 1.85 s at sf0.1). Hash
         groups are tiny (docs sharing a span), so the window buffers
         O(group) rows;
      3. islands: per-doc window over positions (pos - row_number), then
         two partial aggs. The only per-doc state is duplicated-window
         positions — O(dup density), not O(doc).
    """
    d = load_table(spark, sf_dir, "documents")
    return exact_substring_report(d, SUBSTR_N)


def exact_substring_report(docs: DataFrame, n: int) -> DataFrame:
    """Per-doc maximal >=n-token cross-doc duplicated spans over a
    (doc_id, text) frame — see dedup_exact_substring for the plan-shape
    rationale. Exposed for composition and property tests."""
    a = F.split("text", " ")
    # r13 optimization: rebalance ahead of the window explode — the
    # single-row-group fixture scan makes stage 1 single-task otherwise.
    grams = (
        _spread(docs).filter(F.size(a) >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(a) - (n - 1)),
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.concat_ws(" ", F.slice(a, i, n)).alias("g"),
                    ),
                )
            ).alias("w"),
        )
        .select(
            "doc_id",
            "w.pos",
            F.xxhash64("w.g").alias("h1"),
            F.xxhash64("w.g", F.lit(1)).alias("h2"),
        )
    )
    wd = Window.partitionBy("h1", "h2")
    dup_pos = (
        grams.withColumn("mn", F.min("doc_id").over(wd))
        .withColumn("mx", F.max("doc_id").over(wd))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "pos")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + n - 1).alias("e"),
        )
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_incremental_snapshot",
    oracle=f"""
    WITH mx AS (SELECT max(doc_id) AS m FROM documents),
    words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      FROM words
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS old_doc, b.doc_id AS new_doc, count(*) AS i
      FROM sh a, sh b, mx
      WHERE a.shingle = b.shingle
        AND a.doc_id * 2 < mx.m AND b.doc_id * 2 >= mx.m
      GROUP BY 1, 2
    )
    SELECT old_doc, new_doc,
           round(i * 1.0 / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON old_doc = sa.doc_id
    JOIN sizes sb ON new_doc = sb.doc_id
    WHERE i * 1.0 / (sa.n_sh + sb.n_sh - i) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (snapshot-delta) near-dedup — THE production ingestion
    shape: a NEW batch of documents (upper half of doc_id, standing in
    for today's crawl) is screened against the EXISTING corpus (lower
    half) for trigram-Jaccard near-duplicates >= {JACCARD_THRESHOLD},
    WITHOUT ever re-joining old x old: the inverted-index join is
    old-side x new-side only, so per-ingest cost is
    O(|delta| x avg-postings), not O(|corpus|^2) — re-running the full
    pairwise key (dedup_ngram_jaccard) per daily batch would redo the
    entire corpus self-join every day.

    Plan shape: one shingle explode over the WHOLE table (both sides
    share it — at 100 TB the old side's postings are the pre-built
    persistent index and only the delta explodes), stop-shingle df cap
    bounds fanout exactly as in exact_jaccard_pairs, then one
    co-partitioned shingle join restricted old->new and the standard
    size-join Jaccard verification. Output: (old_doc, new_doc, jaccard)
    — the pairs a curator blocks or canonicalizes before the delta is
    admitted to the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m"))
    sh = doc_shingles(docs).crossJoin(F.broadcast(mx))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    keep = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= STOP_SHINGLE_MAX_DF)
        .select("shingle")
    )
    shj = sh.join(keep, "shingle")
    old = shj.filter(F.col("doc_id") * 2 < F.col("m")).select(
        F.col("doc_id").alias("old_doc"), "shingle"
    )
    new = shj.filter(F.col("doc_id") * 2 >= F.col("m")).select(
        F.col("doc_id").alias("new_doc"), "shingle"
    )
    inter = (
        old.join(new, "shingle")
        .groupBy("old_doc", "new_doc")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("old_doc"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("new_doc"), F.col("n_sh").alias("nb"))
    jac = F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "old_doc")
        .join(sb, "new_doc")
        .filter(jac >= JACCARD_THRESHOLD)
        .select("old_doc", "new_doc", F.round(jac, 4).alias("jaccard"))
    )


CONTAINMENT_THRESHOLD = 0.8


@register(
    "dedup_containment_ngram",
    oracle=f"""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      FROM words
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, i AS n_common,
             floor(i * 10000.0 / sa.n_sh + 0.5) / 10000.0 AS cont_a,
             floor(i * 10000.0 / sb.n_sh + 0.5) / 10000.0 AS cont_b
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b, n_common, cont_a, cont_b
    FROM scored
    WHERE cont_a >= {CONTAINMENT_THRESHOLD} OR cont_b >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (Broder 1997's resemblance
    companion): cont(A in B) = |S(A) ∩ S(B)| / |S(A)|. Catches what
    Jaccard misses — a short document wholly embedded in a much longer
    one scores near-zero Jaccard (union is dominated by the long doc)
    but containment ~1. This is the sub-document / quote / boilerplate
    detector for training-data curation; pairs where either direction
    >= {CONTAINMENT_THRESHOLD} are flagged.

    Parity: intersection and sizes are exact integers from the same
    inverted-index join as dedup_ngram_jaccard; the ratio is fixed to 4
    decimals via the doctrine's floor(x*1e4 + 0.5) trick (NOT round()) —
    shingle-set sizes are small denominators, so exact half-points are
    likely and the two engines' round() implementations diverge there
    (SCALE.md round-7 determinism notes). Scale: identical to the exact
    Jaccard path — inverted-index join with the STOP_SHINGLE_MAX_DF
    boilerplate cutoff bounding per-shingle fanout; the LSH-banded
    pairer generates candidates at 100 TB.

    Measured (sf0.1, local[32], solo): r9 ~1.46 s; r11 solo minima
    cold 2.30 / min-warm 1.52 s over 7 samples on the IDENTICAL
    PLANS.md row (2 exchanges, 3 broadcasts) — the r10 in-bench 2.02 s
    was interleave contention, not a plan regression (r10 verdict
    item 3; bench.py CHECKPOINT_HEAVY now records the standalone pair
    each round)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingles(docs).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    fp = lambda i, n: F.floor(i * 10000.0 / n + 0.5) / 10000.0
    scored = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            fp(F.col("n_common"), F.col("na")).alias("cont_a"),
            fp(F.col("n_common"), F.col("nb")).alias("cont_b"),
        )
    )
    return scored.filter(
        (F.col("cont_a") >= CONTAINMENT_THRESHOLD)
        | (F.col("cont_b") >= CONTAINMENT_THRESHOLD)
    )


@register(
    "dedup_url_canonicalize",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END)
             || '://'
             || (CASE WHEN doc_id % 3 = 0
                      THEN upper('www.site' || (doc_id % 5) || '.com')
                      ELSE 'www.site' || (doc_id % 5) || '.com' END)
             || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
             || '/p/' || (doc_id % 7)
             || (CASE WHEN doc_id % 6 = 0 THEN '/' ELSE '' END)
             || '?utm_source=feed&id=' || (doc_id % 11)
             || (CASE WHEN doc_id % 2 = 0 THEN '&ref=tw' ELSE '' END)
             || (CASE WHEN doc_id % 9 = 0 THEN '#sec' ELSE '' END)
               AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     lower(regexp_extract(
                       regexp_replace(url, '#.*$', ''),
                       '^([^/]*//[^/?]*)', 1))
                     || regexp_replace(
                          regexp_replace(url, '#.*$', ''),
                          '^[^/]*//[^/?]*', ''),
                     ':80(/|\?|$)', '\1'),
                   '(utm_[a-z_]+|ref)=[^&]*&?', '', 'g'),
                 '[?&]$', ''),
               '/(\?|$)', '\1') AS curl
      FROM raw
    )
    SELECT curl AS canonical_url,
           CAST(count(*) AS BIGINT) AS n_dups,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM canon
    GROUP BY 1 HAVING count(*) > 1
    """,
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""URL-canonicalization dedup — the first stage of every web-corpus
    pipeline (CCNet, RefinedWeb, Gopher): the same page is crawled under
    scheme/host case variants, default :80 ports, trailing slashes,
    tracking parameters (utm_*, ref) and fragments; canonicalize, group,
    keep the smallest doc_id per canonical URL.

    The corpus has no URL column, so a synthetic-but-adversarial URL is
    manufactured per doc (deterministic in doc_id: mixed-case scheme and
    host, optional :80, optional trailing slash, utm/ref noise params, a
    fragment) — the canonicalizer must merge all variants that share
    (host mod 5, path mod 7, id mod 11). Canonicalization steps, in
    order: strip fragment; lowercase scheme+authority (regexp_extract of
    the prefix — never lower() the path/query, which are case-
    sensitive); strip default port :80; drop tracking params; trim the
    dangling '?'/'&'; strip the trailing path slash. All patterns are
    RE2-safe (no lookaheads) so the DuckDB oracle runs the same regexes.

    Scale shape: pure per-row codegen string ops + ONE partial-
    aggregable groupBy on the canonical string (short — at multi-TB,
    group on sha2(curl) and carry min-by; dedup_exact notes the same
    digest-vs-payload shuffle tradeoff).
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(
            did % 3 == 0,
            F.upper(F.concat(F.lit("www.site"), (did % 5), F.lit(".com"))),
        ).otherwise(F.concat(F.lit("www.site"), (did % 5), F.lit(".com"))),
        F.when(did % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/p/"),
        (did % 7),
        F.when(did % 6 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&id="),
        (did % 11),
        F.when(did % 2 == 0, F.lit("&ref=tw")).otherwise(F.lit("")),
        F.when(did % 9 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    nofrag = F.regexp_replace(url, r"#.*$", "")
    lowered = F.concat(
        F.lower(F.regexp_extract(nofrag, r"^([^/]*//[^/?]*)", 1)),
        F.regexp_replace(nofrag, r"^[^/]*//[^/?]*", ""),
    )
    noport = F.regexp_replace(lowered, r":80(/|\?|$)", r"$1")
    notrack = F.regexp_replace(noport, r"(utm_[a-z_]+|ref)=[^&]*&?", "")
    nodangle = F.regexp_replace(notrack, r"[?&]$", "")
    curl = F.regexp_replace(nodangle, r"/(\?|$)", r"$1")
    return (
        d.select(did.alias("doc_id"), curl.alias("curl"))
        .groupBy(F.col("curl").alias("canonical_url"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
    )
