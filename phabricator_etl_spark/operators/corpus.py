"""Corpus-pipeline operators: the stages between raw crawl and training set.

Greenfield LLM-data-pipeline operators (SURVEY.md §7 Phase 8 family, beyond
the five dedup primitives in operators/dedup.py). Each is the Spark-first
form of a pipeline stage a 100 TB text corpus actually goes through:

- near-dup CLUSTERING:     LSH pairs -> connected components -> one canonical
                           representative per duplicate cluster (the step the
                           pairwise dedup ops stop short of)
- incremental ingest dedup: new batch vs an existing fingerprint store
                           (anti-join, the daily-crawl shape)
- text normalization:      lower/strip/collapse as one codegen projection
- global n-gram top-k:     the canonical giant-shuffle count
- TF-IDF top terms:        two aggregations + a per-doc window

Scale notes per operator in the docstrings. Zero Python UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..query import Q
from ..sources.catalog import load_table as _t
from ..functions.hashing import md5_long, md5_long_sql
from .dedup import _spread, dedup_minhash_lsh, _minhash_lsh_oracle

_TOKEN_RE = r"\s+"


# ---------------------------------------------------------------------------
# Near-dup clustering: pairs are not enough — a dedup pipeline must pick ONE
# representative per duplicate cluster. MinHash-LSH pairs (operators/dedup)
# become edges; connected components (operators/graph, the stack_size engine)
# labels clusters; min doc_id is the canonical survivor. At 100 TB the pair
# list is tiny relative to the corpus (only near-dups), so the CC fixpoint
# runs on a graph orders of magnitude smaller than the input.
# ---------------------------------------------------------------------------

def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    vertices = d.select(F.col("doc_id").cast("long").alias("id"))
    comp = connected_components(vertices, pairs)
    wc = Window.partitionBy("component")
    return comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
        F.count(F.lit(1)).over(wc).cast("long").alias("cluster_size"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def _cluster_oracle() -> str:
    # Connected components in ANSI SQL: a recursive CTE propagates every
    # node's id along (symmetrized) edges; MIN over the reachable-label set
    # is exactly the min-id component label the Spark fixpoint computes.
    return f"""
WITH RECURSIVE pairs AS (
  SELECT a, b FROM ({_minhash_lsh_oracle()}) mo
), e AS (
  SELECT a AS s, b AS t FROM pairs UNION ALL SELECT b AS s, a AS t FROM pairs
), reach(id, lab) AS (
  SELECT CAST(doc_id AS BIGINT), CAST(doc_id AS BIGINT) FROM documents
  UNION
  SELECT e.t, r.lab FROM reach r JOIN e ON e.s = r.id
), comp AS (
  SELECT id AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY id
)
SELECT doc_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
       doc_id = cluster_id AS is_canonical
FROM comp
"""


DEDUP_CLUSTER_ORACLE = _cluster_oracle()


# ---------------------------------------------------------------------------
# Incremental ingest dedup: yesterday's corpus is a fingerprint store; only
# genuinely new content from today's batch should survive. One hash pass over
# the batch + one join against the store — the store side never rehashes its
# text (at scale the store IS just the hash column, bucketed by h so the
# daily join co-locates without a store-side shuffle).
# ---------------------------------------------------------------------------

def corpus_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), md5_long(F.col("text")).alias("h")
    )
    store = d.filter(F.col("doc_id") % 10 < 7).select("h").distinct()
    batch = d.filter(F.col("doc_id") % 10 >= 7)
    canon = batch.groupBy("h").agg(F.min("doc_id").alias("first_id"))
    return (
        batch.join(store.withColumn("in_store", F.lit(True)), "h", "left")
        .join(canon, "h")
        .select(
            "doc_id",
            "h",
            F.when(F.col("in_store").isNotNull(), F.lit("dup_of_store"))
            .when(F.col("doc_id") != F.col("first_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


INCREMENTAL_NEW_DOCS_ORACLE = f"""
WITH hashed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {md5_long_sql("text")} AS h FROM documents
), store AS (
  SELECT DISTINCT h FROM hashed WHERE doc_id % 10 < 7
), batch AS (
  SELECT * FROM hashed WHERE doc_id % 10 >= 7
), canon AS (
  SELECT h, MIN(doc_id) AS first_id FROM batch GROUP BY h
)
SELECT b.doc_id, b.h,
       CASE WHEN s.h IS NOT NULL THEN 'dup_of_store'
            WHEN b.doc_id <> c.first_id THEN 'dup_in_batch'
            ELSE 'new' END AS status
FROM batch b LEFT JOIN store s ON b.h = s.h JOIN canon c ON b.h = c.h
"""


# ---------------------------------------------------------------------------
# Text normalization: the standard pre-tokenization cleanup (lowercase, strip
# non-alphanumerics, collapse whitespace) as ONE narrow codegen projection —
# no shuffle, perfectly splittable, the cheapest possible 100 TB pass.
# ---------------------------------------------------------------------------

def corpus_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " "),
            r"\s+",
            " ",
        )
    )
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        md5_long(norm).alias("norm_hash"),
    )


NORMALIZE_ORACLE = f"""
WITH n AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(LENGTH(text) AS BIGINT) AS n_chars_raw,
         TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id, n_chars_raw, CAST(LENGTH(norm) AS BIGINT) AS n_chars_norm,
       {md5_long_sql("norm")} AS norm_hash
FROM n
"""


# ---------------------------------------------------------------------------
# Global n-gram top-k: explode every bigram occurrence, count, keep the top
# 20. THE textbook heavy shuffle — at 100 TB the win is map-side partial
# aggregation (Spark's hash aggregate combines within each task before the
# exchange, so shuffle volume is ~vocabulary, not ~corpus) plus the
# deterministic (count, ngram) tie-break making top-k a stable set.
# ---------------------------------------------------------------------------

def corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), _TOKEN_RE)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(20)
    )


NGRAM_TOPK_ORACLE = r"""
WITH toks AS (
  SELECT regexp_split_to_array(text, '\s+') AS t FROM documents
), grams AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS ngram
  FROM toks
)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY ngram
ORDER BY n_occurrences DESC, ngram
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate: build the top-K vocabulary from corpus
# frequencies, broadcast it, and measure per-language out-of-vocabulary
# token rates — the tokenizer-coverage evaluation run before committing to
# a vocab size.
#
# Plan (plans/r11/corpus_oov_rate_executed.txt): the token stream is
# aggregated by (lang, w) into `lw`, and `lw` has two consumers. The vocab
# is the top-K of `lw` re-aggregated by w (sum over langs == the global
# count, exactly); the coverage pass joins the broadcast vocab against
# `lw` — vocabulary x language sized — instead of against the raw token
# stream, so n_tokens/n_oov are count-weighted sums of the same exact
# int64s and the output is bit-identical to the per-token form. `lw` is
# not materialized, so the initial plan scans and tokenizes the corpus
# TWICE: one scan + Generate + partial (lang, w) aggregate under each
# consumer. At run time AQE's stage reuse replaces the vocab side's
# (lang, w) exchange with a ReusedExchange of the coverage side's, so that
# subtree executes once.
# ---------------------------------------------------------------------------

VOCAB_K = 20


def corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = d.select("lang", F.explode(F.split(F.col("text"), _TOKEN_RE)).alias("w"))
    lw = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        lw.groupBy("w")
        .agg(F.sum("c").alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(VOCAB_K)
        .select("w")
    )
    flagged = lw.join(F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "w", "left")
    oov_c = F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))
    return (
        flagged.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.sum(oov_c).cast("long").alias("n_oov"),
            F.round(
                F.lit(1000.0) * F.sum(oov_c) / F.sum("c"),
                4,
            ).alias("oov_permille"),
        )
        .orderBy("lang")
    )


OOV_ORACLE = rf"""
WITH toks AS (
  SELECT lang, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents
), vocab AS (
  SELECT w FROM (
    SELECT w, COUNT(*) AS c FROM toks GROUP BY w ORDER BY c DESC, w LIMIT {VOCAB_K}
  )
), flagged AS (
  SELECT t.lang, CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN vocab v USING (w)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       ROUND(1000.0 * SUM(oov) / COUNT(*), 4) AS oov_permille
FROM flagged
GROUP BY lang
ORDER BY lang
"""


# ---------------------------------------------------------------------------
# PMI collocations: pointwise mutual information over adjacent word pairs —
# the classic collocation detector (Church & Hanks), and the statistic
# tokenizer-training pipelines use to find multi-word units worth merging.
# PMI = ln(N * c_xy / (c_x * c_y)). Determinism: the RANKING key is the exact
# rational N*c_xy/(c_x*c_y) computed as one division of exact int64 products
# (correctly rounded -> bit-identical across engines); ln() — which is
# implementation-defined in the last ulp — only ever feeds the ROUND(…,4)
# display column.
#
# Model build is ONE corpus pass (r11, the text_bigram_lm_score move from
# r10): a (x, next-token-or-null) stream aggregated by GROUPING SETS
# ((x), (x, y)) yields unigram counts (every token appears exactly once as
# x; the doc-final token carries a null y sentinel), bigram counts (the
# (x, y) set minus the null-y groups) and N (sum over the unigram set)
# from ONE scan+tokenize+aggregate — replacing the two separate corpus
# tokenize arms (unigram pass + bigram pass) the r10 plan still carried.
# The aggregate is localCheckpoint-materialized for the same reason as
# text_bigram_lm_score: Catalyst pushes each consumer's gid/null filter
# through the aggregate onto the Expand output, specializing the subtrees
# so neither ReusedExchange nor AQE stage reuse fires. The checkpointed
# relation is MODEL-sized (distinct unigrams + distinct bigrams — the same
# rows the previous plan checkpointed for `uni` alone plus the bigram
# aggregate it recomputed), not corpus-sized.
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def corpus_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), _TOKEN_RE)
    # F.get is 0-based and null-on-out-of-bounds (ANSI-safe): element i
    # pairs with its successor; the doc-final token gets a null sentinel.
    pair_stream = d.select(
        F.explode(
            F.transform(
                toks,
                lambda x, i: F.struct(x.alias("x"), F.get(toks, i + 1).alias("y")),
            )
        ).alias("p")
    ).select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
    model = (
        pair_stream.groupingSets([["x"], ["x", "y"]], "x", "y")
        .agg(F.count(F.lit(1)).alias("c"), F.grouping_id().alias("gid"))
        .localCheckpoint(eager=True)
    )
    # gid bit set = column ABSENT from the grouping set: (x) -> 1, (x, y) -> 0
    uni = model.filter(F.col("gid") == 1).select("x", F.col("c"))
    # `or 0`: SUM over an empty corpus is NULL; `big` is then empty too, so
    # the ratio column never evaluates — 0 keeps float() total
    n_tokens = uni.agg(F.sum("c").cast("long")).collect()[0][0] or 0
    big = model.filter(
        (F.col("gid") == 0) & F.col("y").isNotNull() & (F.col("c") >= PMI_MIN_COUNT)
    ).select("x", "y", F.col("c").alias("cxy"))
    # vocabulary is tiny relative to the corpus -> broadcast both unigram legs
    cx = F.broadcast(uni.select("x", F.col("c").alias("cx")))
    cy = F.broadcast(uni.select(F.col("x").alias("y"), F.col("c").alias("cy")))
    ratio = (F.lit(float(n_tokens)) * F.col("cxy")) / (F.col("cx") * F.col("cy")).cast(
        "double"
    )
    return (
        big.join(cx, "x")
        .join(cy, "y")
        .select(
            "x",
            "y",
            F.col("cxy").cast("long").alias("cxy"),
            F.round(F.log(ratio), 4).alias("pmi"),
            ratio.alias("_r"),
        )
        .orderBy(F.desc("_r"), F.asc("x"), F.asc("y"))
        .limit(PMI_TOP_K)
        .drop("_r")
    )


PMI_ORACLE = rf"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents
), uni AS (
  SELECT w, COUNT(*) AS c FROM tok GROUP BY w
), n AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_tokens FROM uni
), grams AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> struct_pack(x := t[i], y := t[i + 1]))) AS p
  FROM (SELECT regexp_split_to_array(text, '\s+') AS t FROM documents)
), big AS (
  SELECT p.x AS x, p.y AS y, COUNT(*) AS cxy FROM grams GROUP BY 1, 2
  HAVING COUNT(*) >= {PMI_MIN_COUNT}
), scored AS (
  SELECT big.x, big.y, big.cxy,
         (n.n_tokens * big.cxy) / CAST(ux.c * uy.c AS DOUBLE) AS r
  FROM big
  JOIN uni ux ON ux.w = big.x
  JOIN uni uy ON uy.w = big.y
  CROSS JOIN n
)
SELECT x, y, CAST(cxy AS BIGINT) AS cxy, ROUND(LN(r), 4) AS pmi
FROM scored
ORDER BY r DESC, x, y
LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# TF-IDF top terms per document: term-frequency agg, document-frequency agg,
# then a per-doc window keeps the 3 highest-scoring terms. Two shuffles
# (doc+term, then term) + one window partitioned by doc — each keyed on a
# uniformly-distributed column, so the plan scales linearly. The float score
# is ranking-internal only; the OUTPUT is exact integers (tf, df, rank), so
# cross-engine hashing never touches a double.
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def corpus_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    n_docs = d.count()  # metadata-cheap on parquet; a literal in the plan
    tf = (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(F.split(F.col("text"), _TOKEN_RE)).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # document-frequency table is VOCABULARY-sized (Heaps' law: ~50k terms
    # per 2.5M docs in this corpus; low millions for web-scale — still MBs):
    # broadcast it explicitly so the tf->score join never shuffles the
    # (doc, term) stream by term — a Zipf head term would otherwise hot-spot
    # the sort-merge side. Measured at sf10: cold first run 16.5 -> 9.7 s
    # (AQE eventually converts the plan anyway; the hint removes the bet).
    dfx = F.broadcast(tf.groupBy("term").agg(F.count(F.lit(1)).alias("df")))
    score = F.col("tf") * F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc(score), F.asc("term"))
    return (
        tf.join(dfx, "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


TFIDF_ORACLE = rf"""
WITH tok AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         unnest(regexp_split_to_array(text, '\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), dfx AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), nd AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
), ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * LN(1.0 + nd.n / dfx.df) DESC, tf.term
         ) AS rank
  FROM tf JOIN dfx USING (term) CROSS JOIN nd
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# Fuzzy dedup: edit-distance verification over prefix-bucketed candidates.
# The shape every fuzzy-key match at scale uses: a cheap blocking key
# (normalized prefix) makes candidate generation an equi-join; the expensive
# exact predicate (levenshtein, JVM built-in) runs only within blocks. A
# 64-char comparison window caps the O(len^2) DP cost per pair.
# ---------------------------------------------------------------------------

FUZZY_PREFIX = 16
FUZZY_WINDOW = 64
FUZZY_MAX_DIST = 5


def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    keyed = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lower(F.substring("text", 1, FUZZY_PREFIX)).alias("block"),
        F.substring("text", 1, FUZZY_WINDOW).alias("win"),
    )
    a = keyed.select(
        F.col("doc_id").alias("a"), "block", F.col("win").alias("wa")
    )
    b = keyed.select(
        F.col("doc_id").alias("b"), "block", F.col("win").alias("wb")
    )
    return (
        a.join(b, "block")
        .filter(F.col("a") < F.col("b"))
        .withColumn("dist", F.levenshtein("wa", "wb").cast("long"))
        .filter(F.col("dist") <= FUZZY_MAX_DIST)
        .select("a", "b", "dist")
    )


FUZZY_ORACLE = f"""
WITH keyed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         LOWER(substr(text, 1, {FUZZY_PREFIX})) AS block,
         substr(text, 1, {FUZZY_WINDOW}) AS win
  FROM documents
)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(levenshtein(x.win, y.win) AS BIGINT) AS dist
FROM keyed x JOIN keyed y ON x.block = y.block AND x.doc_id < y.doc_id
WHERE levenshtein(x.win, y.win) <= {FUZZY_MAX_DIST}
"""


# ---------------------------------------------------------------------------
# Sequence packing: assemble documents into fixed-token-budget training
# sequences — the step right before a pretraining dataloader. Greedy
# sequential fill in deterministic doc_id order: a doc starts the pack its
# running offset falls into (pack_id = floor(prev_cum / budget)).
#
# Scale: the window is partitioned by `source`, NOT global — a single global
# cumulative sum would funnel 100 TB through one sort; per-source (in
# production: per input shard) packing is embarrassingly parallel and is
# what real pipelines do, since pack membership never needs to cross shard
# boundaries. The budget is a power of two so floor(x / 512) is exact in
# double on both engines.
# ---------------------------------------------------------------------------

PACK_TOKEN_BUDGET = 512


def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    n_tok = F.size(F.split(F.col("text"), _TOKEN_RE)).cast("long")
    per_doc = d.select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tok.alias("n_tokens"),
    )
    w = Window.partitionBy("source").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    placed = per_doc.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "pack_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_TOKEN_BUDGET)).cast("long"),
    )
    return (
        placed.groupBy("source", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "pack_id")
    )


PACK_ORACLE = rf"""
WITH per_doc AS (
  SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
         CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT) AS n_tokens
  FROM documents
), placed AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM per_doc
)
SELECT source,
       CAST(FLOOR((cum - n_tokens) / {PACK_TOKEN_BUDGET}) AS BIGINT) AS pack_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM placed
GROUP BY 1, 2
ORDER BY source, pack_id
"""


# ---------------------------------------------------------------------------
# Decontamination: find training documents sharing any word-5-gram with an
# evaluation set (here: doc_id < EVAL_DOCS) — the benchmark-leak check every
# serious pretraining corpus runs. The eval side's distinct shingle set is
# tiny (it's the benchmark, not the corpus), so it broadcasts; the corpus
# side explodes its shingles once and hash-joins — no shuffle of the corpus
# itself, and the per-doc array_distinct keeps the explode output bounded by
# unique shingles per doc.
# ---------------------------------------------------------------------------

SHINGLE_W = 5
EVAL_DOCS = 20


def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), _TOKEN_RE)
    shingles = F.when(
        F.size(toks) >= SHINGLE_W,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (SHINGLE_W - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(F.array_distinct(shingles)).alias("sh"),
    )
    eval_sh = sh.filter(F.col("doc_id") < EVAL_DOCS).select("sh").distinct()
    return (
        sh.filter(F.col("doc_id") >= EVAL_DOCS)
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.min("sh").alias("first_hit"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATE_ORACLE = rf"""
WITH toks AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, regexp_split_to_array(text, '\s+') AS t
  FROM documents
), sh_all AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t) - {SHINGLE_W - 2}),
                               i -> array_to_string(t[i:i + {SHINGLE_W - 1}], ' '))) AS sh
  FROM toks
  WHERE len(t) >= {SHINGLE_W}
), shd AS (
  SELECT DISTINCT doc_id, sh FROM sh_all
), ev AS (
  SELECT DISTINCT sh FROM shd WHERE doc_id < {EVAL_DOCS}
)
SELECT doc_id, COUNT(*) AS n_hits, MIN(sh) AS first_hit
FROM shd JOIN ev USING (sh)
WHERE doc_id >= {EVAL_DOCS}
GROUP BY doc_id
ORDER BY doc_id
"""




# ---------------------------------------------------------------------------
# Heavy hitters, two-pass: per-partition Misra-Gries summaries (bounded
# memory: CAP counters per partition regardless of input size) generate the
# candidate set; a second pass exactly counts ONLY the candidates and filters
# to the true threshold. With CAP = 2*HH_K, any token of global frequency
# > n/HH_K must survive in at least one partition (if it survived nowhere,
# f_i <= n_i/(CAP+1) in every partition i, so f <= n/(CAP+1) < n/HH_K) —
# no false negatives, and the exact second pass removes false positives.
# The OUTPUT is therefore exactly the true heavy-hitter set: approximate
# machinery, exact answer, full hash-oracle. This is the bounded-memory
# plan for "top words in 100 TB" where a full groupBy's intermediate state
# is the bottleneck: pass 1 shuffles CAP rows/partition, pass 2 shuffles
# only candidate-token rows (broadcast-semi-joined at the scan).
# ---------------------------------------------------------------------------

HH_K = 30  # heavy hitter = frequency > n/HH_K (~16 of 31 tokens qualify at sf0.01)
HH_CAP = 2 * HH_K


def corpus_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    d = _spread(_t(spark, sf_dir, "documents"))
    toks = d.select(F.explode(F.split(F.col("text"), _TOKEN_RE)).alias("token"))

    def misra_gries(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for t in pdf["token"]:
                if t in counters:
                    counters[t] += 1
                elif len(counters) < HH_CAP:
                    counters[t] = 1
                else:
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame({"token": list(counters)})

    cands = toks.mapInPandas(misra_gries, "token string").distinct()
    counts = (
        toks.join(F.broadcast(cands), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * HH_K > F.col("n_total"))
        .select("token", F.col("cnt").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
    )


HEAVY_HITTERS_ORACLE = rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(text, '\s+')) AS token FROM documents
), counts AS (
  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token
)
SELECT token, CAST(cnt AS BIGINT) AS cnt
FROM counts
WHERE cnt * {HH_K} > (SELECT COUNT(*) FROM toks)
ORDER BY cnt DESC, token ASC
"""


# ---------------------------------------------------------------------------
# Domain-mixture sampling: downsample each domain (here: lang) so the kept
# corpus approaches a target mixture — the "data mixing" stage every
# pretraining corpus goes through (e.g. weighting web vs books vs code).
# Deterministic hash-threshold Bernoulli: a row survives iff
# md5(doc_id) mod 2^20 < threshold(domain), where the threshold is derived
# with pure integer arithmetic from the target per-mille shares and the
# observed domain counts, scaled to the largest total the most
# under-represented domain allows (downsampling only — no row is ever
# duplicated).
#
# Scale: the observed counts are one partial-aggregated groupBy on a
# low-cardinality key; the thresholds are a broadcast-tiny table; the keep
# decision is a map-side codegen filter — the corpus itself never shuffles.
# The exact-count alternative (per-domain rank by hash, keep first n) costs
# a per-domain sort; at 100 TB the Bernoulli form is the right default and
# its mixture error is O(1/sqrt(n)) per domain.
# ---------------------------------------------------------------------------

MIX_TARGET_PERMILLE: dict[str, int] = {"en": 400, "zh": 250, "de": 150, "es": 100, "fr": 100}
MIX_HASH_MOD = 1 << 20


def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("long").alias("doc_id"), "lang"
    )
    share = F.create_map(*[F.lit(x) for kv in MIX_TARGET_PERMILLE.items() for x in kv])
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")).withColumn(
        "share", F.element_at(share, F.col("lang"))
    )
    # largest achievable total: the most under-represented domain caps it
    cap = counts.agg(F.min(F.floor(F.col("n_docs") * 1000 / F.col("share"))).alias("n_total"))
    thr = (
        counts.crossJoin(F.broadcast(cap))
        .withColumn("n_target", F.floor(F.col("n_total") * F.col("share") / 1000))
        .withColumn("thr", F.floor(F.lit(MIX_HASH_MOD) * F.col("n_target") / F.col("n_docs")))
        .select("lang", "n_docs", "thr")
    )
    kept = (
        d.join(F.broadcast(thr), "lang")
        .filter(md5_long(F.col("doc_id").cast("string")) % MIX_HASH_MOD < F.col("thr"))
    )
    return (
        kept.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .join(thr, "lang")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("thr").cast("long").alias("keep_threshold"),
            F.col("n_kept").cast("long").alias("n_kept"),
        )
    )


_MIX_SHARE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in MIX_TARGET_PERMILLE.items()
) + " END"

MIX_SAMPLE_ORACLE = f"""
WITH d AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
), counts AS (
  SELECT lang, COUNT(*) AS n_docs, {_MIX_SHARE_SQL} AS share FROM d GROUP BY lang
), cap AS (
  SELECT MIN(CAST(floor(n_docs * 1000 / share) AS BIGINT)) AS n_total FROM counts
), thr AS (
  SELECT lang, n_docs,
         CAST(floor({MIX_HASH_MOD} * floor(n_total * share / 1000) / n_docs) AS BIGINT) AS thr
  FROM counts, cap
), kept AS (
  SELECT d.lang FROM d JOIN thr USING (lang)
  WHERE {md5_long_sql('CAST(doc_id AS VARCHAR)')} % {MIX_HASH_MOD} < thr
)
SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, thr AS keep_threshold,
       CAST(COUNT(*) AS BIGINT) AS n_kept
FROM kept JOIN thr USING (lang)
GROUP BY lang, n_docs, thr
"""


# ---------------------------------------------------------------------------
# PII redaction: scrub emails/phone-shaped strings before training — a
# mandatory pass on crawled text. The synthetic corpus contains no PII, so
# the query first injects a deterministic contact line per doc (both engines
# build the identical string), then counts and strips the patterns; the
# md5 of the redacted text proves byte-identical replacement cross-engine.
# Pure codegen projection: no shuffle, no Python — at 100 TB this runs at
# scan speed.
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"
_PHONE_RE = "555-[0-9]+"


def corpus_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call 555-"),
        F.col("doc_id").cast("string"),
    )
    base = d.select(F.col("doc_id").cast("long").alias("doc_id"), synth.alias("t"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return base.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("t"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
        md5_long(redacted).alias("redacted_hash"),
    )


REDACT_ORACLE = f"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com or call 555-' || CAST(doc_id AS VARCHAR) AS t
  FROM documents
), red AS (
  SELECT doc_id, t,
         regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS r
  FROM base
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       CAST(length(r) AS BIGINT) AS redacted_len,
       {md5_long_sql('r')} AS redacted_hash
FROM red
"""


CORPUS_QUERIES = [
    Q(
        "dedup_fuzzy_levenshtein",
        dedup_fuzzy_levenshtein,
        FUZZY_ORACLE,
        "prefix-blocked edit-distance fuzzy dedup",
    ),
    Q(
        "dedup_cluster_canonical",
        dedup_cluster_canonical,
        DEDUP_CLUSTER_ORACLE,
        "LSH pairs -> connected components -> canonical representative",
    ),
    Q(
        "corpus_incremental_new_docs",
        corpus_incremental_new_docs,
        INCREMENTAL_NEW_DOCS_ORACLE,
        "batch-vs-fingerprint-store incremental dedup",
    ),
    Q(
        "corpus_normalize_text",
        corpus_normalize_text,
        NORMALIZE_ORACLE,
        "normalization as one codegen projection",
    ),
    Q(
        "corpus_ngram_topk",
        corpus_ngram_topk,
        NGRAM_TOPK_ORACLE,
        "global bigram top-k (map-side combine)",
    ),
    Q(
        "corpus_oov_rate",
        corpus_oov_rate,
        OOV_ORACLE,
        "top-K vocabulary coverage / OOV rate per language (broadcast vocab)",
    ),
    Q(
        "corpus_pmi_collocations",
        corpus_pmi_collocations,
        PMI_ORACLE,
        "PMI collocation top-k (exact-rational ranking, broadcast unigrams)",
    ),
    Q(
        "corpus_tfidf_top_terms",
        corpus_tfidf_top_terms,
        TFIDF_ORACLE,
        "TF-IDF top terms per doc",
    ),
    Q(
        "corpus_pack_sequences",
        corpus_pack_sequences,
        PACK_ORACLE,
        "greedy per-source sequence packing to a token budget",
    ),
    Q(
        "corpus_decontaminate",
        corpus_decontaminate,
        DECONTAMINATE_ORACLE,
        "eval-set 5-gram contamination check (broadcast semi-join)",
    ),
    Q(
        "corpus_heavy_hitters",
        corpus_heavy_hitters,
        HEAVY_HITTERS_ORACLE,
        "two-pass Misra-Gries heavy hitters (exact output)",
    ),
    Q(
        "corpus_mix_sample",
        corpus_mix_sample,
        MIX_SAMPLE_ORACLE,
        "deterministic hash-Bernoulli domain-mixture downsampling",
    ),
    Q(
        "corpus_redact_pii",
        corpus_redact_pii,
        REDACT_ORACLE,
        "email/phone redaction with cross-engine byte-identity proof",
    ),
]
