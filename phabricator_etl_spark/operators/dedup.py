"""Deduplication operators over ``documents`` / ``embeddings``.

Greenfield LLM-pipeline operators (SURVEY.md §7 Phase 8). Five dedup
families, each a pure-DataFrame pipeline with a DuckDB oracle:

- exact (hash-groupBy)              -> dedup_exact
- n-gram Jaccard (inverted index)   -> dedup_ngram_jaccard
- MinHash + LSH band bucketing      -> dedup_minhash_lsh
- SimHash                           -> dedup_simhash
- embedding cosine near-dup         -> dedup_embedding_cosine

Scale design (the 100 TB story):
- No crossJoin anywhere. Candidate pairs always come from an equi-join on a
  bucket key (text hash, shared shingle, LSH band value, simhash prefix,
  coarse embedding bucket), which Spark executes as a shuffled hash join —
  linear shuffle volume, AQE-splittable if a bucket is hot.
- Pair explosion is bounded before the expensive verify step: candidates are
  deduped on (a, b) with a < b so each unordered pair is checked once.
- All hashing is md5-derived (functions/hashing) for cross-engine parity;
  swap in xxhash64 for production (same plan shape, ~2x cheaper hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..query import Q
from ..session import session_cached
from ..sources.catalog import load_table as _t
from ..functions.hashing import MERSENNE31, MOD30, hash_seeds, md5_long, md5_long_sql

_TOKEN_RE = r"\s+"
_TOKEN_RE_SQL = r"\s+"

NUM_MINHASHES = 8
LSH_ROWS_PER_BAND = 2  # 4 bands of 2 -> catches jaccard >~ 0.5 pairs
MINHASH_MAX_BUCKET = 256  # band-bucket occupancy cap (see dedup_minhash_lsh)
SIMHASH_BITS = 16
COSINE_SCALE = 10_000  # fixed-point quantization for exact integer dot


def _shingles(col: str = "text", n: int = 3) -> F.Column:
    """Word n-gram shingles as strings: tokens joined by a space within a
    sliding window. transform over indices keeps it all in codegen."""
    toks = F.split(F.col(col), _TOKEN_RE)
    k = F.size(toks) - F.lit(n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def _shingles_sql(expr: str = "text", n: int = 3) -> str:
    toks = f"regexp_split_to_array({expr}, '{_TOKEN_RE_SQL}')"
    joined = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 2}), i -> {joined})) "
        f"ELSE [array_to_string({toks}, ' ')] END"
    )


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on content. One shuffle on the 60-bit text hash;
# at 100 TB this is the canonical "group by checksum, keep min id" pass.
# ---------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    hashed = d.select(F.col("doc_id").cast("long").alias("doc_id"), md5_long(F.col("text")).alias("h"))
    canon = hashed.groupBy("h").agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("dup_count"))
    return (
        hashed.join(canon, "h")
        .select(
            "doc_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_canonical"),
            F.col("dup_count").cast("long").alias("dup_count"),
        )
    )


DEDUP_EXACT_ORACLE = f"""
WITH hashed AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {md5_long_sql('text')} AS h FROM documents
), canon AS (
  SELECT h, MIN(doc_id) AS canonical_id, COUNT(*) AS dup_count FROM hashed GROUP BY h
)
SELECT doc_id, canonical_id, doc_id = canonical_id AS is_canonical,
       CAST(dup_count AS BIGINT) AS dup_count
FROM hashed JOIN canon USING (h)
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard via inverted index: explode shingles, self-join on shingle,
# count shared shingles per pair, Jaccard from |A|+|B|-|inter|. The join key
# is the shingle hash — a rare-token index join, not a crossJoin. Frequent
# shingles are the skew risk at scale: cap posting-list length (drop shingles
# appearing in > maxDF docs) exactly like search engines drop stopwords.
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD_X1000 = 300
MAX_SHINGLE_DF = 50  # posting-list cap: shingles in more docs are stopwords


def _spread(d: DataFrame) -> DataFrame:
    """Fan a small scan out across the cluster before CPU-heavy per-row work.

    Parquet row groups are the unit of split: a file written as one row
    group can't be subdivided, so the scan's EFFECTIVE parallelism is
    bounded by the input file count no matter how many (mostly empty)
    partitions Spark carves by byte ranges. Measured at sf10: the 8-file
    embeddings table reported 32 scan partitions but only 8 were non-empty
    (min 0 / max 62500 rows), quietly running every downstream HOF
    projection at 8-way parallelism — the partition COUNT guard alone
    missed it. So the guard checks both signals: planned partitions AND
    distinct input files (``inputFiles()`` is metadata-only, no scan). The
    repartition shuffle moves a few MB; the projection gains full
    parallelism. At 100 TB inputs arrive as thousands of multi-row-group
    files, file count >> cores, and this is a no-op."""
    target = d.sparkSession.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < target:
        return d.repartition(target)
    try:
        nfiles = len(d.inputFiles())
    except Exception:  # non-file source: partition count is the only signal
        return d
    return d.repartition(target) if 0 < nfiles < target else d


@session_cached
def _shingle_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, shingle-hash) inverted-index posting list, built ONCE per
    (session, table) and shared by every consumer (Jaccard, containment —
    and, in production, any other shingle-level analysis). This is the real
    pipeline shape: the index is a staged artifact, not something each query
    re-derives — same memoization policy as the bucketed-table and
    sorted-stage fixtures. localCheckpoint pins it in block storage; the
    cache also saves the per-query explode+md5 pass that previously ran
    identically in two queries."""
    d = _spread(_t(spark, sf_dir, "documents"))
    return (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(_shingles()).alias("shingle"),
        )
        .select("doc_id", md5_long(F.col("shingle")).alias("sh"))
        .localCheckpoint(eager=True)
    )


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # shared posting-list index: feeds three consumers here (sizes, df cap,
    # pair join) and the containment query
    sh = _shingle_postings(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    df_cap = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= MAX_SHINGLE_DF)
    sh_kept = sh.join(df_cap.select("sh"), "sh")
    a = sh_kept.select(F.col("doc_id").alias("a"), "sh")
    b = sh_kept.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn(
            "jaccard_x1000",
            F.round(F.lit(1000.0) * F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))).cast("long"),
        )
        .filter(F.col("jaccard_x1000") >= JACCARD_THRESHOLD_X1000)
        .select("a", "b", "jaccard_x1000")
    )


DEDUP_JACCARD_ORACLE = f"""
WITH sh0 AS (
  SELECT doc_id, {md5_long_sql('shingle')} AS sh
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_shingles_sql()}) AS shingle FROM documents)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh0 GROUP BY doc_id
), df_cap AS (
  SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), kept AS (
  SELECT sh0.* FROM sh0 JOIN df_cap USING (sh)
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b,
       CAST(round(1000.0 * inter / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_x1000
FROM inter
JOIN sizes sa ON sa.doc_id = a
JOIN sizes sb ON sb.doc_id = b
WHERE round(1000.0 * inter / (sa.sz + sb.sz - inter)) >= {JACCARD_THRESHOLD_X1000}
"""


# ---------------------------------------------------------------------------
# MinHash + LSH: k min-hashes per doc from a seeded hash family over the
# shingle set (array_min over transform — no explode, no shuffle for the
# signature); band values join docs into candidate buckets; verify step
# recomputes exact signature agreement. At 100 TB the signature pass is
# embarrassingly parallel and the only shuffle is the band-bucket join.
# ---------------------------------------------------------------------------

def _seeded(a: int, b: int):
    # single-arg lambda factory (default args would change the HOF arity);
    # operates on the PRE-HASHED shingle value so md5 runs once per shingle,
    # not once per (shingle, seed) — an 8x reduction in hashing work
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE31)


def _minhash_cols() -> list[F.Column]:
    return [
        F.array_min(F.transform(F.col("hs"), _seeded(a, b))).alias(f"mh{i}")
        for i, (a, b) in enumerate(hash_seeds(NUM_MINHASHES))
    ]


def _minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized (doc_id, mh0..mhN) signature table — the expensive seeded
    array_min passes run once; every consumer (banding explode, both verify
    sides, the incremental store/batch split) reads the checkpointed rows."""
    d = _spread(_t(spark, sf_dir, "documents"))
    return (
        d.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.transform(_shingles(), lambda s: md5_long(s) % F.lit(MOD30)).alias("hs"),
        )
        .select("doc_id", *_minhash_cols())
        .localCheckpoint(eager=True)
    )


def _band_cols() -> list[F.Column]:
    """(band, bv) structs: each band folds its LSH_ROWS_PER_BAND minhashes
    into one 40-bit value with a 31x polynomial roll."""
    n_bands = NUM_MINHASHES // LSH_ROWS_PER_BAND
    band_cols = []
    for bi in range(n_bands):
        parts = [F.col(f"mh{bi * LSH_ROWS_PER_BAND + j}") for j in range(LSH_ROWS_PER_BAND)]
        bv = parts[0]
        for p in parts[1:]:
            bv = (bv * F.lit(31) + p) % F.lit(1 << 40)
        band_cols.append(F.struct(F.lit(bi).alias("band"), bv.alias("bv")))
    return band_cols


def _banded(sig: DataFrame) -> DataFrame:
    return sig.select("doc_id", F.explode(F.array(*_band_cols())).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv")
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_sig(spark, sf_dir)
    banded = _banded(sig)
    # Occupancy cap BEFORE the band self-join (same defense as
    # dedup_embedding_neardup's COS_MAX_BUCKET): min-hashes concentrate on
    # the globally-commonest shingles, so on a large Zipf corpus a few band
    # values collect THOUSANDS of documents and the uncapped join goes
    # quadratic inside them (measured: 9.6 s -> 99.9 s for sf3 -> sf10).
    # A bucket over the cap is pure noise — membership driven by head
    # shingles, not similarity; true near-dup pairs still collide in their
    # other, discriminating bands. Per-key fan-out is bounded by
    # MINHASH_MAX_BUCKET² regardless of corpus size.
    occ = (
        banded.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") <= MINHASH_MAX_BUCKET)
        .select("band", "bv")
    )
    kept = banded.join(occ, ["band", "bv"])
    cand = (
        kept.alias("x")
        .join(kept.alias("y"), ["band", "bv"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    # verify: estimated jaccard = fraction of agreeing minhashes
    siga = sig.select(F.col("doc_id").alias("a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_MINHASHES)])
    sigb = sig.select(F.col("doc_id").alias("b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_MINHASHES)])
    agree = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(NUM_MINHASHES))
    return (
        cand.join(siga, "a")
        .join(sigb, "b")
        .select("a", "b", agree.cast("long").alias("minhash_agree"))
        .filter(F.col("minhash_agree") * 2 >= NUM_MINHASHES)
    )


def _minhash_lsh_oracle() -> str:
    seeds = hash_seeds(NUM_MINHASHES)
    mh = ",\n         ".join(
        f"list_min(list_transform(shingles, s -> ({a} * ({md5_long_sql('s')} % {MOD30}) + {b}) % {MERSENNE31})) AS mh{i}"
        for i, (a, b) in enumerate(seeds)
    )
    n_bands = NUM_MINHASHES // LSH_ROWS_PER_BAND
    band_rows = []
    for bi in range(n_bands):
        parts = [f"mh{bi * LSH_ROWS_PER_BAND + j}" for j in range(LSH_ROWS_PER_BAND)]
        bv = parts[0]
        for p in parts[1:]:
            bv = f"(({bv}) * 31 + {p}) % {1 << 40}"
        band_rows.append(f"SELECT doc_id, {bi} AS band, {bv} AS bv FROM sig")
    banded = "\nUNION ALL\n".join(band_rows)
    agree = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(NUM_MINHASHES))
    return f"""
WITH sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {mh}
  FROM (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents)
), banded0 AS (
{banded}
), banded AS (
  SELECT doc_id, band, bv FROM (
    SELECT doc_id, band, bv, COUNT(*) OVER (PARTITION BY band, bv) AS occ FROM banded0
  ) WHERE occ <= {MINHASH_MAX_BUCKET}
), cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
)
SELECT a, b, CAST({agree} AS BIGINT) AS minhash_agree
FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
WHERE ({agree}) * 2 >= {NUM_MINHASHES}
"""


DEDUP_MINHASH_ORACLE = _minhash_lsh_oracle()


# ---------------------------------------------------------------------------
# Incremental near-dup dedup against a persisted signature store: the
# production shape for a training pipeline that ingests batches continuously.
# The historical corpus is NEVER re-scanned — its (band, bv) index is the
# state table (here: the doc_id%10<7 split, materialized; in production a
# parquet/Delta table keyed by (band, bv)). A new batch is shingled, banded,
# and equi-joined against that index (work O(batch), independent of corpus
# size given the occupancy cap) plus against itself for intra-batch dups.
# Complements corpus_incremental_new_docs, which is the EXACT-hash version
# of the same protocol.
# ---------------------------------------------------------------------------

INCR_STORE_MOD, INCR_STORE_CUT = 10, 7  # store = doc_id % 10 < 7 (as exact-incr)


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _minhash_sig(spark, sf_dir)
    banded = _banded(sig)
    is_store = (F.col("doc_id") % INCR_STORE_MOD) < INCR_STORE_CUT
    # store-side index with bucket-occupancy hygiene (state-table analog of
    # dedup_minhash_lsh's cap: a bucket the head shingles fill is noise)
    store_b = banded.filter(is_store)
    store_occ = (
        store_b.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") <= MINHASH_MAX_BUCKET)
        .select("band", "bv")
    )
    store_idx = store_b.join(store_occ, ["band", "bv"])
    batch_b = banded.filter(~is_store)
    batch_occ = (
        batch_b.groupBy("band", "bv")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") <= MINHASH_MAX_BUCKET)
        .select("band", "bv")
    )
    batch_kept = batch_b.join(batch_occ, ["band", "bv"])

    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(NUM_MINHASHES)
    )
    siga = sig.select(F.col("doc_id").alias("a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_MINHASHES)])
    sigb = sig.select(F.col("doc_id").alias("b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_MINHASHES)])

    # cross-generation probe: batch bands against the store index (id-only
    # candidates; signatures join back once per side for the verify)
    store_cand = (
        batch_b.alias("x")
        .join(store_idx.alias("s"), ["band", "bv"])
        .select(F.col("x.doc_id").alias("a"), F.col("s.doc_id").alias("b"))
        .distinct()
    )
    store_hits = (
        store_cand.join(siga, "a").join(sigb, "b")
        .filter(agree * 2 >= NUM_MINHASHES)
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("nsm"))
    )
    # intra-batch near-dups: a doc is a dup only of an EARLIER (smaller-id)
    # batch doc — the same canonical rule as the exact-hash incremental pass
    batch_cand = (
        batch_kept.alias("x")
        .join(batch_kept.alias("y"), ["band", "bv"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    batch_hits = (
        batch_cand.join(siga, "a").join(sigb, "b")
        .filter(agree * 2 >= NUM_MINHASHES)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("nbp"))
    )
    batch_docs = sig.filter(~is_store).select("doc_id")
    return (
        batch_docs
        .join(store_hits.withColumnRenamed("a", "doc_id"), "doc_id", "left")
        .join(batch_hits.withColumnRenamed("b", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nsm"), F.lit(0)).cast("long").alias("n_store_matches"),
            F.coalesce(F.col("nbp"), F.lit(0)).cast("long").alias("n_batch_prior"),
            F.when(F.coalesce(F.col("nsm"), F.lit(0)) > 0, F.lit("neardup_of_store"))
            .when(F.coalesce(F.col("nbp"), F.lit(0)) > 0, F.lit("neardup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
        )
    )


def _incremental_minhash_oracle() -> str:
    seeds = hash_seeds(NUM_MINHASHES)
    mh = ",\n         ".join(
        f"list_min(list_transform(shingles, s -> ({a} * ({md5_long_sql('s')} % {MOD30}) + {b}) % {MERSENNE31})) AS mh{i}"
        for i, (a, b) in enumerate(seeds)
    )
    n_bands = NUM_MINHASHES // LSH_ROWS_PER_BAND
    band_rows = []
    for bi in range(n_bands):
        parts = [f"mh{bi * LSH_ROWS_PER_BAND + j}" for j in range(LSH_ROWS_PER_BAND)]
        bv = parts[0]
        for p in parts[1:]:
            bv = f"(({bv}) * 31 + {p}) % {1 << 40}"
        band_rows.append(f"SELECT doc_id, {bi} AS band, {bv} AS bv FROM sig")
    banded = "\nUNION ALL\n".join(band_rows)
    agree = " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(NUM_MINHASHES))
    return f"""
WITH sig AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         {mh}
  FROM (SELECT doc_id, {_shingles_sql()} AS shingles FROM documents)
), banded AS (
{banded}
), store_idx AS (
  SELECT doc_id, band, bv FROM (
    SELECT doc_id, band, bv, COUNT(*) OVER (PARTITION BY band, bv) AS occ
    FROM banded WHERE doc_id % {INCR_STORE_MOD} < {INCR_STORE_CUT}
  ) WHERE occ <= {MINHASH_MAX_BUCKET}
), batch_b AS (
  SELECT doc_id, band, bv FROM banded WHERE doc_id % {INCR_STORE_MOD} >= {INCR_STORE_CUT}
), batch_kept AS (
  SELECT doc_id, band, bv FROM (
    SELECT doc_id, band, bv, COUNT(*) OVER (PARTITION BY band, bv) AS occ FROM batch_b
  ) WHERE occ <= {MINHASH_MAX_BUCKET}
), store_hits AS (
  SELECT a, COUNT(*) AS nsm FROM (
    SELECT DISTINCT x.doc_id AS a, s.doc_id AS b
    FROM batch_b x JOIN store_idx s ON x.band = s.band AND x.bv = s.bv
  ) JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
  WHERE ({agree}) * 2 >= {NUM_MINHASHES}
  GROUP BY a
), batch_hits AS (
  SELECT b, COUNT(*) AS nbp FROM (
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM batch_kept x JOIN batch_kept y ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id
  ) JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
  WHERE ({agree}) * 2 >= {NUM_MINHASHES}
  GROUP BY b
)
SELECT d.doc_id,
       CAST(COALESCE(sh.nsm, 0) AS BIGINT) AS n_store_matches,
       CAST(COALESCE(bh.nbp, 0) AS BIGINT) AS n_batch_prior,
       CASE WHEN COALESCE(sh.nsm, 0) > 0 THEN 'neardup_of_store'
            WHEN COALESCE(bh.nbp, 0) > 0 THEN 'neardup_in_batch'
            ELSE 'new' END AS status
FROM (SELECT doc_id FROM sig WHERE doc_id % {INCR_STORE_MOD} >= {INCR_STORE_CUT}) d
LEFT JOIN store_hits sh ON sh.a = d.doc_id
LEFT JOIN batch_hits bh ON bh.b = d.doc_id
"""


DEDUP_INCR_MINHASH_ORACLE = _incremental_minhash_oracle()


# ---------------------------------------------------------------------------
# SimHash: 16-bit signature; bit j is the sign of sum over tokens of
# (+1 / -1) depending on bit j of the token hash. Expressed as 16 aggregate
# expressions over the token array — single projection, no shuffle.
# ---------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _spread(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), _TOKEN_RE)
    base = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.transform(toks, lambda t: md5_long(t)).alias("hs"),
    )
    def _bit_sum(j: int):
        # two-arg (acc, element) lambda factory; a j=j default would make it 3-ary
        return lambda acc, h: acc + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)

    bit_sums = [
        F.aggregate(F.col("hs"), F.lit(0).cast("long"), _bit_sum(j))
        for j in range(SIMHASH_BITS)
    ]
    simhash = sum(
        (F.when(bs >= 0, F.lit(1 << j)).otherwise(F.lit(0)) for j, bs in enumerate(bit_sums)),
        start=F.lit(0),
    )
    return base.select("doc_id", simhash.cast("long").alias("simhash16"))


def _simhash_oracle() -> str:
    bits = []
    for j in range(SIMHASH_BITS):
        bs = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), hs), "
            f"(acc, h) -> acc + CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)"
        )
        bits.append(f"CASE WHEN {bs} >= 0 THEN {1 << j} ELSE 0 END")
    total = " + ".join(bits)
    return f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST({total} AS BIGINT) AS simhash16
FROM (
  SELECT doc_id,
         list_transform(regexp_split_to_array(text, '{_TOKEN_RE_SQL}'), t -> {md5_long_sql('t')}) AS hs
  FROM documents
)
"""


DEDUP_SIMHASH_ORACLE = _simhash_oracle()


# ---------------------------------------------------------------------------
# Embedding cosine near-dup: fixed-point quantized dot product (exact integer
# math, bit-identical across engines). Candidates come from MULTI-BAND
# sign-bit buckets (the same banded hyperplane-LSH construction as
# similarity.ann_lsh_bucket).
#
# History (r5 verdict #3): through round 5 this entry ran a 0.3 demo
# threshold over 12x4-bit bands — correct and cheap at driver SFs, but
# structurally small-SF-only, for two measured reasons (SCALE_BENCH r5):
#   1. with 4-bit keys every band has 16 buckets, so bucket occupancy is
#      n/16 and candidate volume is Theta(n^2) REGARDLESS of data;
#   2. at cos >= 0.3 on random unit vectors ~0.75% of ALL pairs qualify, so
#      the OUTPUT itself is Theta(n^2) — no plan can beat its own answer.
# No fixed sub-max threshold fixes (2) on this corpus: the driver embeddings
# are spread (max observed pairwise cosine ~0.6), so any threshold that
# produces output at all admits a FIXED fraction of random pairs — output
# Theta(n^2) by construction. Round 6 therefore FOLDED the demo entry into
# the production pipeline below (the r5-sanctioned option): the gate name
# `dedup_embedding_cosine` is frozen (GATE_PRIORITY), so it now runs the
# production parameters, and `dedup_embedding_neardup` (added round 5,
# outside the frozen window) remains as an alias rather than a duplicate
# registry row. On the driver's dup-free testdata the result is empty —
# the honest answer; recall is proven on injected-duplicate corpora
# (tests/test_clustering.py) and the scale fixtures, whose generators plant
# true near-dups, exercise real output volume at sf1..sf10.
#
# This is the shape you deploy at 100 TB: 16-bit band keys (finer
# buckets: occupancy n/65536 on random data; a true near-dup at cos >= 0.95
# differs in at most a few sign bits, so it still collides in >= 1 of the 4
# bands with good probability — measured recall in tests/test_clustering),
# an occupancy CAP on over-full buckets (a bucket holding > COS_MAX_BUCKET
# vectors means that band carries ~no information there — same reasoning,
# and same plan shape, as the MAX_SHINGLE_DF posting cap), and a 0.95
# threshold where output volume is proportional to true duplication, not
# corpus size squared. The cap is part of the SEMANTICS and mirrored in the
# oracle, so Spark and DuckDB agree at every SF by construction.
# ---------------------------------------------------------------------------

COS_STRICT_BITS = 16
COS_STRICT_BANDS = 4  # 4 disjoint 16-dim slices cover all 64 dims
COS_MAX_BUCKET = 500  # occupancy cap: over-full sign buckets are dropped
COSINE_STRICT_X1E8 = 95_000_000  # cos >= 0.95 at scale 1e8


def _quantize(col: F.Column) -> F.Column:
    return F.transform(col, lambda x: F.round(x.cast("double") * COSINE_SCALE).cast("long"))


def _strict_bucket(qcol: F.Column, band: int) -> F.Column:
    bucket = F.lit(0)
    for j in range(COS_STRICT_BITS):
        dim = band * COS_STRICT_BITS + j + 1
        bucket = bucket + F.when(F.element_at(qcol, dim) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


# Coarse grouping for the bucket-local verify: 2^COS_GROUP_SHIFT true
# buckets share one applyInPandas group (inner pandas groupby splits them
# back), trading per-group Arrow overhead (4*65536 tiny groups otherwise)
# against group width. Semantics-free: pairs still form only inside a true
# (band, bucket). Tuned by same-day A/B (shift 6/8/10): at sf30 the three
# settings are statistically indistinguishable (18-22 s, +-20% day noise),
# but at sf0.1 the 4096-group fan-out of shift 6 costs ~4.4 s of pure
# Arrow per-group overhead on 20k postings (6.5 -> 2.1 s at shift 10), so
# the coarse end wins: 64 groups/band are still 8x the executor threads.
#
# Per-group MEMORY bound (r6 ADVICE): one applyInPandas group materializes
# ~N / 2^(16 - shift) postings (N = corpus size; postings hash-spread
# uniformly over the 2^16 buckets, 2^(16-shift) groups per band), each
# carrying a 64-dim int64 vector ≈ 520 B ⇒ group bytes ≈ N·520 / 2^(16-shift).
# At shift 10 that is ~80 MB per group at N = 10M — comfortably inside one
# executor task — but ~8 GB at N = 1B. Past ~100M vectors, lower the shift
# one step per 4x corpus growth (shift 8 at 100M ≈ 200 MB/group) or raise
# COS_STRICT_BITS, which shrinks occupancy AND group width together; the
# grouping is verify-local only, so any shift value is output-identical.
COS_GROUP_SHIFT = 10


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verify-where-the-postings-live (r6 rework, output-identical).

    The previous plan generated id-only candidate pairs from the band
    equi-join, dedup'd them, then joined the quantized vectors back in ONCE
    PER SIDE — at sf30 that vector fetch shuffles ~2 x |pairs| x 520 B
    (~28 GB for 54M random-collision pairs: candidates grow n²/2^bits once
    bucket occupancy n/65536 outruns the collision constant), measured 6.0x
    on the 3.0x-linear sf10->sf30 step. This form ships each posting's
    vector ONCE into a (band, bucket) group — shuffle O(|postings| x width),
    3 GB at sf30 — and verifies inside the group with one int64 Gram matmul,
    emitting only threshold survivors; the final distinct sees survivors
    (output-sized), not candidates. The occupancy cap becomes a group-size
    check (identical semantics: an over-full bucket contributes nothing).
    The einsum verify work is still Σ occ² — inherent to banding at fixed
    bits; COS_STRICT_BITS is the dial that keeps occupancy constant as the
    corpus grows (16 bits ~ fine to ~10M vectors at cap 500)."""
    import numpy as np
    import pandas as pd

    e = _spread(_t(spark, sf_dir, "embeddings"))
    q = e.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _quantize(F.col("embedding")).alias("qe"),
    )
    return _cosine_survivor_pipeline(q)


def _cosine_survivor_pipeline(q: DataFrame) -> DataFrame:
    """Banded sign-bucket verify over (vec_id, qe) — the shared core of
    dedup_embedding_cosine and its injected-near-dup sibling."""
    import numpy as np
    import pandas as pd

    buckets = F.array(*[_strict_bucket(F.col("qe"), t) for t in range(COS_STRICT_BANDS)])
    long = q.select(
        "vec_id", "qe", F.posexplode(buckets).alias("band", "bucket")
    ).withColumn("grp", F.shiftright("bucket", COS_GROUP_SHIFT))

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        frames = []
        for _, g in pdf.groupby("bucket", sort=False):
            n = len(g)
            if n < 2 or n > COS_MAX_BUCKET:
                continue  # singleton or capped-out bucket: no pairs
            ids = g["vec_id"].to_numpy(dtype=np.int64)
            v = np.vstack(g["qe"].to_numpy()).astype(np.int64)
            gram = v @ v.T
            i, j = np.triu_indices(n, k=1)
            hit = gram[i, j] >= COSINE_STRICT_X1E8
            if not hit.any():
                continue
            ai, bj = ids[i[hit]], ids[j[hit]]
            frames.append(
                pd.DataFrame(
                    {
                        "a": np.minimum(ai, bj),
                        "b": np.maximum(ai, bj),
                        "dot_q": gram[i[hit], j[hit]],
                    }
                )
            )
        if not frames:
            return pd.DataFrame({"a": pd.Series(dtype="int64"),
                                 "b": pd.Series(dtype="int64"),
                                 "dot_q": pd.Series(dtype="int64")})
        return pd.concat(frames)

    survivors = long.groupBy("band", "grp").applyInPandas(
        _verify, "a long, b long, dot_q long"
    )
    # a pair can survive in several bands with the SAME exact dot — dedup
    # the (output-sized) survivor set, not the candidate set
    return survivors.distinct()


# Backward-compat alias: `dedup_embedding_neardup` was the round-5 name for
# the production pipeline while the gate entry still ran the 0.3 demo
# parameters; round 6 folded them (see the section comment above).
dedup_embedding_neardup = dedup_embedding_cosine


# Injected-near-dup sibling (r6 verdict #6): the driver-gate corpus is
# dup-free by construction, so dedup_embedding_cosine's value hash
# certifies an EMPTY survivor set; this entry makes the hash cover real
# survivor pairs. Every COS_INJECT_MOD-th vector is cloned at
# vec_id + COS_INJECT_OFFSET with each quantized component's MAGNITUDE
# grown ~1% (x + abs(x) div 100 — truncating div agrees between Spark and
# DuckDB, and the sign never flips, so the clone shares all four sign
# buckets with its source and must surface as a candidate unless its
# bucket is occupancy-capped). The identical pipeline then runs on the
# augmented corpus.
COS_INJECT_MOD = 20
COS_INJECT_OFFSET = 10_000_000
_COS_PERTURB_SPARK = "transform(qe, x -> x + (abs(x) div 100))"
_COS_PERTURB_SQL = "list_transform(qe, x -> x + (abs(x) // 100))"


def dedup_embedding_cosine_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _spread(_t(spark, sf_dir, "embeddings"))
    q = e.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        _quantize(F.col("embedding")).alias("qe"),
    )
    clones = q.filter(F.col("vec_id") % COS_INJECT_MOD == 0).select(
        (F.col("vec_id") + F.lit(COS_INJECT_OFFSET)).alias("vec_id"),
        F.expr(_COS_PERTURB_SPARK).alias("qe"),
    )
    return _cosine_survivor_pipeline(q.unionByName(clones))


def _strict_band_sql(t: int) -> str:
    return " + ".join(
        f"CASE WHEN qe[{t * COS_STRICT_BITS + j + 1}] >= 0 THEN {1 << j} ELSE 0 END"
        for j in range(COS_STRICT_BITS)
    )


_STRICT_LONG_SQL = "\nUNION ALL\n".join(
    f"SELECT vec_id, qe, {t} AS band, {_strict_band_sql(t)} AS bucket FROM q"
    for t in range(COS_STRICT_BANDS)
)

_COS_BASE_Q_SQL = f"""
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {COSINE_SCALE}) AS BIGINT)) AS qe
  FROM embeddings
"""


def _cosine_oracle(q_sql: str) -> str:
    return f"""
WITH q AS ({q_sql}), long AS ({_STRICT_LONG_SQL}),
occ AS (
  SELECT band, bucket FROM long GROUP BY band, bucket HAVING COUNT(*) <= {COS_MAX_BUCKET}
), kept AS (
  SELECT l.vec_id, l.qe, l.band, l.bucket FROM long l JOIN occ USING (band, bucket)
),
cands AS (
  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b, x.qe AS qa, y.qe AS qb
  FROM kept x JOIN kept y ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id
)
SELECT a, b,
       CAST(list_sum(list_transform(range(1, len(qa) + 1), i -> qa[i] * qb[i])) AS BIGINT) AS dot_q
FROM cands
WHERE list_sum(list_transform(range(1, len(qa) + 1), i -> qa[i] * qb[i])) >= {COSINE_STRICT_X1E8}
"""


DEDUP_COSINE_ORACLE = _cosine_oracle(_COS_BASE_Q_SQL)

DEDUP_COSINE_INJECTED_ORACLE = _cosine_oracle(
    f"""
  WITH base AS ({_COS_BASE_Q_SQL})
  SELECT vec_id, qe FROM base
  UNION ALL
  SELECT vec_id + {COS_INJECT_OFFSET}, {_COS_PERTURB_SQL}
  FROM base WHERE vec_id % {COS_INJECT_MOD} = 0
"""
)



# ---------------------------------------------------------------------------
# Asymmetric containment: |shingles(A) ∩ shingles(B)| / |shingles(A)| — the
# "is A quoted inside B" measure (Broder's containment, the public resemblance
# /containment pair). Jaccard misses a short doc embedded in a long one (the
# union term swamps it); containment is the right detector for boilerplate
# inclusion and quote-expansion dedup. Same inverted-index + posting-cap plan
# as dedup_ngram_jaccard — ORDERED pairs instead of unordered, denominator is
# the contained side only.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD_X1000 = 600


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_postings(spark, sf_dir)  # shared index, see _shingle_postings
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    df_cap = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= MAX_SHINGLE_DF)
    sh_kept = sh.join(df_cap.select("sh"), "sh")
    a = sh_kept.select(F.col("doc_id").alias("a"), "sh")
    b = sh_kept.select(F.col("doc_id").alias("b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a") != F.col("b"))  # ordered pairs: containment is directed
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza")), "a")
        .withColumn(
            "containment_x1000",
            F.round(F.lit(1000.0) * F.col("inter") / F.col("sza")).cast("long"),
        )
        .filter(F.col("containment_x1000") >= CONTAINMENT_THRESHOLD_X1000)
        .select("a", "b", "containment_x1000")
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH sh0 AS (
  SELECT doc_id, {md5_long_sql('shingle')} AS sh
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_shingles_sql()}) AS shingle FROM documents)
), sizes AS (
  SELECT doc_id, COUNT(*) AS sz FROM sh0 GROUP BY doc_id
), df_cap AS (
  SELECT sh FROM sh0 GROUP BY sh HAVING COUNT(*) <= {MAX_SHINGLE_DF}
), kept AS (
  SELECT sh0.* FROM sh0 JOIN df_cap USING (sh)
), inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
  FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id <> y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, CAST(round(1000.0 * inter / sa.sz) AS BIGINT) AS containment_x1000
FROM inter JOIN sizes sa ON sa.doc_id = a
WHERE round(1000.0 * inter / sa.sz) >= {CONTAINMENT_THRESHOLD_X1000}
"""


# ---------------------------------------------------------------------------
# Novelty rate: the share of a document's shingles that appear NOWHERE else
# in the corpus (df == 1) — high novelty = unique content worth keeping,
# low novelty = assembled from common fragments (template/boilerplate risk);
# the complement of the dedup signals above. One more consumer of the shared
# posting index: df table + per-doc tally, no new corpus scan.
# ---------------------------------------------------------------------------


def corpus_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingle_postings(spark, sf_dir)
    dfx = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfx, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).cast("long").alias("n_unique"),
            F.round(
                F.lit(1000.0) * F.sum((F.col("df") == 1).cast("long")) / F.count(F.lit(1))
            )
            .cast("long")
            .alias("novelty_x1000"),
        )
        .orderBy("doc_id")
    )


NOVELTY_ORACLE = f"""
WITH sh0 AS (
  SELECT doc_id, {md5_long_sql('shingle')} AS sh
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id, unnest({_shingles_sql()}) AS shingle FROM documents)
), dfx AS (
  SELECT sh, COUNT(*) AS df FROM sh0 GROUP BY sh
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN dfx.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(ROUND(1000.0 * SUM(CASE WHEN dfx.df = 1 THEN 1 ELSE 0 END) / COUNT(*)) AS BIGINT)
         AS novelty_x1000
FROM sh0 s JOIN dfx USING (sh)
GROUP BY s.doc_id
ORDER BY s.doc_id
"""


DEDUP_QUERIES = [
    Q("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE, "exact hash-groupBy dedup"),
    Q("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_JACCARD_ORACLE, "inverted-index n-gram Jaccard"),
    Q("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_ORACLE, "MinHash + LSH banding"),
    Q(
        "dedup_incremental_minhash",
        dedup_incremental_minhash,
        DEDUP_INCR_MINHASH_ORACLE,
        "near-dup batch probe against a persisted MinHash band index (incremental dedup)",
    ),
    Q("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_ORACLE, "16-bit SimHash signatures"),
    Q(
        "dedup_embedding_cosine",
        dedup_embedding_cosine,
        DEDUP_COSINE_ORACLE,
        "production cosine near-dup (16-bit bands, occupancy cap, cos>=0.95; "
        "r6 fold of the former 0.3-threshold demo and dedup_embedding_neardup)",
    ),
    Q(
        "dedup_embedding_cosine_injected",
        dedup_embedding_cosine_injected,
        DEDUP_COSINE_INJECTED_ORACLE,
        "same cosine pipeline over a deterministically injected near-dup "
        "corpus — the value hash certifies NON-EMPTY survivor pairs "
        "(the gate corpus itself is dup-free)",
    ),
    Q("dedup_containment", dedup_containment, DEDUP_CONTAINMENT_ORACLE, "directed shingle containment (quote/boilerplate inclusion)"),
    Q("corpus_novelty_rate", corpus_novelty_rate, NOVELTY_ORACLE, "per-doc share of corpus-unique shingles (shared posting index)"),
]
