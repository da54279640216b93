"""Product quantization (PQ) ANN: codebooks, ADC scoring, exact re-rank.

The remaining member of the large-scale ANN family (brute force, hyperplane
LSH, IVF-flat, IVF-kmeans live in operators/similarity.py / clustering.py):
Jegou et al.'s "Product Quantization for Nearest Neighbor Search" re-expressed
Spark-first.

Pipeline:
1. TRAIN  — split the 64-dim space into PQ_M=4 sub-spaces of 16 dims; fit a
   PQ_K=16-centroid k-means codebook per sub-space (reusing
   operators/clustering.kmeans_fit, which is deterministic: init = lowest
   vec_ids, first-min tie-break).
2. ENCODE — ONE Arrow `mapInPandas` pass over the corpus with all four
   codebooks on a broadcast variable: each vector becomes 4 small ints.
   This is the 100 TB payoff: the index the search touches is 4 codes per
   vector (log2(16)*4 = 16 BITS of payload), not 64 floats — a ~128x
   shrink of everything downstream of the scan.
3. SCORE  — per (query, sub-space) lookup tables of inner products
   (PQ_K entries each; the model, not data) ride a broadcast 1-row-per-query
   table; ADC score = sum of 4 `element_at` lookups — a codegen projection
   over the CODES table. The raw corpus is never shuffled and never read
   again.
4. RE-RANK — the top PQ_RERANK ADC candidates per query (a few dozen ids)
   join back to the quantized-int vector table for an EXACT dot-product
   re-rank, emitting the final top-5 in the same (query_id, cand_id, dot_q,
   rank) shape as ann_topk_bruteforce so recall is directly measurable.

Value-hash gated (VERDICT r4 #3): with the integer-exact Lloyd in
operators/clustering.py, all four codebooks, the encoding, the ADC
shortlist, and the exact re-rank are order-free int64 arithmetic that the
DuckDB oracle reproduces bit-for-bit (4 sub-space fits as prefixed
unrolled-CTE blocks). Codebooks train/encode in the non-negative SHIFTED
space (+OFFSET_Q — assignment is translation-invariant); the ADC
inner-product LUT uses the UNSHIFTED centroids (dot products are NOT
translation-invariant), i.e. cq - OFFSET_Q, against the unshifted
quantized queries. Accuracy is additionally certified by
tests/test_quantization.py: recall@5 vs the exact brute-force truth, plus
end-to-end determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..query import Q
from ..session import session_cached
from ..sources.catalog import load_table as _t
from .clustering import OFFSET_Q, _VECS_SQL as _SHIFTED_SQL, _fit_sql, _vectors as _vectors_shifted, kmeans_fit
from .similarity import COSINE_SCALE, N_QUERIES, TOP_K, _dot, _quantized
from .similarity import _QUANT_SQL

PQ_M = 4  # sub-spaces
PQ_K = 16  # codes per sub-space
PQ_RERANK = 12 * TOP_K  # ADC shortlist size fed to the exact re-rank
# Codebooks train on a bounded DETERMINISTIC sample (vec_id % stride == 0,
# stride = ceil(n / cap)): training cost is constant in corpus size — the
# standard PQ practice (Jegou et al. train on ~100k vectors regardless of
# index size) and the reason ann_pq_adc scales linearly (encode + ADC scan)
# instead of dragging 4 full-corpus k-means fits along. At the gate SFs
# n <= cap so stride == 1 (identical results); the cap also keeps training
# inside the numpy cutover at every SF — no local/distributed regime change
# mid-scale-curve. The stride rule is integer-exact in the DuckDB oracle.
PQ_TRAIN_CAP = 16_384


def _subdim(spark: SparkSession, sf_dir: str) -> int | None:
    e = _t(spark, sf_dir, "embeddings")
    head = e.select("embedding").head()
    if head is None:  # empty corpus: no dim, no codebooks (callers early-exit)
        return None
    dim = len(head["embedding"])
    assert dim % PQ_M == 0, f"dim {dim} not divisible by PQ_M={PQ_M}"
    return dim // PQ_M


@session_cached
def _codebooks(spark: SparkSession, sf_dir: str):
    """Per-sub-space (PQ_K, subdim) centroid matrices, driver-side (the
    trained model: 4 * 16 * 16 doubles — parameter-sized, not data-sized)."""
    import numpy as np

    sub = _subdim(spark, sf_dir)
    if sub is None:
        return None
    e = _vectors_shifted(spark, sf_dir)  # quantized + shifted longs
    stride = (e.count() + PQ_TRAIN_CAP - 1) // PQ_TRAIN_CAP
    if stride > 1:
        e = e.filter(F.col("vec_id") % stride == 0)
    books = []
    for m in range(PQ_M):
        subv = e.select("vec_id", F.slice("vec", m * sub + 1, sub).alias("vec"))
        cents = kmeans_fit(subv, k=PQ_K).orderBy("cell").collect()
        books.append(np.vstack([np.asarray(r["centroid"], dtype=np.int64) for r in cents]))
    return books


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus -> (vec_id, code0..code3): one vectorized pass, no shuffle."""
    import numpy as np
    import pandas as pd

    books = _codebooks(spark, sf_dir)
    if books is None:  # empty corpus: no codes (== oracle's empty result)
        return spark.createDataFrame(
            [], "vec_id long, " + ", ".join(f"code{m} int" for m in range(PQ_M))
        )
    sub = books[0].shape[1]
    bc = spark.sparkContext.broadcast(books)

    def encode(batches):
        B = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.vstack(pdf["vec"].to_numpy()).astype(np.int64)
            out = {"vec_id": pdf["vec_id"]}
            for m, C in enumerate(B):
                Xm = X[:, m * sub : (m + 1) * sub]
                d = (Xm * Xm).sum(1, keepdims=True) - 2 * (Xm @ C.T) + (C * C).sum(1)
                out[f"code{m}"] = d.argmin(1).astype(np.int32)  # first-min tie-break
            yield pd.DataFrame(out)

    e = _vectors_shifted(spark, sf_dir)
    schema = "vec_id long, " + ", ".join(f"code{m} int" for m in range(PQ_M))
    return e.mapInPandas(encode, schema)


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search: ADC shortlist over the 16-bit codes, exact int-dot re-rank."""
    import numpy as np

    books = _codebooks(spark, sf_dir)
    if books is None:  # empty corpus: no queries, no shortlist (== oracle)
        return spark.createDataFrame([], "query_id long, cand_id long, dot_q long, rank long")
    sub = books[0].shape[1]
    codes = pq_encode(spark, sf_dir)

    # Query-side inner-product LUTs, built driver-side from the N_QUERIES
    # query vectors (the bounded query batch, same convention as the other
    # ANN entries): lut[m][j] = q_m . codebook[m][j].
    qrows = (
        _quantized(spark, sf_dir)  # UNSHIFTED quantized ints (dot space)
        .filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "qe")
        .collect()
    )
    lut_rows = []
    for r in qrows:
        q = np.asarray(r["qe"], dtype=np.int64)
        luts = [
            ((books[m] - OFFSET_Q) @ q[m * sub : (m + 1) * sub]).tolist()
            for m in range(PQ_M)
        ]
        lut_rows.append((r["query_id"], *luts))
    lut_schema = "query_id long, " + ", ".join(f"lut{m} array<bigint>" for m in range(PQ_M))
    luts = spark.createDataFrame(lut_rows, lut_schema)

    adc = codes.crossJoin(F.broadcast(luts)).filter(F.col("vec_id") != F.col("query_id"))
    score = sum(
        F.element_at(F.col(f"lut{m}"), F.col(f"code{m}") + 1) for m in range(PQ_M)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("cand_id"))
    shortlist = (
        adc.select("query_id", F.col("vec_id").alias("cand_id"), score.alias("adc"))
        .withColumn("adc_rank", F.row_number().over(w))
        .filter(F.col("adc_rank") <= PQ_RERANK)
        .select("query_id", "cand_id")
    )

    # Exact re-rank on the shortlist only: integer dot on the quantized
    # vectors (deterministic, same scale as ann_topk_bruteforce).
    qt = _quantized(spark, sf_dir)
    cand_vecs = shortlist.join(qt.select(F.col("vec_id").alias("cand_id"), F.col("qe").alias("c_qe")), "cand_id")
    query_vecs = qt.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("q_qe")
    )
    rescored = cand_vecs.join(F.broadcast(query_vecs), "query_id").withColumn(
        "dot_q", _dot("q_qe", "c_qe")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.asc("cand_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id", "dot_q", F.col("rank").cast("long").alias("rank"))
    )


def _pq_oracle(dim: int = 64) -> str:
    """DuckDB twin of the full PQ pipeline at the driver tables' dim=64
    (the oracle string is static; the Spark side reads dim at runtime).
    Four prefixed kmeans fits -> per-sub-space code assignment -> ADC via
    query x code inner-product tables (UNSHIFTED centroids) -> shortlist ->
    exact integer re-rank."""
    from .clustering import ITERATIONS
    from .similarity import _dot_sql

    sub = dim // PQ_M
    parts = [
        f"uq AS ({_QUANT_SQL})",
        f"svecs AS ({_SHIFTED_SQL})",
        # bounded deterministic training sample (stride rule, see PQ_TRAIN_CAP)
        "pq_nv AS (SELECT COUNT(*) AS n FROM svecs)",
        "pq_train AS (SELECT vec_id, qe FROM svecs CROSS JOIN pq_nv "
        f"WHERE vec_id % GREATEST(1, (n + {PQ_TRAIN_CAP - 1}) // {PQ_TRAIN_CAP}) = 0)",
    ]
    for m in range(PQ_M):
        lo = m * sub + 1
        hi = (m + 1) * sub
        parts.append(
            _fit_sql(
                dim=sub,
                k=PQ_K,
                prefix=f"pq{m}_",
                vecs_sql=f"SELECT vec_id, qe[{lo}:{hi}] AS qe FROM pq_train",
            )
        )
        d_expr = (
            f"list_sum(list_transform(range(1, {sub + 1}), "
            "j -> (v.qe[j] - c.cq[j]) * (v.qe[j] - c.cq[j])))"
        )
        parts.append(
            f"""pq{m}_all AS (SELECT vec_id, qe[{lo}:{hi}] AS qe FROM svecs),
pq{m}_code AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT v.vec_id, c.cell, {d_expr} AS d
          FROM pq{m}_all v CROSS JOIN pq{m}_cent{ITERATIONS} c)
  ) WHERE rn = 1
),
pq{m}_lut AS (
  SELECT q.vec_id AS query_id, c.cell,
         list_sum(list_transform(range(1, {sub + 1}),
                  j -> q.qe[{lo - 1} + j] * (c.cq[j] - {OFFSET_Q}))) AS ip
  FROM uq q CROSS JOIN pq{m}_cent{ITERATIONS} c
  WHERE q.vec_id < {N_QUERIES}
)"""
        )
    lut_joins = "\n".join(
        f"  JOIN pq{m}_code cd{m} ON cd{m}.vec_id = cd0.vec_id\n"
        f"  JOIN pq{m}_lut l{m} ON l{m}.cell = cd{m}.cell"
        + ("" if m == 0 else f" AND l{m}.query_id = l0.query_id")
        for m in range(PQ_M)
        if m > 0
    )
    adc_sum = " + ".join(f"l{m}.ip" for m in range(PQ_M))
    parts.append(
        f"""adc AS (
  SELECT l0.query_id, cd0.vec_id AS cand_id, {adc_sum} AS adc
  FROM pq0_code cd0
  JOIN pq0_lut l0 ON l0.cell = cd0.cell
{lut_joins}
  WHERE cd0.vec_id <> l0.query_id
),
shortlist AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, cand_id) AS r
    FROM adc
  ) WHERE r <= {PQ_RERANK}
),
rescored AS (
  SELECT s.query_id, s.cand_id, {_dot_sql('q.qe', 'c.qe')} AS dot_q
  FROM shortlist s
  JOIN uq q ON q.vec_id = s.query_id
  JOIN uq c ON c.vec_id = s.cand_id
)"""
    )
    return (
        "WITH " + ",\n".join(parts) + f"""
SELECT query_id, cand_id, dot_q, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT query_id, cand_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dot_q DESC, cand_id) AS rank
  FROM rescored
)
WHERE rank <= {TOP_K}
"""
    )


QUANTIZATION_QUERIES = [
    Q(
        "ann_pq_adc",
        ann_pq_adc,
        _pq_oracle(),
        "product-quantization ANN: 16-bit codes, ADC shortlist, exact re-rank (4-fit unrolled oracle)",
    ),
]
