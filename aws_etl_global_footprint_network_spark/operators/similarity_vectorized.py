"""Arrow-vectorized similarity (the Pandas-UDF fast path).

``ann_cosine_topk`` (similarity.py) keeps every float op in
deterministic JVM folds so the DuckDB oracle hash-matches. This module
is the THROUGHPUT variant of the same operator: a scalar Pandas UDF
receives Arrow batches and runs the query x corpus dot products as one
numpy matmul per batch — the shape you actually deploy when the
corpus is 10^9 vectors and a last-ulp summation difference is
irrelevant. numpy's pairwise/SIMD summation cannot promise
bit-equality with a sequential SQL fold, but after ``round_compat``
to 6 decimals the scores hash-match the brute-force DuckDB twin
(differences are ~1e-15, five orders below the rounding grain), so
since round 5 this is a full oracle-paired row rather than
rows-only; bit-level equivalence to the exact operator is
additionally pinned by test at 1e-9 tolerance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread
from aws_etl_global_footprint_network_spark.worker_imports import kernel

TOPK = 5
N_QUERIES = 10


def topk_vectorized(
    corpus: DataFrame,
    queries: list[tuple[int, list[float]]],
    k: int = TOPK,
    rank_grain: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbours for a broadcast query set.

    The query matrix ships to executors once (closure broadcast); each
    Arrow batch of corpus vectors becomes one (batch x dim) @ (dim x q)
    matmul. Map-only: per-partition local top-k would be the next
    refinement (here the window handles it, k*corpus is small).

    ``rank_grain``: when set, ranking (and the tie-break) happens on
    the score ROUNDED to that many decimals + neighbor_id. numpy's
    pairwise/SIMD sums differ ~1e-15 from a sequential SQL fold, so an
    oracle-paired caller must decide rank order on the shared rounded
    grain — a raw-score near-tie at the k boundary would otherwise
    flip neighbor_id/rank in a way the output rounding cannot heal."""
    qids = [q[0] for q in queries]
    qmat = np.asarray([q[1] for q in queries], dtype=np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)

    out_type = T.ArrayType(
        T.StructType(
            [
                T.StructField("query_id", T.LongType()),
                T.StructField("cos", T.DoubleType()),
            ]
        )
    )

    @F.pandas_udf(out_type)
    @kernel
    def scores(emb: pd.Series) -> pd.Series:
        m = np.asarray(emb.tolist(), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ qmat.T  # (batch, n_queries)
        return pd.Series(
            [
                [{"query_id": int(qid), "cos": float(c)} for qid, c in zip(qids, row)]
                for row in sims
            ]
        )

    from pyspark.sql import Window

    scored = (
        corpus.select("vec_id", scores("embedding").alias("ss"))
        .select("vec_id", F.explode("ss").alias("s"))
        .select(
            F.col("s.query_id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            F.col("s.cos").alias("cos"),
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    rank_col = (
        round_compat(F.col("cos"), rank_grain)
        if rank_grain is not None
        else F.col("cos")
    )
    w = Window.partitionBy("query_id").orderBy(rank_col.desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.col("cos").alias("score"))
    )


def _vectorized_oracle() -> str:
    from aws_etl_global_footprint_network_spark.functions.vectors import (
        dot_sql,
        norm_sql,
    )

    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {norm_sql('(embedding::DOUBLE[])')} AS nrm
               FROM embeddings),
    q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             {dot_sql('q.e', 'v.e')} / (q.nrm * v.nrm) AS cos
      FROM q JOIN v ON q.vec_id <> v.vec_id),
    ranked AS (
      -- rank on the ROUNDED score + id tie-break: the Spark twin's
      -- numpy sums differ ~1e-15 from this sequential fold, so order
      -- must be decided on the grain both engines share
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS score
    FROM ranked WHERE rank <= {TOPK}
    """


@register(
    "ann_cosine_topk_vectorized",
    _vectorized_oracle(),
    "Arrow/numpy-vectorized cosine top-k (the production fast path);"
    " scores round_compat-rounded to 6 decimals AND ranked on that"
    " rounded grain (+ neighbor_id tie-break) in both twins, so the"
    " numpy matmul hash-matches the sequential-fold DuckDB twin even"
    " at a near-tie on the k boundary",
    tags=("similarity", "pandas_udf"),
)
def ann_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_testdata(spark, sf_dir, "embeddings")
    queries = [
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < N_QUERIES).collect()
    ]
    top = topk_vectorized(
        emb.select("vec_id", "embedding"), queries, rank_grain=6
    )
    return top.withColumn("score", round_compat("score", 6))


# Matryoshka-style truncation evaluation: retrieval overlap when only
# the first d dimensions of each embedding are stored (MRL — Kusupati
# et al. 2022 — trains embeddings so prefixes work; this measures how
# much of the exact top-k survives truncation on THIS corpus).
MRL_DIMS = (16, 32, 64)
MRL_K = 5
MRL_QUERIES = 10


def _mrl_oracle() -> str:
    from aws_etl_global_footprint_network_spark.functions.vectors import (
        dot_sql,
        norm_sql,
    )

    def top_cte(d: int) -> str:
        return f"""
    v{d} AS (SELECT vec_id, list_slice(embedding::DOUBLE[], 1, {d}) AS e
             FROM embeddings),
    n{d} AS (SELECT vec_id, e, {norm_sql('e')} AS nrm FROM v{d}),
    s{d} AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
                    {dot_sql('q.e', 'x.e')} / (q.nrm * x.nrm) AS cos
             FROM n{d} q JOIN n{d} x ON q.vec_id < {MRL_QUERIES}
                                     AND x.vec_id <> q.vec_id),
    t{d} AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS rn
        FROM s{d}) WHERE rn <= {MRL_K})"""

    ctes = ",".join(top_cte(d) for d in MRL_DIMS)
    unions = " UNION ALL ".join(
        f"""SELECT {d} AS dim, COUNT(*) AS overlap_pairs
            FROM t{d} a JOIN t{MRL_DIMS[-1]} b
              ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id"""
        for d in MRL_DIMS
    )
    return f"""
    WITH {ctes},
    ov AS ({unions})
    SELECT CAST(dim AS INT) AS dim,
           CAST(overlap_pairs AS BIGINT) AS overlap_pairs,
           ROUND(overlap_pairs * 1.0 / {MRL_QUERIES * MRL_K} * 1e6, 0) / 1e6
             AS overlap_at_k
    FROM ov
    """


@register(
    "matryoshka_topk_overlap",
    _mrl_oracle(),
    f"embedding-truncation retrieval quality: top-{MRL_K} overlap vs"
    f" full-dim search when only the first d of 64 dims are stored,"
    f" for d in {MRL_DIMS} — the storage/quality dial for"
    " Matryoshka-style embedding budgets",
    tags=("similarity", "mlprep"),
)
def matryoshka_topk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE Arrow-batched corpus pass for all three prefix lengths
    (round 13; guide §4.2/§2.3 — the `_band_bucket_frame` pattern).
    The round-12 shape ran three broadcast-join passes, each folding
    interpreted ``aggregate(zip_with)`` dot products and ranking
    through a per-query window (66 Exchange / 36 Window nodes at
    sf0.1). But a prefix dot product IS a prefix of the full fold:
    accumulating ``acc += e[i]*q[i]`` left to right and capturing the
    partial sums at i = 16/32/64 yields the SAME float64 values as
    three separate sequential folds (each product is rounded once,
    sums accumulate strictly left-to-right — bit-identical to the
    ``aggregate(zip_with)`` / DuckDB ``list_sum(list_transform)``
    chain, the invariant the LSH fold proved in round 12). Prefix
    norms are the same capture over e[i]*e[i]. Each Arrow batch emits
    only its local top-MRL_K per (dim, query) — the global top-k is a
    subset of the union of per-batch top-ks — so the driver close
    ranks a constant-size candidate set (<= tasks x 3 x 10 x 5 rows)
    and the overlap count is driver arithmetic on exact integers
    (the pq/pca constant-size-close precedent). overlap_at_k =
    overlap*20000/1e6 is exact integer arithmetic, so the rounding
    grain both engines share cannot flip. At 100 TB each pass would
    be the IVF/PQ path instead; the measurement shape (overlap vs
    the full-dim answer) is unchanged."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    qrows = sorted(
        (r.vec_id, list(r.embedding))
        for r in emb.filter(F.col("vec_id") < MRL_QUERIES).collect()
    )
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qmat = np.asarray(
        [r[1] for r in qrows], dtype=np.float32
    ).astype(np.float64)
    nq = len(qids)
    dims = MRL_DIMS
    # query prefix norms, same left-to-right fold as the corpus side
    qsq = np.zeros(nq)
    qnrm = {}
    for i in range(dims[-1]):
        qsq = qsq + qmat[:, i] * qmat[:, i]
        if (i + 1) in dims:
            qnrm[i + 1] = np.sqrt(qsq)

    @kernel
    def scores(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            sq = np.zeros(n)
            dots = np.zeros((n, nq))
            out_dim, out_q, out_n, out_c = [], [], [], []
            for i in range(dims[-1]):
                e = m[:, i]
                sq = sq + e * e
                dots = dots + e[:, None] * qmat[None, :, i]
                if (i + 1) not in dims:
                    continue
                d = i + 1
                nrm = np.sqrt(sq)
                cos = dots / (qnrm[d][None, :] * nrm[:, None])
                for j in range(nq):
                    keep = vid != qids[j]
                    c, v = cos[keep, j], vid[keep]
                    top = np.lexsort((v, -c))[:MRL_K]
                    out_dim.extend([d] * len(top))
                    out_q.extend([qids[j]] * len(top))
                    out_n.extend(v[top])
                    out_c.extend(c[top])
            yield pd.DataFrame(
                {
                    "dim": np.asarray(out_dim, dtype=np.int32),
                    "query_id": np.asarray(out_q, dtype=np.int64),
                    "neighbor_id": np.asarray(out_n, dtype=np.int64),
                    "cos": np.asarray(out_c, dtype=np.float64),
                }
            )

    cand = (
        []
        if nq == 0
        else spread(emb)
        .select("vec_id", "embedding")
        .mapInPandas(
            scores, "dim int, query_id long, neighbor_id long, cos double"
        )
        .collect()
    )
    # constant-size close: global top-MRL_K per (dim, query), then the
    # overlap of each prefix's top set against the full-dim top set
    tops: dict[tuple[int, int], list[int]] = {}
    by_key: dict[tuple[int, int], list] = {}
    for r in cand:
        by_key.setdefault((r["dim"], r["query_id"]), []).append(r)
    for key, rows in by_key.items():
        rows.sort(key=lambda r: (-r["cos"], r["neighbor_id"]))
        tops[key] = [r["neighbor_id"] for r in rows[:MRL_K]]
    full = {
        q: set(tops.get((dims[-1], q), [])) for q in qids.tolist()
    }
    out_rows = []
    for d in dims:
        ov = sum(
            1
            for q in qids.tolist()
            for nb in tops.get((d, q), [])
            if nb in full[q]
        )
        out_rows.append(
            (int(d), int(ov), (ov * 20000) / 1000000.0)
        )
    return spark.createDataFrame(
        out_rows, "dim int, overlap_pairs bigint, overlap_at_k double"
    )
