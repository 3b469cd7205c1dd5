"""Product quantization ([EXT]): the memory-compression half of
large-scale ANN (Jégou, Douze & Schmid 2011, "Product Quantization
for Nearest Neighbor Search" — the technique behind FAISS's IVFADC).

A 64-dim float vector (256 bytes) is split into M=16 subvectors, each
quantized to one of K=16 per-subspace codebook entries: the whole
vector compresses to 16 × 4 bits = 8 bytes (32×), and approximate
distances are computed against the CODES via per-query lookup tables
without ever touching the original vectors. At 100 TB of embeddings
this is the difference between an index that fits in cluster memory
and one that does not.

Four operators, each oracle-paired:

- ``pq_train_codebooks``: per-subspace k-means (deterministic seed
  init from the first K vectors + one Lloyd refinement round, the
  ``ivf_kmeans_train`` contract: per-round rounding pins both engines
  to identical codebooks).
- ``pq_codes``: every vector's packed 64-bit PQ code (two 32-bit
  words) + its quantization error — the compressed corpus
  representation.
- ``pq_adc_topk``: asymmetric-distance search — the query stays
  exact, the corpus is codes; distance ≈ sum over subspaces of a
  (query, subspace, code) lookup table, so scoring N vectors costs
  N·M table lookups instead of N·DIM multiplications.
- ``pq_adc_rerank_topk``: ADC shortlist + exact re-rank of the top
  RERANK_R — the FAISS refine pipeline; measured recall@5 0.84 at
  sf0.1 on the isotropic (worst-case) corpus.

Scale posture: codebooks are M·K = 128 rows (broadcast); training is
one equi-join + argmin aggregate (MIN(STRUCT(d, code)), map-side
partial) + grouped mean per round (the Lloyd shape); encoding is
map-only against the broadcast codebook; ADC
search joins the code table to a broadcast LUT on (subspace, code) —
all equi-joins, no pairwise vector math on the corpus side. Compose
with the IVF coarse quantizer (``ivf_topk_probe``) to prune which
codes are scanned per query — classic IVFADC.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.vectors import as_double_array
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import (
    read_testdata,
    spread,
)
from aws_etl_global_footprint_network_spark.worker_imports import kernel

DIM = 64
# Geometry: 16 subspaces x 4 dims, 16 codes each -> 16 x 4 bits = one
# packed 64-bit code per vector (32x compression). For isotropic data
# the expected distortion is D * K^(-2/subdim): at fixed code budget,
# 16x(4-dim, 4-bit) halves the distortion of 8x(8-dim, 4-bit)
# (64*16^-0.5 = 16 vs 64*16^-0.25 = 32), and measured recall@5 vs the
# exact top-k doubled when this was retuned (bench/test pin it).
M = 16  # subspaces
SUBDIM = DIM // M
K = 16  # codes per subspace -> 4 bits
CODE_BITS = 4
PQ_ROUND = 6  # centroid rounding, pins both engines (CENTROID_ROUND contract)
N_QUERIES = 10
TOPK = 5
# ADC-shortlist size for the exact re-rank stage (FAISS "refine"):
# measured at sf0.1, the ADC top-50 contains 0.84 of the exact top-5
# on the isotropic corpus (0.86 at R=100 — the knee is ~50).
RERANK_R = 50


# ---------------------------------------------------------------- SQL
def _sq_sql(a: str, b: str) -> str:
    """Sequential-fold squared distance between two DuckDB lists."""
    return (
        f"list_sum(list_transform(range(1, {SUBDIM} + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def _pq_prefix_sql() -> str:
    """Shared CTE chain: subvectors -> seed codebook -> one Lloyd
    round -> refined codebook ``cb1`` -> final assignment ``codesr``
    (vec_id, m, code, d).

    The multiply-referenced stages are MATERIALIZED (round-12 oracle
    audit, the _minhash_oracle lesson): DuckDB inlines plain CTEs per
    reference, so subv/cb0/cb1 (4-8 refs in the ADC consumers) re-ran
    the whole training chain each time — the PQ-family oracles were
    40-70 s at sf1 and would have stalled the sf10 sweep."""
    return f"""
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sub AS (SELECT vec_id, unnest(range(0, {M})) AS m, e FROM v),
    subv AS MATERIALIZED (SELECT vec_id, m,
                    list_slice(e, m * {SUBDIM} + 1, (m + 1) * {SUBDIM}) AS sv
             FROM sub),
    cb0 AS MATERIALIZED (SELECT m, vec_id AS code, sv AS c FROM subv WHERE vec_id < {K}),
    d0 AS (SELECT s.vec_id, s.m, cb0.code, {_sq_sql('s.sv', 'cb0.c')} AS d
           FROM subv s JOIN cb0 USING (m)),
    asg0 AS (SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d, code) AS rn
        FROM d0) WHERE rn = 1),
    upd AS (SELECT a.m, a.code, generate_subscripts(s.sv, 1) AS spos,
                   unnest(s.sv) AS val
            FROM asg0 a JOIN subv s ON s.vec_id = a.vec_id AND s.m = a.m),
    cb1e AS (SELECT m, code, spos,
                    ROUND(AVG(val) * 1e{PQ_ROUND}, 0) / 1e{PQ_ROUND} AS cv
             FROM upd GROUP BY m, code, spos),
    cb1 AS MATERIALIZED (SELECT m, code, list(cv ORDER BY spos) AS c
            FROM cb1e GROUP BY m, code),
    d1 AS (SELECT s.vec_id, s.m, cb1.code, {_sq_sql('s.sv', 'cb1.c')} AS d
           FROM subv s JOIN cb1 USING (m)),
    codesr AS MATERIALIZED (SELECT vec_id, m, code, d FROM (
        SELECT vec_id, m, code, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                  ORDER BY d, code) AS rn
        FROM d1) WHERE rn = 1)"""


# -------------------------------------------------------------- Spark
def _subvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, sv): each vector split into M SUBDIM-dim pieces —
    map-only (explode of a constant-length sequence, then slice)."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double_array("embedding").alias("e")
    )
    return emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("m"),
        "e",
    ).select(
        "vec_id",
        "m",
        F.slice(F.col("e"), F.col("m") * SUBDIM + 1, SUBDIM).alias("sv"),
    )


def _sq(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sq_sub(a: str, b: str):
    """Squared distance between two SUBDIM-element arrays, unrolled to
    a flat SUBDIM-term expression (round 12): ``aggregate(zip_with)``
    lambdas are interpreted per element (the round-11 LSH projection
    lesson), while the unrolled sum whole-stage-codegens. Bit-exact
    vs the fold: the fold's seed step computes 0.0 + t1 == t1 (t1 is
    a square, so never -0.0) and both accumulate strictly left to
    right. Only used at SUBDIM (= 4) terms — far under the janino
    64 KB method limit that bit the 88-plane unroll."""
    terms = [
        (F.element_at(a, i) - F.element_at(b, i))
        * (F.element_at(a, i) - F.element_at(b, i))
        for i in range(1, SUBDIM + 1)
    ]
    expr = terms[0]
    for t in terms[1:]:
        expr = expr + t
    return expr


def _assign(subv: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-codebook-entry per (vec_id, m): equi-join on subspace
    against the broadcast codebook, then argmin via
    ``MIN(STRUCT(d, code))`` — a partially-aggregating groupBy
    (round 12) instead of the former row_number window, which sorted
    all N·M·K distance rows through an exchange. Struct comparison is
    lexicographic on (d, code), exactly the window's ORDER BY d, code
    rank-1 row, so the result is identical; the aggregate combines
    map-side and never materialises a global sort (guide §2.3)."""
    d = subv.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "code", _sq_sub("sv", "c").alias("d")
    )
    return (
        d.groupBy("vec_id", "m")
        .agg(F.min(F.struct("d", "code")).alias("b"))
        .select(
            "vec_id", "m", F.col("b.code").alias("code"), F.col("b.d").alias("d")
        )
    )


def _trained_codebook(
    subv: DataFrame, scope: CacheScope | None = None
) -> tuple[DataFrame, DataFrame]:
    """(cb1, asg0): one Lloyd refinement of the seed codebook. The
    seed is the first K vectors' subvectors — deterministic, no RNG —
    and the refined centroids are grouped means rounded at PQ_ROUND so
    both engines sit on bit-identical codebooks.

    ``scope`` (round 12): every ADC consumer references cb1 at least
    twice (corpus assignment + query LUT), and the unpersisted M·K-row
    frame re-executed the whole training chain per reference — the
    dominant cost of the ADC queries at sf0.1 (pq_adc_rerank_topk
    ~4.1 s, of which <0.7 s was the actual search). Persisting the
    256-row codebook in the caller's CacheScope runs training once."""
    cb0 = subv.filter(F.col("vec_id") < K).select(
        "m", F.col("vec_id").alias("code"), F.col("sv").alias("c")
    )
    asg0 = _assign(subv, cb0).select("vec_id", "m", "code")
    upd = asg0.join(subv, ["vec_id", "m"]).select(
        "m", "code", F.posexplode("sv").alias("spos0", "val")
    ).select("m", "code", (F.col("spos0") + 1).alias("spos"), "val")
    cb1e = upd.groupBy("m", "code", "spos").agg(
        round_compat(F.avg("val"), PQ_ROUND).alias("cv")
    )
    cb1 = cb1e.groupBy("m", "code").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("spos", "cv"))),
            lambda s: s.cv,
        ).alias("c")
    )
    if scope is not None:
        cb1 = scope.persist(cb1)
    return cb1, asg0


# ------------------------------------------------------- numpy kernel path
# Round 13 (verdict item 2): the registered PQ queries no longer run
# the Lloyd training chain as a Catalyst job tree (subvector explode ->
# seed-argmin join+agg -> update join -> two grouped aggregates, ~6
# jobs and 4 shuffles per build even with the round-12 persists). The
# codebook is a CONSTANT-SIZE object (M*K = 256 cells of 4 doubles)
# trained from one Arrow-batched partial-statistics pass (guide
# §4.2/§2.3 — the `_band_bucket_frame` pattern), closed on the driver
# (the pca/union-find constant-size-close precedent), and re-entering
# the corpus pass as plain Python state. Bit-exactness contract:
#  * every distance is the same unrolled left-to-right float64 chain
#    as `_sq_sub` / the oracle's `list_sum(list_transform(...))`
#    (products rounded once, sums strictly left-assoc), so argmin
#    code assignments are bit-identical;
#  * argmin ties break to the LOWEST code on both paths (np.argmin
#    first-occurrence over ascending code order == MIN(STRUCT(d,
#    code)));
#  * centroids are grouped MEANS rounded at PQ_ROUND: summation order
#    differs between numpy partials, Spark's partial aggregation and
#    DuckDB — exactly as it already differed cross-engine — and the
#    1e-6 rounding is what pins all three (the standing CENTROID_ROUND
#    contract); `_round6_np` mirrors round_compat's HALF_UP exactly.
# The JVM helpers above stay as the reference implementation; a test
# pins the kernel-trained codebook cell-identical to the JVM one.


def _round6_np(v):
    """Exact elementwise mirror of ``round_compat(x, 6)``: Spark
    rounds the scaled double with HALF_UP on its exact binary value.
    For w >= 0, ``w - floor(w)`` is IEEE-exact (Sterbenz), so
    ``floor(w) + (frac >= 0.5)`` IS HALF_UP — no ``floor(w + 0.5)``,
    which misrounds values one ulp under a half (e.g.
    0.49999999999999994). Negatives round away from zero; ``+ 0.0``
    normalises -0.0 to the +0.0 Spark's BigDecimal path emits."""
    w = np.asarray(v, dtype=np.float64) * 1e6
    a = np.abs(w)
    f = np.floor(a)
    r = f + (a - f >= 0.5)
    return (np.where(w < 0.0, -r, r) + 0.0) / 1e6


def _collect_head(spark: SparkSession, sf_dir: str, n: int) -> dict:
    """vec_id -> float64[DIM] for the bounded head ``vec_id < n``
    (seeds and queries; one tiny pushed-filter collect)."""
    rows = (
        read_testdata(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n)
        .select("vec_id", as_double_array("embedding").alias("e"))
        .collect()
    )
    return {r["vec_id"]: np.asarray(r["e"], dtype=np.float64) for r in rows}


def _sq_chain(sq):
    """Left-associated sum over the last axis — the `_sq_sub` /
    list_sum fold order, vectorized."""
    d = sq[..., 0]
    for t in range(1, sq.shape[-1]):
        d = d + sq[..., t]
    return d


def _train_np(spark: SparkSession, sf_dir: str, with_labels: bool = False):
    """One Arrow partial-statistics pass + driver close.

    Returns (codes0, cb1, present, sizes, head[, labels, carr]):
    codes0 = ascending seed code values; cb1[m][ci] = rounded refined
    centroid (only where present[m][ci]); sizes = seed-assignment
    member counts; head = the collected vec_id < K vectors. With
    ``with_labels`` the same pass also folds the IVF label-centroid
    partials (label means over all DIM dims, rounded 1e-6 — the
    ivf_label_centroids contract) so ivfadc needs no second
    aggregate job."""
    head = _collect_head(spark, sf_dir, K)
    codes0 = sorted(head)
    c0 = len(codes0)
    cb0 = np.stack(
        [head[c].reshape(M, SUBDIM) for c in codes0], axis=1
    )  # (M, C0, SUBDIM)

    cols = ["label", "embedding"] if with_labels else ["embedding"]

    @kernel
    def part_fn(it):
        from pyspark import TaskContext

        sums = np.zeros((M, c0, SUBDIM))
        cnts = np.zeros((M, c0), dtype=np.int64)
        lsum: dict[int, np.ndarray] = {}
        lcnt: dict[int, int] = {}
        seen = False
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            seen = True
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xs = x.reshape(n, M, SUBDIM)
            for mi in range(M):
                sv = xs[:, mi, :]
                diff = sv[:, None, :] - cb0[mi][None, :, :]
                a = np.argmin(_sq_chain(diff * diff), axis=1)
                np.add.at(sums[mi], a, sv)
                cnts[mi] += np.bincount(a, minlength=c0)
            if with_labels:
                lab = pdf["label"].to_numpy(dtype=np.int64)
                for lv in np.unique(lab):
                    rows = x[lab == lv]
                    acc = lsum.setdefault(int(lv), np.zeros(DIM))
                    lsum[int(lv)] = acc + rows.sum(axis=0)
                    lcnt[int(lv)] = lcnt.get(int(lv), 0) + len(rows)
        if not seen:
            return
        pid = TaskContext.get().partitionId()
        recs = []
        for mi in range(M):
            for ci in range(c0):
                if cnts[mi, ci]:
                    recs.append(
                        (pid, 0, -1, mi, ci, int(cnts[mi, ci]))
                        + tuple(sums[mi, ci])
                    )
        for lv in sorted(lsum):
            for chunk in range(DIM // SUBDIM):
                recs.append(
                    (pid, 1, lv, chunk, 0, lcnt[lv])
                    + tuple(lsum[lv][chunk * SUBDIM: (chunk + 1) * SUBDIM])
                )
        yield pd.DataFrame(
            recs,
            columns=["pid", "kind", "lab", "m", "ci", "cnt"]
            + [f"s{i}" for i in range(SUBDIM)],
        )

    schema = (
        "pid int, kind int, lab long, m int, ci int, cnt long, "
        + ", ".join(f"s{i} double" for i in range(SUBDIM))
    )
    parts = (
        spread(read_testdata(spark, sf_dir, "embeddings"))
        .select(*cols)
        .mapInPandas(part_fn, schema)
        .collect()
    )
    sums = np.zeros((M, c0, SUBDIM))
    cnts = np.zeros((M, c0), dtype=np.int64)
    lsum: dict[int, np.ndarray] = {}
    lcnt: dict[int, int] = {}
    for r in sorted(parts, key=lambda r: (r["kind"], r["lab"], r["m"], r["ci"], r["pid"])):
        s = np.asarray([r[f"s{i}"] for i in range(SUBDIM)])
        if r["kind"] == 0:
            sums[r["m"], r["ci"]] = sums[r["m"], r["ci"]] + s
            cnts[r["m"], r["ci"]] += r["cnt"]
        else:
            acc = lsum.setdefault(r["lab"], np.zeros(DIM))
            lo = r["m"] * SUBDIM
            acc[lo: lo + SUBDIM] = acc[lo: lo + SUBDIM] + s
            if r["m"] == 0:
                lcnt[r["lab"]] = lcnt.get(r["lab"], 0) + r["cnt"]
    present = cnts > 0
    cb1 = np.zeros((M, c0, SUBDIM))
    for mi in range(M):
        for ci in range(c0):
            if present[mi, ci]:
                cb1[mi, ci] = _round6_np(sums[mi, ci] / cnts[mi, ci])
    out = (codes0, cb1, present, cnts, head)
    if with_labels:
        labels = sorted(lcnt)
        carr = np.stack(
            [_round6_np(lsum[lv] / lcnt[lv]) for lv in labels]
        ) if labels else np.zeros((0, DIM))
        return out + (np.asarray(labels, dtype=np.int64), carr)
    return out


def _cb1_per_m(codes0, cb1, present):
    """Per-subspace (code values, centroid matrix) with only the
    PRESENT cells, codes ascending — argmin first-occurrence then
    maps back to the lowest distance-tied code value."""
    per_m = []
    for mi in range(M):
        idx = np.flatnonzero(present[mi])
        per_m.append(
            (
                np.asarray([codes0[i] for i in idx], dtype=np.int64),
                cb1[mi][idx],
            )
        )
    return per_m


def _assign_np(xs, per_m):
    """(n, M) argmin code values + distances against the per-m
    codebooks — the `_assign` contract, vectorized, bit-exact."""
    n = xs.shape[0]
    codes = np.zeros((n, M), dtype=np.int64)
    dists = np.zeros((n, M))
    for mi in range(M):
        cvals, cmat = per_m[mi]
        diff = xs[:, mi, :][:, None, :] - cmat[None, :, :]
        d = _sq_chain(diff * diff)
        a = np.argmin(d, axis=1)
        codes[:, mi] = cvals[a]
        dists[:, mi] = d[np.arange(n), a]
    return codes, dists


def _lut_np(head, per_m):
    """query -> per-m distance lookup row aligned with per_m's code
    positions: pd[q][mi][j] = _sq_sub(q_sv_mi, cb1[mi][j])."""
    qids = sorted(v for v in head if v < N_QUERIES)
    lut = []
    for q in qids:
        qs = head[q].reshape(M, SUBDIM)
        rows = []
        for mi in range(M):
            _, cmat = per_m[mi]
            diff = qs[mi][None, :] - cmat
            rows.append(_sq_chain(diff * diff))
        lut.append(rows)
    return np.asarray(qids, dtype=np.int64), lut


def _exact_d_np(qe, xr):
    """Exact L2: the oracle's list_sum fold over i = 1..DIM —
    accumulate (q[i]-x[i])^2 strictly left to right."""
    acc = np.zeros(xr.shape[0])
    for i in range(DIM):
        t = qe[i] - xr[:, i]
        acc = acc + t * t
    return acc


@register(
    "pq_train_codebooks",
    f"""
    WITH {_pq_prefix_sql()},
    sizes AS (SELECT m, code, COUNT(*) AS n_members FROM asg0
              GROUP BY m, code)
    SELECT CAST(e.m AS INT) AS subspace, CAST(e.code AS INT) AS code,
           CAST(e.spos AS INT) AS pos, e.cv AS centroid_val,
           CAST(s.n_members AS BIGINT) AS n_members
    FROM cb1e e JOIN sizes s ON s.m = e.m AND s.code = e.code
    """,
    f"product-quantization codebook training: {M} subspaces x {K}"
    " codes, deterministic seed + one Lloyd round (per-round rounding"
    " pins both engines) — the compression dictionary of an IVFADC"
    " index",
    tags=("similarity", "pq"),
)
def pq_train_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training is ONE Arrow partial-statistics pass + a driver close
    over the M*K-cell constant-size codebook (round 13; the former
    Catalyst chain — subvector explode, seed-argmin join+agg, update
    join, two grouped aggregates — was ~6 jobs per build). Seeding
    from the first K vectors is the deterministic stand-in for
    k-means++ — at scale you'd seed from a hash-sampled shard; the
    partials pass is map-only and its output is bounded by
    tasks x M x K rows."""
    codes0, cb1, present, cnts, _ = _train_np(spark, sf_dir)
    rows = []
    for mi in range(M):
        for ci in range(len(codes0)):
            if present[mi, ci]:
                for spos in range(SUBDIM):
                    rows.append(
                        (
                            mi,
                            int(codes0[ci]),
                            spos + 1,
                            float(cb1[mi, ci, spos]),
                            int(cnts[mi, ci]),
                        )
                    )
    return spark.createDataFrame(
        rows,
        "subspace int, code int, pos int, centroid_val double,"
        " n_members bigint",
    )


@register(
    "pq_codes",
    f"""
    WITH {_pq_prefix_sql()}
    SELECT CAST(vec_id AS BIGINT) AS vec_id,
           CAST(SUM(CASE WHEN m < {M // 2}
                         THEN code::BIGINT << ({CODE_BITS} * m)
                         ELSE 0 END) AS BIGINT) AS packed_lo,
           CAST(SUM(CASE WHEN m >= {M // 2}
                         THEN code::BIGINT << ({CODE_BITS} * (m - {M // 2}))
                         ELSE 0 END) AS BIGINT) AS packed_hi,
           ROUND(SUM(d) / {DIM} * 1e6, 0) / 1e6 AS mse
    FROM codesr GROUP BY vec_id
    """,
    f"PQ encoding: every vector compressed to a {M}x{CODE_BITS}-bit"
    f" code ({DIM * 8 // 8} bytes -> {M * CODE_BITS // 8} bytes),"
    " packed as two 32-bit words, plus its per-dimension quantization"
    " error",
    tags=("similarity", "pq"),
)
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding is map-only against the broadcast trained codebook:
    each (vector, subspace) picks its argmin entry, and the M 4-bit
    codes pack into two 32-bit words (the full 64-bit code would
    occupy the sign bit, which DuckDB's checked shift rejects) — the
    columns a 100 TB corpus actually stores. The mean squared error
    column is the quantization-quality audit (pinned decreasing vs
    the seed codebook in tests)."""
    codes0, cb1, present, _, _ = _train_np(spark, sf_dir)
    per_m = _cb1_per_m(codes0, cb1, present)
    half = M // 2

    @kernel
    def encode(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            xs = (
                np.stack(pdf["embedding"].to_numpy())
                .astype(np.float64)
                .reshape(n, M, SUBDIM)
            )
            codes, dists = _assign_np(xs, per_m)
            lo = np.zeros(n, dtype=np.int64)
            hi = np.zeros(n, dtype=np.int64)
            dsum = np.zeros(n)
            for mi in range(M):
                if mi < half:
                    lo += codes[:, mi] << (CODE_BITS * mi)
                else:
                    hi += codes[:, mi] << (CODE_BITS * (mi - half))
                dsum = dsum + dists[:, mi]
            yield pd.DataFrame(
                {
                    "vec_id": vid,
                    "packed_lo": lo,
                    "packed_hi": hi,
                    "mse": _round6_np(dsum / DIM),
                }
            )

    return (
        spread(read_testdata(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
        .mapInPandas(
            encode,
            "vec_id bigint, packed_lo bigint, packed_hi bigint, mse double",
        )
    )


@register(
    "pq_adc_topk",
    f"""
    WITH {_pq_prefix_sql()},
    lut AS (SELECT q.vec_id AS query_id, q.m, cb1.code,
                   {_sq_sql('q.sv', 'cb1.c')} AS pd
            FROM subv q JOIN cb1 USING (m) WHERE q.vec_id < {N_QUERIES}),
    adc AS (SELECT l.query_id, cr.vec_id AS neighbor_id,
                   ROUND(SUM(l.pd) * 1e6, 0) / 1e6 AS adc_dist
            FROM codesr cr JOIN lut l ON l.m = cr.m AND l.code = cr.code
            WHERE cr.vec_id <> l.query_id
            GROUP BY l.query_id, cr.vec_id),
    ranked AS (SELECT query_id, neighbor_id, adc_dist,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY adc_dist, neighbor_id) AS rank
               FROM adc)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(rank AS INT) AS rank, adc_dist
    FROM ranked WHERE rank <= {TOPK}
    """,
    f"PQ asymmetric-distance top-{TOPK}: exact queries scored against"
    " the compressed corpus via per-query (subspace, code) lookup"
    " tables — N·M table lookups instead of N·DIM multiplies."
    " DIAGNOSTIC/component form: at 64 bits/vector pure ADC measures"
    " 0.30-0.34 recall@5 on both test corpora — deploy"
    " pq_adc_rerank_topk (the headline PQ operator), which refines the"
    " ADC shortlist exactly",
    tags=("similarity", "pq"),
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ADC search path: the lookup table (N_QUERIES x M x K
    cells) is constant-size and ships to the corpus pass as plain
    task state (round 13 — formerly a broadcast join), so the
    per-query scan cost is M lookups per corpus vector; at 100 TB
    the scan side reads only the stored code columns. Approximate by
    construction (quantization error); the oracle declares identical
    semantics so the hash gate verifies exactly, and recall vs the
    exact top-k is measured in tests."""
    cand = _adc_candidates(spark, sf_dir, TOPK, with_exact=False)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
            "rank",
            "adc_dist",
        )
    )


def _adc_kernel(per_m, qids, lut, r, with_exact, head, probes=None, labels=None, carr=None):
    """mapInPandas kernel: per corpus vector, PQ-encode against the
    per-m codebooks, accumulate the per-query ADC distance from the
    lookup rows (subspace order 0..M-1, left-to-right — the rounding
    grain pins cross-engine summation order exactly as the former
    groupBy SUM did), round at 1e-6, and emit only the per-batch
    top-``r`` per query on the (rounded adc, neighbor_id) order —
    the global top-r is a subset of the union of batch top-rs. With
    ``with_exact`` the survivors also carry the exact re-rank L2
    (the oracle's sequential fold, bit-identical). With ``probes``
    (ivfadc) each vector first takes its coarse label (argmin over
    the rounded label centroids, ties to the lowest label) and a
    query only scores vectors whose label is in its probe list."""
    nq = len(qids)

    @kernel
    def fn(it):
        for pdf in it:
            n = len(pdf)
            if n == 0 or nq == 0:
                continue
            vid = pdf["vec_id"].to_numpy(dtype=np.int64)
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            xs = x.reshape(n, M, SUBDIM)
            codes = np.zeros((n, M), dtype=np.int64)
            code_pos = np.zeros((n, M), dtype=np.int64)
            for mi in range(M):
                cvals, cmat = per_m[mi]
                diff = xs[:, mi, :][:, None, :] - cmat[None, :, :]
                a = np.argmin(_sq_chain(diff * diff), axis=1)
                codes[:, mi] = cvals[a]
                code_pos[:, mi] = a
            lab_val = None
            if probes is not None:
                dl = np.zeros((n, len(labels)))
                for i in range(DIM):
                    t = x[:, i][:, None] - carr[None, :, i]
                    dl = dl + t * t
                lab_val = labels[np.argmin(dl, axis=1)]
            out = []
            for qi in range(nq):
                adc = np.zeros(n)
                for mi in range(M):
                    adc = adc + lut[qi][mi][code_pos[:, mi]]
                adc = _round6_np(adc)
                keep = vid != qids[qi]
                if probes is not None:
                    keep &= np.isin(lab_val, probes[qi])
                c, v = adc[keep], vid[keep]
                top = np.lexsort((v, c))[:r]
                rec = {
                    "query_id": np.full(len(top), qids[qi], dtype=np.int64),
                    "neighbor_id": v[top],
                    "adc_dist": c[top],
                }
                if with_exact:
                    xr = x[keep][top]
                    rec["d"] = _exact_d_np(head[int(qids[qi])], xr)
                out.append(pd.DataFrame(rec))
            if out:
                yield pd.concat(out, ignore_index=True)

    return fn


def _adc_candidates(
    spark: SparkSession,
    sf_dir: str,
    r: int,
    with_exact: bool,
    with_ivf: bool = False,
) -> DataFrame:
    """Shared build for the ADC family: train the codebook (one
    partials pass), build the query LUT driver-side (queries are the
    first N_QUERIES vectors — a subset of the collected seed head),
    then ONE map-only corpus pass emits the bounded per-batch
    candidate top-``r`` per query."""
    if with_ivf:
        codes0, cb1, present, _, head, labels, carr = _train_np(
            spark, sf_dir, with_labels=True
        )
    else:
        codes0, cb1, present, _, head = _train_np(spark, sf_dir)
        labels = carr = None
    per_m = _cb1_per_m(codes0, cb1, present)
    qids, lut = _lut_np(head, per_m)
    probes = None
    if with_ivf:
        probes = []
        for q in qids:
            qe = head[int(q)]
            dl = np.zeros(len(labels))
            for i in range(DIM):
                t = qe[i] - carr[:, i]
                dl = dl + t * t
            order = np.lexsort((labels, dl))[:IVFADC_NPROBE]
            probes.append(labels[order])
    schema = "query_id bigint, neighbor_id bigint, adc_dist double"
    if with_exact:
        schema += ", d double"
    return (
        spread(read_testdata(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
        .mapInPandas(
            _adc_kernel(
                per_m, qids, lut, r, with_exact, head, probes, labels, carr
            ),
            schema,
        )
    )


def _partition_bounded_topr(adc: DataFrame, dist_col: str, r: int) -> DataFrame:
    """Pre-reduce the per-query candidate set to top-``r`` PER INPUT
    PARTITION before any per-query window: the global top-r is always
    a subset of the union of per-partition top-rs (each candidate
    competes within its own partition first), so the final
    ``Window.partitionBy(query_id)`` ranks at most partitions x r rows
    per query instead of the whole corpus — with few queries the
    unbounded form funnels all N corpus rows through one task per
    query. Exact: ties are decided on the rounded distance +
    neighbor_id in both stages, the same grain the oracle uses."""
    w_pre = Window.partitionBy("query_id", "_pid").orderBy(
        dist_col, "neighbor_id"
    )
    return (
        adc.withColumn("_pid", F.spark_partition_id())
        .withColumn("_prn", F.row_number().over(w_pre))
        .filter(F.col("_prn") <= r)
        .drop("_pid", "_prn")
    )


@register(
    "pq_adc_rerank_topk",
    f"""
    WITH {_pq_prefix_sql()},
    lut AS (SELECT q.vec_id AS query_id, q.m, cb1.code,
                   {_sq_sql('q.sv', 'cb1.c')} AS pd
            FROM subv q JOIN cb1 USING (m) WHERE q.vec_id < {N_QUERIES}),
    adc AS (SELECT l.query_id, cr.vec_id AS neighbor_id,
                   ROUND(SUM(l.pd) * 1e6, 0) / 1e6 AS adc_dist
            FROM codesr cr JOIN lut l ON l.m = cr.m AND l.code = cr.code
            WHERE cr.vec_id <> l.query_id
            GROUP BY l.query_id, cr.vec_id),
    short AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc) WHERE rn <= {RERANK_R}),
    rr AS (SELECT s.query_id, s.neighbor_id,
                  list_sum(list_transform(range(1, {DIM} + 1),
                      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS d
           FROM short s JOIN v q ON q.vec_id = s.query_id
                        JOIN v x ON x.vec_id = s.neighbor_id),
    ranked AS (SELECT query_id, neighbor_id, d,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY d, neighbor_id) AS rank
               FROM rr)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(rank AS INT) AS rank,
           ROUND(d * 1e6, 0) / 1e6 AS l2_dist
    FROM ranked WHERE rank <= {TOPK}
    """,
    f"PQ search with exact re-rank: ADC shortlist of {RERANK_R}, then"
    f" true L2 on the shortlist only — measured recall@{TOPK} 0.84 vs"
    " exact search at sf0.1 while reading original vectors for just"
    f" {RERANK_R} of N candidates per query (the FAISS refine"
    " pipeline)",
    tags=("similarity", "pq"),
)
def pq_adc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ pipeline: compressed-domain ADC ranks the
    whole corpus (M lookups per vector), and only the top RERANK_R
    survivors have their original vectors fetched for an exact L2
    re-rank. At 100 TB the full-precision corpus stays on disk; the
    random reads per query are bounded by RERANK_R. The shortlist
    boundary ranks on ROUNDED adc (1e-6) so both engines cut the
    same set; the exact re-rank distance is a sequential fold,
    bit-identical cross-engine."""
    return _rerank_close(
        _adc_candidates(spark, sf_dir, RERANK_R, with_exact=True)
    )


def _rerank_close(cand: DataFrame) -> DataFrame:
    """Shortlist + exact re-rank over the bounded candidate frame
    (<= tasks x N_QUERIES x RERANK_R rows): rank-RERANK_R cut on the
    rounded ADC order, then rank-TOPK on the exact L2 — both windows
    over the tiny candidate set, never the corpus."""
    w_short = Window.partitionBy("query_id").orderBy(
        "adc_dist", "neighbor_id"
    )
    short = cand.withColumn("rn", F.row_number().over(w_short)).filter(
        F.col("rn") <= RERANK_R
    )
    w_rank = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    return (
        short.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= TOPK)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
            "rank",
            round_compat("d", 6).alias("l2_dist"),
        )
    )


# --------------------------------------------------------------------
# Composed IVFADC: coarse-quantizer pruning + ADC scoring + re-rank
# --------------------------------------------------------------------

# nprobe for the composed search: 4 of the 10 label-lists (the IVF
# dial measured 0.68 recall@5 alone at nprobe=4; the ADC shortlist +
# exact re-rank recovers most of what survives the probe).
IVFADC_NPROBE = 4


def _ivf_cent_sql() -> str:
    """Label-centroid CTEs (the IVF coarse quantizer — same
    construction as operators.similarity's IVF oracle)."""
    return """
    exc AS (SELECT t.label, generate_subscripts(t.e, 1) AS pos,
                   unnest(t.e) AS val
            FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings) t),
    cent AS (SELECT label, pos,
                    ROUND(AVG(val) * 1e6, 0) / 1e6 AS cv
             FROM exc GROUP BY label, pos),
    carr AS MATERIALIZED (SELECT label, list(cv ORDER BY pos) AS c FROM cent
             GROUP BY label),
    cdist AS (SELECT v.vec_id, carr.label,
                     list_sum(list_transform(range(1, len(v.e) + 1),
                         i -> (v.e[i] - carr.c[i]) * (v.e[i] - carr.c[i])))
                       AS d
              FROM v CROSS JOIN carr),
    assigned AS MATERIALIZED (SELECT vec_id, label FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
        FROM cdist) WHERE rn = 1)"""


@register(
    "ivfadc_rerank_topk",
    f"""
    WITH {_pq_prefix_sql()},
    {_ivf_cent_sql()},
    probes AS (SELECT vec_id AS query_id, label FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
        FROM cdist WHERE vec_id < {N_QUERIES}) WHERE rn <= {IVFADC_NPROBE}),
    lut AS (SELECT q.vec_id AS query_id, q.m, cb1.code,
                   {_sq_sql('q.sv', 'cb1.c')} AS pd
            FROM subv q JOIN cb1 USING (m) WHERE q.vec_id < {N_QUERIES}),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
             FROM probes p JOIN assigned a ON a.label = p.label
             WHERE a.vec_id <> p.query_id),
    adc AS (SELECT c.query_id, c.neighbor_id,
                   ROUND(SUM(l.pd) * 1e6, 0) / 1e6 AS adc_dist
            FROM cand c
            JOIN codesr cr ON cr.vec_id = c.neighbor_id
            JOIN lut l ON l.query_id = c.query_id
                      AND l.m = cr.m AND l.code = cr.code
            GROUP BY c.query_id, c.neighbor_id),
    short AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY adc_dist, neighbor_id) AS rn
        FROM adc) WHERE rn <= {RERANK_R}),
    rr AS (SELECT s.query_id, s.neighbor_id,
                  list_sum(list_transform(range(1, {DIM} + 1),
                      i -> (q.e[i] - x.e[i]) * (q.e[i] - x.e[i]))) AS d
           FROM short s JOIN v q ON q.vec_id = s.query_id
                        JOIN v x ON x.vec_id = s.neighbor_id),
    ranked AS (SELECT query_id, neighbor_id, d,
                      ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY d, neighbor_id) AS rank
               FROM rr)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(rank AS INT) AS rank,
           ROUND(d * 1e6, 0) / 1e6 AS l2_dist
    FROM ranked WHERE rank <= {TOPK}
    """,
    f"composed IVFADC search: IVF coarse quantizer prunes to"
    f" {IVFADC_NPROBE} of the inverted lists, ADC scores only those"
    " lists' codes, exact re-rank on the shortlist — the production"
    " billion-vector search pipeline (FAISS IVFADC+refine) as one"
    " Catalyst plan",
    tags=("similarity", "pq", "ivf"),
)
def ivfadc_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full composed ANN stack, each stage bounding the next:
    per query, the coarse quantizer selects IVFADC_NPROBE inverted
    lists (corpus/n_lists × nprobe vectors survive), ADC scores only
    those survivors' 8-byte codes against the broadcast LUT, and the
    exact re-rank touches RERANK_R original vectors. At 100 TB this
    is the only registered search whose per-query cost is sublinear
    in BOTH scanned vectors (IVF pruning) and bytes per vector (PQ
    codes) — scanned work ≈ (N/n_lists)·nprobe·M lookups + R exact
    distances. Coarse centroids, codebook and probe lists are all
    constant-size driver state folded from the same partials pass
    (round 13); the candidate pruning happens inside the one corpus
    scan."""
    return _rerank_close(
        _adc_candidates(
            spark, sf_dir, RERANK_R, with_exact=True, with_ivf=True
        )
    )
