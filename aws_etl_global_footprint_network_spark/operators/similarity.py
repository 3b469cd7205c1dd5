"""Similarity search over the ``embeddings`` table ([EXT]).

- ``ann_cosine_topk``: brute-force cosine top-k — the exactness
  baseline. All vector math is a JVM-side left fold
  (functions.vectors), bit-identical to the DuckDB oracle, so even
  the rank ordering needs no rounding tolerance.
- ``ann_threshold_pairs``: all-pairs near-duplicate detection above a
  cosine threshold (brute force; the ground truth for LSH recall).
- ``ann_lsh_pairs``: the scale path — sign-random-projection LSH.
  Hyperplanes are derived from md5 at build time (plain Python,
  deterministic), embedded as literals in BOTH the Spark plan and the
  oracle SQL, so the bucketing is reproducible everywhere. Pairs are
  generated only within (band, bucket) groups: candidate count scales
  with bucket occupancy, not corpus², which is what makes ANN viable
  on 10^9 vectors.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.vectors import (
    as_double_array,
    dot,
    dot_sql,
    norm,
    norm_sql,
)
from aws_etl_global_footprint_network_spark.functions.cache import cut_lineage, CacheScope
from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.hashing import (
    md5_hash60,
    md5_hash60_sql,
)
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread
from aws_etl_global_footprint_network_spark.worker_imports import kernel

DIM = 64
# Sign-random-projection geometry, designed for the NEAR-DUPLICATE
# regime (cosine >= LSH_PAIR_THRESHOLD): 8 OR-ed bands of 11 sign
# bits. A pair at angle theta collides in one band with probability
# (1 - theta/pi)^11 — ~0.24 at cosine 0.93, so 8 bands give ~0.89
# recall there — while random pairs (cosine ~0, p=0.5/bit) collide at
# ~8 * 2^-11 = 3.9e-3 of all pairs (measured 0.0063 with the planted
# twins included; 10-bit bands measured 0.0104, just over the 1e-2
# budget, hence 11). Round 2 ran 4x8 verified at
# cosine 0.40, where recall was a measured 0.11: no sign-LSH geometry
# can separate cosine 0.40 from this corpus's isotropic background
# (the per-bit gap is 0.64 vs 0.50 — amplifying it to 0.8 recall at
# 1e-2 candidates needs ~22-bit bands x tens of thousands of bands).
# The honest operating point for an LSH *near-dup* index is high
# cosine, so round 3 moved the verify threshold there.
N_PLANES = 88
LSH_BANDS = 8
BITS_PER_BAND = N_PLANES // LSH_BANDS
TOPK = 5
N_QUERIES = 10
PAIR_THRESHOLD = 0.45
LSH_PAIR_THRESHOLD = 0.85
# The corpus itself is isotropic noise — the maximum ORGANIC pairwise
# cosine at sf0.1 is 0.60 (measured; see README) — so, as in any ANN
# benchmark on synthetic data, the index is evaluated on deterministic
# PLANTED near-duplicates: every TWIN_EVERY-th vector gets a twin at
# vec_id + TWIN_OFFSET with coordinates scaled by md5-derived noise in
# [1-EPS, 1+EPS]; cosine(v, twin) concentrates around
# 1/sqrt(1 + EPS^2/3) ~ 0.93. The same md5 recipe as
# train_test_split_hash makes both engines build the identical corpus.
TWIN_EVERY = 4
TWIN_OFFSET = 10_000_000
TWIN_EPS = 0.7
# Key bound for the brute-force ground-truth pair op: like
# dedup_ngram_jaccard's doc_id<150, this caps the deliberate all-pairs
# join at ~bound^2/2 comparisons no matter the corpus size, so the one
# quadratic operator in the repo can never be pointed at a full corpus.
PAIR_ID_BOUND = 1000


# Adaptive (multi-probe) geometry — ann_lsh_pairs_adaptive.  The
# fixed 8x11 layout above keeps its 2^11 buckets at every corpus size,
# so per-bucket occupancy grows linearly with n and candidate-verify
# work quadratically (measured x49 wall on 10x vectors, round-11 sf10
# probe).  The adaptive variant appends up to ADAPTIVE_MAX_EXTRA sign
# bits per band — one per corpus doubling past ADAPTIVE_NREF vectors —
# and recovers the recall those AND-bits would cost by ALSO probing
# the Hamming-1 neighborhood of the extra bits (multi-probe LSH,
# Lv et al., VLDB 2007): a twin pair disagreeing on one extra bit
# still collides via the flipped-bucket probe row.  Per doubling the
# bucket space doubles while probe rows grow by one, so per-bucket
# occupancy stays ~constant and candidate work ~linear in n.
# ADAPTIVE_NREF anchors extra=0 at the sf0.1 corpus (2000 vectors),
# i.e. it preserves that corpus's ~1.2-vectors/bucket load at every
# scale.  THREE operating points were measured at sf10 (one warm
# session each, bench_lsh_adaptive_r11.json "anchor_experiments"):
# occupancy ~8/bucket (anchor 20000, extra=4) 234.1 s at twin recall
# 0.863; ~1.9 (anchor 2000, extra=6) 143.3 s at 0.832; ~1 (anchor
# 2000, extra=7 — the committed constants) 49.8 s at 0.815, vs the
# fixed geometry's 412.1 s at its 0.894 design point.  Candidate
# VERIFICATION dominates above ~2/bucket, so the anchor keeps the
# low-occupancy operating point every production LSH index uses:
# 8.3x the fixed wall at sf10 for ~8 points of twin recall, each
# extra bit costing ~1 point with Hamming-1 probing absorbing single
# disagreements.  Below the crossover (round 12, post projection
# unroll): the adaptive index now BEATS the fixed geometry at sf1 too
# (warm alternating A/B, 3 reps: fixed 15.5-18.0 s vs adaptive
# 10.0-12.1 s under shared-load conditions) — the round-11 sf1
# penalty was the interpreted-lambda projection, not the probe rows;
# with it unrolled, the adaptive geometry's ~3x-fewer candidates win
# at every measured scale.
# Anchor units: the dispatch COUNTs the RAW embeddings table (the
# oracle counts the same table, so parity is unaffected), while the
# index hashes the twin-AUGMENTED corpus — the anchor therefore
# understates the hashed corpus by the planted-twin fraction
# (1/TWIN_EVERY = +25%), which is folded into the measured operating
# points above; the eager COUNT runs per plan build and is a parquet
# metadata read.
ADAPTIVE_NREF = 2000
ADAPTIVE_MAX_EXTRA = 8  # headroom to ~500k vectors (256x the anchor);
# the law continues by construction — raising this pool constant is
# the only change a larger corpus needs
N_PLANES_POOL = N_PLANES + LSH_BANDS * ADAPTIVE_MAX_EXTRA  # 152


def _hyperplanes(n_planes: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1], derived from
    md5 of 'hp|{plane}|{dim}' — reproducible from this source file
    alone (no RNG state, no engine hash)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(DIM):
            h = int(hashlib.md5(f"hp|{p}|{i}".encode()).hexdigest()[:15], 16)
            row.append(((h % 2001) - 1000) / 1000.0)
        planes.append(row)
    return planes


# The pool is a strict extension: planes 0..N_PLANES-1 are the same
# md5-derived values the fixed query embeds, so the fixed oracle text
# is unchanged and the adaptive query's BASE bits reuse them.
HYPERPLANES_POOL = _hyperplanes(N_PLANES_POOL)
HYPERPLANES = HYPERPLANES_POOL[:N_PLANES]


def _extra_bits(n: int, nref: int) -> int:
    """Python twin of ``_extra_bits_sql``: the number of adaptive bucket
    bits = corpus doublings past ``nref`` (integer ladder, no float
    log2 edge cases), capped at ADAPTIVE_MAX_EXTRA."""
    for k in range(ADAPTIVE_MAX_EXTRA):
        if n <= nref * (1 << k):
            return k
    return ADAPTIVE_MAX_EXTRA


def _extra_bits_sql(nref: int) -> str:
    whens = " ".join(
        f"WHEN n <= {nref * (1 << k)} THEN {k}"
        for k in range(ADAPTIVE_MAX_EXTRA)
    )
    return f"CASE {whens} ELSE {ADAPTIVE_MAX_EXTRA} END"


@register(
    "ann_cosine_topk",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {norm_sql('(embedding::DOUBLE[])')} AS nrm
               FROM embeddings),
    q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             {dot_sql('q.e', 'v.e')} / (q.nrm * v.nrm) AS cos
      FROM q JOIN v ON q.vec_id <> v.vec_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cos DESC, neighbor_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS score
    FROM ranked WHERE rank <= {TOPK}
    """,
    f"brute-force cosine top-{TOPK} for the first {N_QUERIES} query vectors",
    tags=("similarity",),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: broadcast the (small) query set against the corpus —
    a map-only scored pass, then per-query top-k via window. For a
    large query set you'd block both sides with LSH first
    (``ann_lsh_pairs``)."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id",
        as_double_array("embedding").alias("e"),
        norm(as_double_array("embedding")).alias("nrm"),
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot("qe", "e") / (F.col("qnrm") * F.col("nrm"))).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", round_compat("cos", 6).alias("score"))
    )


@register(
    "ann_threshold_pairs",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {norm_sql('(embedding::DOUBLE[])')} AS nrm
               FROM embeddings WHERE vec_id < {PAIR_ID_BOUND}),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {dot_sql('a.e', 'b.e')} / (a.nrm * b.nrm) AS cos
      FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, ROUND(cos, 6) AS score
    FROM scored WHERE cos >= {PAIR_THRESHOLD}
    """,
    f"brute-force embedding near-dup pairs at cosine >= {PAIR_THRESHOLD}"
    f" (ground-truth op, key-bounded to vec_id < {PAIR_ID_BOUND})",
    tags=("similarity", "dedup"),
)
def ann_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth near-dup pairs for LSH recall measurement. The
    all-pairs inequality join is deliberate (it IS the ground truth)
    and key-bounded by PAIR_ID_BOUND so the quadratic work is capped
    regardless of corpus size; the production path is ann_lsh_pairs."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") < PAIR_ID_BOUND
    ).select(
        "vec_id",
        as_double_array("embedding").alias("e"),
        norm(as_double_array("embedding")).alias("nrm"),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= PAIR_THRESHOLD)
        .select("vec_a", "vec_b", round_compat(cos, 6).alias("score"))
    )


def _twin_scale_sql() -> str:
    """DuckDB twin of the per-coordinate planted-noise factor."""
    h = md5_hash60_sql("('tw|' || vec_id::VARCHAR || '|' || i::VARCHAR)")
    return f"(1.0 + {TWIN_EPS} * (({h} % 2001 - 1000) / 1000.0))"


def _augmented_sql() -> str:
    """CTEs producing the twin-augmented corpus ``v(vec_id, e, nrm)``."""
    # tw0/tw split: aliasing `vec_id + OFFSET AS vec_id` in the same
    # SELECT as the lambda would make DuckDB's lateral-alias binding
    # salt the noise with the TWIN id instead of the original.
    return f"""
    v0 AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    tw0 AS (SELECT vec_id,
                   list_transform(range(1, {DIM} + 1),
                                  i -> e[i] * {_twin_scale_sql()}) AS e
            FROM v0 WHERE vec_id % {TWIN_EVERY} = 0),
    tw AS (SELECT vec_id + {TWIN_OFFSET} AS vec_id, e FROM tw0),
    vu AS (SELECT * FROM v0 UNION ALL SELECT * FROM tw),
    v AS (SELECT vec_id, e, {norm_sql('e')} AS nrm FROM vu)"""


def _lsh_oracle() -> str:
    # The projection is unrolled (e[1]*w1 + e[2]*w2 + ...) instead of
    # list_sum(list_transform(...)) — same left-to-right summation
    # order, bit-identical sign bits, but no per-row list
    # materialization: measured 6x faster in DuckDB.  `bits` is
    # MATERIALIZED because the bands UNION references it once per band
    # — without the hint DuckDB inlines (and recomputes) the 88-plane
    # projection LSH_BANDS times, which was ~90% of this oracle's
    # runtime (round-6 verdict item 7: the twins dominated the DuckDB
    # headline total, distorting the Spark/DuckDB ratio in Spark's
    # favor).
    def plane_dot(p: int) -> str:
        return " + ".join(
            f"e[{i + 1}]*{HYPERPLANES[p][i]!r}" for i in range(DIM)
        )

    proj = ", ".join(
        f"CASE WHEN ({plane_dot(p)}) > 0 THEN 1 ELSE 0 END AS bit{p}"
        for p in range(N_PLANES)
    )
    band_vals = " UNION ALL ".join(
        "SELECT vec_id, {b} AS band, ".format(b=b)
        + " + ".join(
            f"(bit{b * BITS_PER_BAND + j}::BIGINT << {j})"
            for j in range(BITS_PER_BAND)
        )
        + " AS bucket FROM bits"
        for b in range(LSH_BANDS)
    )
    return f"""
    WITH {_augmented_sql()},
    bits AS MATERIALIZED (SELECT vec_id, e, {proj} FROM v),
    bands AS ({band_vals}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    , scored AS (
      SELECT c.vec_a, c.vec_b,
             {dot_sql('x.e', 'y.e')} / (x.nrm * y.nrm) AS cos
      FROM cand c JOIN v x ON x.vec_id = c.vec_a
                  JOIN v y ON y.vec_id = c.vec_b)
    SELECT vec_a, vec_b, ROUND(cos, 6) AS score
    FROM scored WHERE cos >= {LSH_PAIR_THRESHOLD}
    """


def augmented_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus plus planted near-duplicate twins: every
    ``TWIN_EVERY``-th vector re-emitted at ``vec_id + TWIN_OFFSET``
    with each coordinate scaled by ``1 + TWIN_EPS * u`` where
    ``u in [-1, 1]`` comes from md5 of ``tw|{vec_id}|{1-based dim}``
    — JVM-side expressions only, bit-identical to the oracle's
    ``list_transform`` twin. Map-only: the augmentation adds no
    shuffle and scales linearly."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double_array("embedding").alias("e")
    )
    # One F.expr string instead of a 64-element Column tree: building
    # the per-coordinate md5 expression with Column operators costs
    # thousands of py4j round-trips (~2 s of driver time PER BUILD,
    # measured); a SQL string parses JVM-side in one call. Semantics
    # are identical to md5_hash60 (functions.hashing).
    twin_e = (
        "transform(e, (x, i) -> x * (1.0D + {eps}D * (((CAST(conv("
        "substring(md5(concat('tw|', CAST(vec_id AS STRING), '|',"
        " CAST(i + 1 AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2001)"
        " - 1000) / 1000.0D)))"
    ).format(eps=TWIN_EPS)
    # Two-step select: Spark's implicit lateral-column-alias resolution
    # (3.4+) would otherwise bind the lambda's vec_id to the
    # `vec_id + TWIN_OFFSET AS vec_id` alias in the same select list,
    # salting the noise with the twin id (DuckDB has the symmetric
    # hazard — its oracle splits the CTE the same way).
    twins = (
        emb.filter(F.col("vec_id") % TWIN_EVERY == 0)
        .select("vec_id", F.expr(twin_e).alias("e"))
        .select((F.col("vec_id") + TWIN_OFFSET).alias("vec_id"), "e")
    )
    return emb.unionByName(twins).select("vec_id", "e", norm("e").alias("nrm"))


def sign_band_table(emb: DataFrame) -> DataFrame:
    """(vec_id, band, bucket) rows from sign-random-projection:
    N_PLANES hyperplane sign bits packed into LSH_BANDS bucket ids.
    Shared by the query builder and bench.py's --recall measurement.

    Delegates to ``_band_bucket_frame`` (extra=0) — the Arrow-batched
    numpy projection; see its docstring for the three-strategy A/B
    that put both JVM expression forms (interpreted HOF lambdas, and
    unrolled SQL that blows janino's 64 KB method limit) behind it."""
    return _band_bucket_frame(emb, 0)


def band_candidate_pairs(bands: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Distinct candidate pairs from same-(band,bucket) co-occurrence —
    the generic LSH banding join (used by both LSH families)."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
        )
        .distinct()
    )


@register(
    "ann_lsh_pairs",
    _lsh_oracle(),
    f"sign-LSH ({LSH_BANDS} bands x {BITS_PER_BAND} bits) near-dup"
    f" pairs on the twin-augmented corpus, verified at cosine >="
    f" {LSH_PAIR_THRESHOLD}",
    tags=("similarity", "lsh"),
)
def ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH: bucket join replaces the all-pairs
    cross join. Candidates are verified with exact cosine, so
    precision is 1.0 and only recall depends on band geometry —
    measured on the planted twins via ``bench.py --recall`` (the
    organic corpus has no pairs in the near-dup regime; see the
    constants block).

    Geometry must scale with the corpus (sf10 probe, round 11): the
    2^BITS_PER_BAND bucket space is FIXED, so per-bucket occupancy
    grows linearly with n and candidate-verify work quadratically —
    measured x49 wall on 10x vectors (sf1 ~12 -> sf10 ~122
    vectors/bucket) while verified OUTPUT stayed exactly linear
    (precision contract intact). Production sizing: one more bit per
    band per corpus doubling (equivalently a modulo-hash bucket space
    sized n / target-occupancy) holds per-bucket work constant at any
    scale. This query keeps the fixed geometry because its registered
    oracle embeds it; ``ann_lsh_pairs_adaptive`` below IS the sizing
    law applied — corpus-counted extra bits plus Hamming-1 multi-probe
    — with both engines deriving the same geometry from the same
    count, so it stays hash-paired at every scale."""
    emb = augmented_embeddings(spark, sf_dir)
    # persist: the band table and both verify sides would otherwise
    # recompute the 80-plane projection / twin synthesis per use.
    # Scoped so repeated invocations drop the previous generation
    # (functions.cache.CacheScope).
    scope = CacheScope("ann_lsh_pairs")
    emb = scope.persist(emb)
    # Materialize BEFORE building the band table: left lazy, the first
    # action fuses twin-synthesis + norm + the 88 unrolled plane dots
    # + bucket packing into ONE whole-stage method that blows janino's
    # 64 KB limit, and the fallback interprets the ENTIRE fused stage
    # (md5 twin transform included) — measured 83 s vs ~8 s at sf1
    # (round 12).  From the cache, the projection stage compiles
    # standalone.
    emb.count()
    bands = scope.persist(sign_band_table(emb))
    cand = band_candidate_pairs(bands).withColumnsRenamed(
        {"vec_id_a": "vec_a", "vec_id_b": "vec_b"}
    )
    x = emb.select(
        F.col("vec_id").alias("xid"), F.col("e").alias("xe"),
        F.col("nrm").alias("xn"),
    )
    y = emb.select(
        F.col("vec_id").alias("yid"), F.col("e").alias("ye"),
        F.col("nrm").alias("yn"),
    )
    cos = dot("xe", "ye") / (F.col("xn") * F.col("yn"))
    return (
        cand.join(x, F.col("xid") == F.col("vec_a"))
        .join(y, F.col("yid") == F.col("vec_b"))
        .filter(cos >= LSH_PAIR_THRESHOLD)
        .select("vec_a", "vec_b", round_compat(cos, 6).alias("score"))
    )


# --------------------------------------------------------------------
# Adaptive multi-probe sign-LSH (the measured fix for the fixed
# geometry's superlinear scaling — see the constants block)
# --------------------------------------------------------------------

def _adaptive_plane_dot_sql(p: int) -> str:
    """Unrolled e[i]*w_i projection against pool plane ``p`` (DuckDB
    side; same left-to-right fold as the fixed oracle)."""
    return " + ".join(
        f"e[{i + 1}]*{HYPERPLANES_POOL[p][i]!r}" for i in range(DIM)
    )


def _plane_dot_spark(p: int) -> str:
    """Unrolled e[i]*w_i projection against pool plane ``p`` (Spark
    side, 0-based indexing; same left-to-right float64 fold as the
    DuckDB twin above, so the sign bits are bit-identical).  Kept for
    scripts/ab_lsh_unroll.py's strategy A/B — the production band
    tables use ``_band_bucket_frame`` below (the unrolled SQL form
    exceeds janino's 64 KB method limit at 88+ planes, degrading the
    WHOLE fused stage to interpreted evaluation)."""
    return " + ".join(
        f"e[{i}]*{HYPERPLANES_POOL[p][i]!r}D" for i in range(DIM)
    )


def _band_bucket_frame(emb: DataFrame, extra: int) -> DataFrame:
    """(vec_id, band, bucket) sign-LSH band table via ONE Arrow-batched
    numpy projection (``mapInPandas``).

    Why Python here (round 12, third strategy measured —
    scripts/ab_lsh_unroll.py): the 88-to-152-plane x 64-dim projection
    is the dominant cost of the whole LSH family, and neither JVM
    strategy survives at this width — ``aggregate(zip_with(...))``
    lambdas are evaluated interpretively per element (no codegen for
    HOF bodies), and the unrolled ``e[0]*w0 + ...`` SQL form blows
    janino's 64 KB per-method limit, which silently degrades the
    ENTIRE fused whole-stage (twin synthesis included) to interpreted
    mode (measured 83-118 s at sf1).  The numpy form is a vectorized
    fold over the batch — ``acc = acc + E[:, i] * W[i]`` for i in
    0..63 — which performs the exact same left-to-right float64
    multiply-add per (row, plane) as the DuckDB oracle's unrolled
    chain, so the sign bits are BIT-IDENTICAL (verified by a full
    symmetric-diff at sf1 and the sf0.01/sf1/sf10 hash sweeps); the
    leading 0.0 in the accumulator cannot flip a sign (+-0.0 both
    fail ``> 0``).  Scale posture: map-only, Arrow-batched, ~200
    float64 ops per row per plane executed SIMD-wide — at 100 TB this
    is the standard vectorized-UDF projection stage, partitioned like
    any map.

    ``extra`` appends the adaptive bucket bits (see the constants
    block): pool plane N_PLANES + band*ADAPTIVE_MAX_EXTRA + je feeds
    bucket bit BITS_PER_BAND + je of ``band``."""
    import numpy as np
    import pandas as pd

    needed = list(range(N_PLANES)) + [
        N_PLANES + b * ADAPTIVE_MAX_EXTRA + je
        for b in range(LSH_BANDS)
        for je in range(extra)
    ]
    w = np.array(
        [[HYPERPLANES_POOL[p][i] for p in needed] for i in range(DIM)]
    )

    @kernel
    def project(it):
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            e = np.vstack(pdf["e"].to_numpy()).astype(np.float64)
            acc = np.zeros((n, w.shape[1]))
            for i in range(DIM):
                acc += e[:, i : i + 1] * w[i]
            bits = (acc > 0).astype(np.int64)
            vec = pdf["vec_id"].to_numpy()
            frames = []
            for b in range(LSH_BANDS):
                bucket = np.zeros(n, dtype=np.int64)
                for j in range(BITS_PER_BAND):
                    bucket += bits[:, b * BITS_PER_BAND + j] << j
                for je in range(extra):
                    col = N_PLANES + b * extra + je
                    bucket += bits[:, col] << (BITS_PER_BAND + je)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": vec,
                            "band": np.full(n, b, dtype=np.int32),
                            "bucket": bucket,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return emb.select("vec_id", "e").mapInPandas(
        project, "vec_id long, band int, bucket long"
    )


def _adaptive_oracle(nref: int = ADAPTIVE_NREF) -> str:
    """DuckDB twin of the adaptive query.  SQL is static, so the
    oracle computes ALL pool planes and MASKS the extra-bit terms with
    the ``params.extra`` scalar (CASE ladder over COUNT(*)); the Spark
    side knows ``extra`` at plan-build time and only computes the
    planes it uses — different work, identical buckets."""
    proj = ", ".join(
        f"CASE WHEN ({_adaptive_plane_dot_sql(p)}) > 0 THEN 1 ELSE 0 END"
        f" AS bit{p}"
        for p in range(N_PLANES_POOL)
    )

    def bucket(b: int) -> str:
        base = " + ".join(
            f"(bit{b * BITS_PER_BAND + j}::BIGINT << {j})"
            for j in range(BITS_PER_BAND)
        )
        ext = " + ".join(
            f"(CASE WHEN p.extra > {je} THEN"
            f" (bit{N_PLANES + b * ADAPTIVE_MAX_EXTRA + je}::BIGINT"
            f" << {BITS_PER_BAND + je}) ELSE 0 END)"
            for je in range(ADAPTIVE_MAX_EXTRA)
        )
        return f"{base} + {ext}"

    home_vals = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {bucket(b)} AS bucket"
        " FROM bits, params p"
        for b in range(LSH_BANDS)
    )
    return f"""
    WITH {_augmented_sql()},
    params AS (SELECT {_extra_bits_sql(nref)} AS extra
               FROM (SELECT COUNT(*) AS n FROM embeddings)),
    bits AS MATERIALIZED (SELECT vec_id, e, {proj} FROM v),
    home AS MATERIALIZED ({home_vals}),
    probes AS (
      SELECT vec_id, band,
             xor(bucket, 1::BIGINT << ({BITS_PER_BAND} + t.j)) AS bucket
      FROM home, params p, unnest(range(0, {ADAPTIVE_MAX_EXTRA})) AS t(j)
      WHERE t.j < p.extra),
    allb AS (SELECT * FROM home UNION ALL SELECT * FROM probes),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM home a JOIN allb b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    , scored AS (
      SELECT c.vec_a, c.vec_b,
             {dot_sql('x.e', 'y.e')} / (x.nrm * y.nrm) AS cos
      FROM cand c JOIN v x ON x.vec_id = c.vec_a
                  JOIN v y ON y.vec_id = c.vec_b)
    SELECT vec_a, vec_b, ROUND(cos, 6) AS score
    FROM scored WHERE cos >= {LSH_PAIR_THRESHOLD}
    """


def _adaptive_home_table(emb: DataFrame, extra: int) -> DataFrame:
    """Home band table at ``extra`` adaptive bits.

    Only the planes actually used are projected (88 + 8*extra), unlike
    the oracle's compute-all-and-mask — the Spark plan is built after
    the dispatch count, so the geometry is a literal here.  Delegates
    to ``_band_bucket_frame`` (the Arrow-batched numpy projection;
    see its docstring for why both JVM expression forms lose at this
    plane width)."""
    return _band_bucket_frame(emb, extra)


def _probe_rows(home: DataFrame, extra: int) -> DataFrame:
    """Hamming-1 probe rows on the ``extra`` adaptive bits (one flipped
    bucket per extra bit per home row)."""
    return home.select(
        "vec_id",
        "band",
        F.expr(
            f"explode(transform(sequence(0, {extra - 1}),"
            f" j -> bucket ^ shiftleft(CAST(1 AS BIGINT),"
            f" {BITS_PER_BAND} + j)))"
        ).alias("bucket"),
    )


def _adaptive_lsh_pairs(
    spark: SparkSession, sf_dir: str, nref: int = ADAPTIVE_NREF
) -> DataFrame:
    """Core of ann_lsh_pairs_adaptive, parameterized by ``nref`` so
    tests can force a non-zero ``extra`` on the small corpora and run
    parity against ``_adaptive_oracle(nref)`` at the same geometry."""
    from aws_etl_global_footprint_network_spark.functions.ranking import (
        _log_dispatch,
    )

    from aws_etl_global_footprint_network_spark.functions.width import (
        raw_table_count,
    )

    n = raw_table_count(spark, sf_dir, "embeddings")
    extra = _extra_bits(n, nref)
    _log_dispatch("lsh_adaptive_bits", n, nref, f"extra={extra}")
    emb = augmented_embeddings(spark, sf_dir)
    scope = CacheScope("ann_lsh_pairs_adaptive")
    emb = scope.persist(emb)
    # eager materialize: see ann_lsh_pairs — keeps the (88+8*extra)-
    # plane projection stage inside janino's method limit by cutting
    # it off from the twin-synthesis scan
    emb.count()
    home = scope.persist(_adaptive_home_table(emb, extra))
    allb = home if extra == 0 else home.unionByName(_probe_rows(home, extra))
    a = home.select(F.col("vec_id").alias("vec_a"), "band", "bucket")
    b = allb.select(F.col("vec_id").alias("vec_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    x = emb.select(
        F.col("vec_id").alias("xid"), F.col("e").alias("xe"),
        F.col("nrm").alias("xn"),
    )
    y = emb.select(
        F.col("vec_id").alias("yid"), F.col("e").alias("ye"),
        F.col("nrm").alias("yn"),
    )
    cos = dot("xe", "ye") / (F.col("xn") * F.col("yn"))
    return (
        cand.join(x, F.col("xid") == F.col("vec_a"))
        .join(y, F.col("yid") == F.col("vec_b"))
        .filter(cos >= LSH_PAIR_THRESHOLD)
        .select("vec_a", "vec_b", round_compat(cos, 6).alias("score"))
    )


@register(
    "ann_lsh_pairs_adaptive",
    _adaptive_oracle(),
    f"multi-probe sign-LSH near-dup pairs with corpus-adaptive bucket"
    f" bits ({BITS_PER_BAND}+log2(n/{ADAPTIVE_NREF}) per band,"
    f" Hamming-1 probes on the extra bits), verified at cosine >="
    f" {LSH_PAIR_THRESHOLD}",
    tags=("similarity", "lsh"),
)
def ann_lsh_pairs_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_lsh_pairs`` with the geometry law from its docstring
    actually applied: one extra bucket bit per band per corpus
    doubling past ADAPTIVE_NREF vectors, plus Hamming-1 multi-probe
    on the extra bits so the added AND-bits do not pay for bucket
    shrinkage with recall (a twin pair disagreeing on one extra bit
    still meets in the flipped bucket — probing is symmetric because
    XOR distance is: home_a = home_b ^ mask iff home_b = home_a ^
    mask, so joining home against home+probes misses nothing).

    Scale: per-bucket occupancy is held ~constant by construction —
    bucket space doubles with the corpus while probe rows grow by one
    — so candidate-verify work scales ~linearly where the fixed
    geometry's scaled quadratically.  Measured
    (bench_lsh_adaptive_r11.json): sf10 **49.8 s vs the fixed
    geometry's 412.1 s (8.3x)** at twin recall 0.815 (fixed design
    point 0.894; three occupancy operating points measured, see the
    constants block); at sf1, after the round-12 projection unroll,
    the adaptive geometry is FASTER than the fixed one as well
    (10.0-12.1 s vs 15.5-18.0 s warm alternating A/B — the round-11
    "wash"/4.3x discrepancy was the interpreted-lambda projection
    cost, which the unroll removed).  The dispatch is
    one metadata-cheap COUNT of the raw embeddings table, logged to
    DISPATCH_LOG; both engines derive the same bit count from the
    same count via the same integer ladder (no float log2), so the
    cross-engine hash gate holds at every scale, and at the driver's
    sf0.01 gate (extra=0) the buckets are bit-identical to
    ann_lsh_pairs'."""
    return _adaptive_lsh_pairs(spark, sf_dir, ADAPTIVE_NREF)


# --------------------------------------------------------------------
# IVF building blocks: centroid computation + nearest-centroid
# assignment — the coarse quantizer of an IVF index
# --------------------------------------------------------------------

CENTROID_ROUND = 6


@register(
    "ivf_label_centroids",
    f"""
    WITH v AS (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
    ex AS (SELECT v.label, generate_subscripts(v.e, 1) AS pos,
                  unnest(v.e) AS val FROM v)
    SELECT CAST(label AS INT) AS label, CAST(pos AS INT) AS pos,
           ROUND(AVG(val) * 1e{CENTROID_ROUND}, 0) / 1e{CENTROID_ROUND}
             AS centroid_val
    FROM ex GROUP BY label, pos
    """,
    "element-wise centroid per label (posexplode + grouped mean) —"
    " the k-means/IVF coarse-quantizer training step",
    tags=("similarity", "ivf"),
)
def ivf_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: posexplode shuffles (label, pos) partial sums, never
    whole vectors; the mean is rounded so both engines (whose
    summation trees differ) agree bit-for-bit, which also lets the
    assignment step below run on identical centroids."""
    emb = read_testdata(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(as_double_array("embedding")).alias("pos0", "val")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "val")
    return ex.groupBy("label", "pos").agg(
        round_compat(F.avg("val"), CENTROID_ROUND).alias("centroid_val")
    ).select(
        F.col("label").cast("int").alias("label"),
        F.col("pos").cast("int").alias("pos"),
        "centroid_val",
    )


@register(
    "ivf_assignments",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    ex AS (SELECT t.label, generate_subscripts(t.e, 1) AS pos,
                  unnest(t.e) AS val
           FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings) t),
    cent AS (
      SELECT label, pos,
             ROUND(AVG(val) * 1e{CENTROID_ROUND}, 0) / 1e{CENTROID_ROUND} AS cv
      FROM ex GROUP BY label, pos),
    carr AS (
      SELECT label, list(cv ORDER BY pos) AS c FROM cent GROUP BY label),
    dists AS (
      SELECT v.vec_id, carr.label,
             list_sum(list_transform(range(1, len(v.e)+1),
                      i -> (v.e[i] - carr.c[i]) * (v.e[i] - carr.c[i]))) AS d
      FROM v CROSS JOIN carr),
    ranked AS (
      SELECT vec_id, label, d,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
      FROM dists)
    SELECT vec_id, CAST(label AS INT) AS assigned_label,
           ROUND(d * 1e6, 0) / 1e6 AS sq_dist
    FROM ranked WHERE rn = 1
    """,
    "nearest-centroid assignment (IVF coarse quantization): every"
    " vector routed to its closest label centroid",
    tags=("similarity", "ivf"),
)
def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF probe path: centroids (tiny) broadcast against the
    corpus; each vector computes k squared distances and keeps the
    argmin — a map-only stage at any corpus size. Rounded centroids
    make the distance arithmetic bit-identical to the oracle."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id", as_double_array("embedding").alias("e")
    )
    cent = ivf_label_centroids(spark, sf_dir)
    carr = (
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "centroid_val"))
                ),
                lambda s: s.centroid_val,
            ).alias("c")
        )
    )
    dist = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = emb.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", dist.alias("d")
    )
    w = Window.partitionBy("vec_id").orderBy("d", "label")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select(
            "vec_id",
            F.col("label").cast("int").alias("assigned_label"),
            round_compat("d", 6).alias("sq_dist"),
        )
    )


# Registered operating point. nprobe=2 (rounds 3-4) measured 0.38
# recall@5 on the isotropic test corpus — honest but a bad default to
# copy; nprobe=4 probes 40% of the lists and is the knee of the
# measured dial (bench.py --recall sweeps 1..n_lists on both the
# isotropic and the clustered corpus).
NPROBE = 4


@register(
    "ivf_topk_probe",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      {norm_sql('(embedding::DOUBLE[])')} AS nrm
               FROM embeddings),
    ex AS (SELECT t.label, generate_subscripts(t.e, 1) AS pos,
                  unnest(t.e) AS val
           FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings) t),
    cent AS (
      SELECT label, pos,
             ROUND(AVG(val) * 1e{CENTROID_ROUND}, 0) / 1e{CENTROID_ROUND} AS cv
      FROM ex GROUP BY label, pos),
    carr AS (
      SELECT label, list(cv ORDER BY pos) AS c FROM cent GROUP BY label),
    dists AS (
      SELECT v.vec_id, carr.label,
             list_sum(list_transform(range(1, len(v.e)+1),
                      i -> (v.e[i] - carr.c[i]) * (v.e[i] - carr.c[i]))) AS d
      FROM v CROSS JOIN carr),
    assigned AS (
      SELECT vec_id, label AS assigned_label FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
        FROM dists) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, label FROM (
        SELECT vec_id, label,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, label) AS rn
        FROM dists WHERE vec_id < {N_QUERIES}) WHERE rn <= {NPROBE}),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROUND({dot_sql('q.e', 'x.e')} / (q.nrm * x.nrm), 6) AS score
      FROM probes p
      JOIN assigned a ON a.assigned_label = p.label
      JOIN v q ON q.vec_id = p.query_id
      JOIN v x ON x.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored)
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           CAST(rank AS INT) AS rank, score
    FROM ranked WHERE rank <= {TOPK}
    """,
    f"IVF probe search: each query scans only its {NPROBE} nearest"
    " centroids' inverted lists — the complete train/assign/search"
    " index path",
    tags=("similarity", "ivf"),
)
def ivf_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF search path proper (train + assign exist as their own
    operators): query -> nprobe nearest centroids -> exact cosine over
    ONLY the vectors assigned to those lists -> top-k. Scale: corpus
    vectors never meet queries outside their probed lists, so scanned
    work is corpus/n_lists * nprobe per query — the inverted-file
    contract. Centroids are tiny and broadcast twice (assignment,
    probing); the candidate join is an equi-join on label. Approximate
    by construction (a true neighbour outside the probed lists is
    missed) — identical semantics declared in the oracle, so the hash
    gate still verifies exactly. Recall rises with nprobe (the IVF
    cost/recall dial — measured by ``bench.py --recall``'s sweep, 1.0
    at nprobe = n_lists); ``ivf_probe_topk`` exposes the dial."""
    return ivf_probe_topk(spark, sf_dir, NPROBE)


def ivf_probe_topk(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    """ivf_topk_probe's plan with the nprobe dial exposed."""
    emb = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "vec_id",
        as_double_array("embedding").alias("e"),
        norm(as_double_array("embedding")).alias("nrm"),
    )
    cent = ivf_label_centroids(spark, sf_dir)
    carr = (
        cent.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid_val"))),
                lambda s: s.centroid_val,
            ).alias("c")
        )
    )
    dist = F.aggregate(
        F.zip_with("e", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    dists = emb.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", dist.alias("d"), "e", "nrm"
    )
    w_assign = Window.partitionBy("vec_id").orderBy("d", "label")
    assigned = (
        dists.withColumn("rn", F.row_number().over(w_assign))
        .filter("rn = 1")
        .select("vec_id", F.col("label").alias("assigned_label"), "e", "nrm")
    )
    probes = (
        dists.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col("vec_id").alias("query_id"),
            "label",
            F.col("e").alias("qe"),
            F.col("nrm").alias("qnrm"),
        )
    )
    cand = assigned.join(
        F.broadcast(probes), F.col("assigned_label") == F.col("label")
    ).filter(F.col("vec_id") != F.col("query_id"))
    cos = dot("qe", "e") / (F.col("qnrm") * F.col("nrm"))
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        round_compat(cos, 6).alias("score"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "score")
    )




# --------------------------------------------------------------------
# k-means (Lloyd) refinement of the IVF coarse quantizer
# --------------------------------------------------------------------

KMEANS_ROUNDS = 2


def _kmeans_oracle() -> str:
    """Chained-CTE oracle for KMEANS_ROUNDS Lloyd iterations: label
    centroids as init, per-round assign (argmin sq-dist, label
    tie-break) then grouped-mean update rounded at CENTROID_ROUND —
    the same fixed-iteration + per-round-rounding contract as the
    PageRank oracle."""
    parts = [
        "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),",
        "exv AS (SELECT vec_id, generate_subscripts(e, 1) AS pos,"
        " unnest(e) AS val FROM v),",
        "ex0 AS (SELECT t.label, generate_subscripts(t.e, 1) AS pos,"
        " unnest(t.e) AS val FROM (SELECT label, embedding::DOUBLE[] AS e"
        " FROM embeddings) t),",
        f"cent0 AS (SELECT label, pos, ROUND(AVG(val) * 1e{CENTROID_ROUND}, 0)"
        f" / 1e{CENTROID_ROUND} AS cv FROM ex0 GROUP BY label, pos),",
    ]
    r = 0
    for r in range(KMEANS_ROUNDS):
        parts += [
            f"carr{r} AS (SELECT label, list(cv ORDER BY pos) AS c"
            f" FROM cent{r} GROUP BY label),",
            f"asg{r} AS (SELECT vec_id, label FROM ("
            f" SELECT v.vec_id, carr{r}.label,"
            f" ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY"
            f" list_sum(list_transform(range(1, len(v.e)+1),"
            f" i -> (v.e[i] - carr{r}.c[i]) * (v.e[i] - carr{r}.c[i]))),"
            f" carr{r}.label) AS rn"
            f" FROM v CROSS JOIN carr{r}) WHERE rn = 1),",
            f"cent{r + 1} AS (SELECT a.label, x.pos,"
            f" ROUND(AVG(x.val) * 1e{CENTROID_ROUND}, 0) / 1e{CENTROID_ROUND}"
            f" AS cv FROM asg{r} a JOIN exv x USING (vec_id)"
            f" GROUP BY a.label, x.pos),",
        ]
    final = r + 1
    parts += [
        f"sizes AS (SELECT label, COUNT(*) AS n_members FROM asg{r}"
        f" GROUP BY label)",
        f"SELECT CAST(c.label AS INT) AS cluster, CAST(c.pos AS INT) AS pos,"
        f" c.cv AS centroid_val, CAST(s.n_members AS BIGINT) AS n_members"
        f" FROM cent{final} c JOIN sizes s USING (label)",
    ]
    return "\n".join(parts)


@register(
    "ivf_kmeans_train",
    _kmeans_oracle(),
    f"k-means training of the IVF quantizer: {KMEANS_ROUNDS} Lloyd"
    " rounds (assign to nearest centroid, recompute means) from the"
    " label-centroid init, with per-round rounding keeping both"
    " engines on identical centroids — final centroids + cluster"
    " sizes",
    tags=("similarity", "ivf", "iterative"),
)
def ivf_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd iteration as bounded partial-statistics passes (round
    13, the PQ-training pattern): each round is ONE Arrow-batched
    map pass over the corpus — assign every vector to its argmin
    centroid inside the kernel (the same left-to-right float64
    distance fold as the former ``aggregate(zip_with)``, ties to the
    lowest label) and emit per-label (count, sum-vector) partials —
    closed on the driver into the next round's K x dim rounded
    centroid table. The former plan paid, per round, a crossJoin +
    per-vector row_number window + an assignment join + a
    (label, pos) groupBy + a localCheckpoint. Centroid means stay
    pinned across all three summation orders (numpy partials, the
    old Spark partial aggregation, DuckDB) by the CENTROID_ROUND
    rounding, exactly as cross-engine parity already relied on.
    Empty clusters drop out (no partial row). The final round's
    assignment counts ARE the cluster sizes — no extra pass."""
    import numpy as np
    import pandas as pd

    from aws_etl_global_footprint_network_spark.operators.similarity_pq import (
        _round6_np,
    )

    src = spread(read_testdata(spark, sf_dir, "embeddings")).select(
        "label", as_double_array("embedding").alias("e")
    )

    def label_pass(labels=None, carr=None):
        """One partials pass: natural-label grouping when ``carr`` is
        None, else argmin assignment against the rounded centroids."""

        @kernel
        def fn(it):
            lsum: dict[int, np.ndarray] = {}
            lcnt: dict[int, int] = {}
            dim = None
            for pdf in it:
                n = len(pdf)
                if n == 0:
                    continue
                x = np.stack(pdf["e"].to_numpy()).astype(np.float64)
                dim = x.shape[1]
                if carr is None:
                    lab = pdf["label"].to_numpy(dtype=np.int64)
                else:
                    dl = np.zeros((n, len(labels)))
                    for i in range(dim):
                        t = x[:, i][:, None] - carr[None, :, i]
                        dl = dl + t * t
                    lab = labels[np.argmin(dl, axis=1)]
                for lv in np.unique(lab):
                    rows = x[lab == lv]
                    acc = lsum.setdefault(int(lv), np.zeros(dim))
                    lsum[int(lv)] = acc + rows.sum(axis=0)
                    lcnt[int(lv)] = lcnt.get(int(lv), 0) + len(rows)
            if lsum:
                yield pd.DataFrame(
                    {
                        "lab": sorted(lsum),
                        "cnt": [lcnt[lv] for lv in sorted(lsum)],
                        "s": [lsum[lv].tolist() for lv in sorted(lsum)],
                    }
                )

        parts = src.mapInPandas(
            fn, "lab long, cnt long, s array<double>"
        ).collect()
        agg_s: dict[int, np.ndarray] = {}
        agg_n: dict[int, int] = {}
        for r in sorted(parts, key=lambda r: r["lab"]):
            acc = agg_s.setdefault(r["lab"], np.zeros(len(r["s"])))
            agg_s[r["lab"]] = acc + np.asarray(r["s"])
            agg_n[r["lab"]] = agg_n.get(r["lab"], 0) + r["cnt"]
        out_labels = np.asarray(sorted(agg_s), dtype=np.int64)
        cents = np.stack(
            [_round6_np(agg_s[lv] / agg_n[lv]) for lv in out_labels]
        ) if len(out_labels) else np.zeros((0, 0))
        sizes = {int(lv): agg_n[lv] for lv in out_labels}
        return out_labels, cents, sizes

    labels, carr, _ = label_pass()  # cent0: the label-centroid init
    sizes: dict[int, int] = {}
    for _ in range(KMEANS_ROUNDS):
        labels, carr, sizes = label_pass(labels=labels, carr=carr)
    rows = []
    for li, lv in enumerate(labels):
        for pos in range(carr.shape[1]):
            rows.append(
                (int(lv), pos + 1, float(carr[li, pos]), sizes[int(lv)])
            )
    return spark.createDataFrame(
        rows, "cluster int, pos int, centroid_val double, n_members bigint"
    )
