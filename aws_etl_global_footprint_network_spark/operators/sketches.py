"""Streaming-summary sketches ([EXT]): two-pass exact heavy hitters
via per-partition Misra-Gries.

The straight answer to "which tokens exceed s% of the stream" is a
full groupBy over the token stream — a shuffle whose key cardinality
is the vocabulary. At 100 TB of text that shuffle is the bottleneck,
and it is almost entirely wasted: only a handful of keys can possibly
clear the support threshold. The classic fix (Misra-Gries '82, the
`frequent` algorithm) summarises each partition in O(capacity) space
with the guarantee that any item with partition frequency
> n_p/(capacity+1) survives; since a global heavy hitter with
frequency > n/(capacity+1) must exceed that density in at least one
partition (pigeonhole), the union of per-partition survivors is a
SUPERSET of the true heavy hitters. Pass 2 then counts ONLY the
candidates exactly — a shuffle bounded by capacity x partitions keys
instead of the vocabulary.

The final output is therefore EXACT (the sketch only proposes; the
recount disposes), which is what lets a plain-SQL DuckDB oracle
hash-match it. On this synthetic corpus the vocabulary is tiny, so
the candidate set degenerates to "everything" — the value here is the
measured two-pass structure, which is unchanged when the vocabulary
is 10^9.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.functions.text import tokens, tokens_sql
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread
from aws_etl_global_footprint_network_spark.worker_imports import kernel

# Support threshold: keep tokens occurring in >= 3% of the stream.
# Integer-exact comparison (100 * count >= 3 * total) on both engines
# — no float boundary can flap the gate.
SUPPORT_PCT = 3
# Misra-Gries capacity. Correctness needs capacity + 1 > 100 /
# SUPPORT_PCT (here 64 + 1 > 33.3) so every true heavy hitter
# survives at least one partition summary.
MG_CAPACITY = 64


def weighted_mg_merge(counters: dict, items, capacity: int) -> None:
    """Merge pre-COUNTED (item, weight) pairs into a Misra-Gries table
    in place. Inserting weight c into a full table subtracts
    d = min(c, min counter) from all capacity+1 entries (the new one
    included) and drops zeros — MG's guarantee is order-independent,
    so batching the stream into weighted updates preserves it: total
    decrement charged to any item still <= n/(capacity+1), hence every
    item with frequency above that survives
    (tests/test_property_components.py pins this over random streams,
    batchings, and capacities)."""
    for t, c in items:
        c = int(c)
        if t in counters:
            counters[t] += c
        elif len(counters) < capacity:
            counters[t] = c
        else:
            d = min(c, min(counters.values()))
            if c > d:
                counters[t] = c - d
            dead = []
            for k, v in counters.items():
                if k == t:
                    continue
                if v <= d:
                    dead.append(k)
                else:
                    counters[k] = v - d
            for k in dead:
                del counters[k]


def _mg_survivors_and_counts(token_stream: DataFrame, col: str) -> DataFrame:
    """Pass 1: per-partition Misra-Gries survivors (a candidate
    superset of the global heavy hitters) PLUS one row per partition
    carrying the partition's token count (``col`` NULL, ``_pn`` set).
    mapInPandas keeps ONE O(MG_CAPACITY) dict per partition across all
    of its Arrow batches — map-only, no shuffle, constant memory. Each
    batch is pre-counted vectorized (value_counts, C speed) and only
    the COUNTED items hit the interpreter — Python cost is
    O(distinct-per-batch x capacity) worst case, not O(tokens).

    Emitting the stream length from the same pass (round 12) lets
    heavy_hitters_twopass drop its separate COUNT(*) scan: the stream
    is a tokenize+explode of the corpus, so the third full pass was
    pure recompute of the other two."""

    @kernel
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            weighted_mg_merge(
                counters, pdf[col].value_counts().items(), MG_CAPACITY
            )
        yield pd.DataFrame(
            {
                col: list(counters.keys()) + [None],
                "_pn": [0] * len(counters) + [n],
            }
        )

    return token_stream.mapInPandas(
        op,
        schema=T.StructType(
            [
                T.StructField(col, T.StringType()),
                T.StructField("_pn", T.LongType()),
            ]
        ),
    )


def misra_gries_candidates(token_stream: DataFrame, col: str) -> DataFrame:
    """Distinct per-partition Misra-Gries survivors — see
    :func:`_mg_survivors_and_counts`."""
    return (
        _mg_survivors_and_counts(token_stream, col)
        .filter(F.col(col).isNotNull())
        .select(col)
        .distinct()
    )


@register(
    "heavy_hitters_twopass",
    f"""
    WITH tok AS (
      SELECT unnest({tokens_sql('text')}) AS token FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    c AS (SELECT token, COUNT(*) AS n_occurrences FROM tok GROUP BY token)
    SELECT c.token, CAST(c.n_occurrences AS BIGINT) AS n_occurrences,
           ROUND(c.n_occurrences * 1.0 / t.n * 1000000, 0) / 1000000
             AS support
    FROM c, tot t
    WHERE 100 * c.n_occurrences >= {SUPPORT_PCT} * t.n
    """,
    f"exact heavy hitters (tokens with >= {SUPPORT_PCT}% stream"
    " support) found with a per-partition Misra-Gries candidate pass"
    " + an exact recount of candidates only — the shuffle is bounded"
    " by sketch capacity x partitions, never by vocabulary size"
    " (oracle: the full groupBy it replaces)",
    tags=("sketch", "text", "scale"),
)
def heavy_hitters_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aws_etl_global_footprint_network_spark.functions.cache import (
        CacheScope,
    )

    scope = CacheScope("heavy_hitters_twopass")
    d = spread(read_testdata(spark, sf_dir, "documents"))
    stream = d.select(F.explode(tokens("text")).alias("token"))
    # ONE Python pass yields both the candidate superset and the
    # per-partition stream lengths (round 12: the stream total used to
    # be a third full tokenize+explode scan of the corpus). The
    # MG output is bounded (<= capacity x partitions + partitions
    # rows), so persisting it costs nothing at any scale.
    mg = scope.persist(_mg_survivors_and_counts(stream, "token"))
    total = mg.agg(F.sum("_pn").alias("n"))
    candidates = mg.filter(F.col("token").isNotNull()).select("token").distinct()
    counted = (
        stream.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
    )
    return counted.filter(
        100 * F.col("n_occurrences") >= SUPPORT_PCT * F.col("n")
    ).select(
        "token",
        "n_occurrences",
        round_compat(F.col("n_occurrences") / F.col("n"), 6).alias("support"),
    )


# --- Count-min sketch -----------------------------------------------------
# CMS cells are plain (row, bucket) grouped sums — the sketch IS an
# aggregation, so it builds with one vocabulary-bounded shuffle and
# the cell table (D x W rows) broadcasts anywhere. Estimates are
# min over rows; CMS guarantees estimate >= exact, which the output
# exposes (overcount column) and the test pins.
CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOPK = 20


def _cms_hash_sql(d: int) -> str:
    from aws_etl_global_footprint_network_spark.functions.hashing import (
        MINHASH_A,
        MINHASH_B,
        P31,
        hash31_sql,
    )

    return (
        f"((({MINHASH_A[d]} * {hash31_sql('token')} + {MINHASH_B[d]})"
        f" % {P31}) % {CMS_WIDTH})"
    )


def _cms_oracle() -> str:
    from aws_etl_global_footprint_network_spark.functions.text import tokens_sql

    rows = " UNION ALL ".join(
        f"SELECT token, n, {d} AS d, {_cms_hash_sql(d)} AS bucket FROM c"
        for d in range(CMS_DEPTH)
    )
    return f"""
    WITH tok AS (
      SELECT unnest({tokens_sql('text')}) AS token FROM documents),
    c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    keyed AS ({rows}),
    cells AS (SELECT d, bucket, SUM(n) AS cell FROM keyed GROUP BY d, bucket),
    top AS (SELECT token, n FROM c
            ORDER BY n DESC, token LIMIT {CMS_TOPK})
    SELECT t.token, CAST(t.n AS BIGINT) AS exact_n,
           CAST(MIN(cl.cell) AS BIGINT) AS cms_estimate,
           CAST(MIN(cl.cell) - t.n AS BIGINT) AS overcount
    FROM top t
    JOIN keyed k ON k.token = t.token
    JOIN cells cl ON cl.d = k.d AND cl.bucket = k.bucket
    GROUP BY t.token, t.n
    """


@register(
    "cms_frequency_estimates",
    _cms_oracle(),
    f"count-min sketch ({CMS_DEPTH}x{CMS_WIDTH}, md5-affine portable"
    f" hashes): the sketch builds as a grouped aggregation (one"
    " vocabulary-bounded shuffle; the cell table is DxW rows and"
    f" broadcasts anywhere), then the top-{CMS_TOPK} tokens' estimates"
    " = min over rows are validated against their exact counts — the"
    " CMS overcount guarantee (estimate >= exact) is an output column",
    tags=("sketch", "text", "scale"),
)
def cms_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the point is the asymmetry: the exact count table
    scales with the vocabulary, the sketch is O(D*W) regardless — a
    point-queryable frequency summary you can broadcast into any
    later stage. Building it as groupBy sums (not per-row state)
    keeps it one Catalyst plan with map-side partial aggregation."""
    from aws_etl_global_footprint_network_spark.functions.hashing import (
        MINHASH_A,
        MINHASH_B,
        P31,
        hash31,
    )
    from aws_etl_global_footprint_network_spark.functions.text import tokens as toks

    from aws_etl_global_footprint_network_spark.functions.cache import CacheScope

    scope = CacheScope("cms_frequency_estimates")
    d0 = spread(read_testdata(spark, sf_dir, "documents"))
    # persist the vocabulary-sized count table: without it the
    # tokenize+explode+groupBy subtree re-executes for every consumer
    # (the D sketch rows, the top-k cut, and the final join).
    c = scope.persist(
        d0.select(F.explode(toks("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # one map-side explode of the depth dimension instead of a D-way
    # union of the same subtree: the affine coefficients enter as
    # array literals indexed by d.
    a_arr = F.array(*[F.lit(MINHASH_A[d]) for d in range(CMS_DEPTH)])
    b_arr = F.array(*[F.lit(MINHASH_B[d]) for d in range(CMS_DEPTH)])
    h = hash31("token")
    keyed = c.select(
        "token",
        "n",
        F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)])).alias("d"),
        h.alias("h"),
    ).select(
        "token",
        "n",
        "d",
        (
            (
                (
                    F.element_at(a_arr, F.col("d") + 1) * F.col("h")
                    + F.element_at(b_arr, F.col("d") + 1)
                )
                % P31
            )
            % CMS_WIDTH
        ).alias("bucket"),
    )
    cells = keyed.groupBy("d", "bucket").agg(F.sum("n").alias("cell"))
    top = c.orderBy(F.col("n").desc(), "token").limit(CMS_TOPK).select(
        "token", F.col("n").alias("exact_n")
    )
    return (
        top.join(keyed.select("token", "d", "bucket"), "token")
        .join(F.broadcast(cells), ["d", "bucket"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell").alias("cms_estimate"))
        .select(
            "token",
            F.col("exact_n").cast("bigint"),
            F.col("cms_estimate").cast("bigint"),
            (F.col("cms_estimate") - F.col("exact_n")).cast("bigint").alias(
                "overcount"
            ),
        )
    )
