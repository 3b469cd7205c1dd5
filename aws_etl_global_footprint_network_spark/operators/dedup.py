"""Deduplication operators over the ``documents`` table ([EXT] —
LLM-data-pipeline surface, SURVEY §0/§7.6).

Four families, each fully distributed (no driver-side collects):

- exact: hash-groupBy on the full text.
- MinHash + LSH banding: shingle/token -> 31-bit portable hash ->
  k affine permutations -> per-doc signature -> band buckets ->
  candidate pairs via bucket equi-join -> exact Jaccard verify.
- SimHash: 60-bit sign-aggregated fingerprint per doc.
- n-gram Jaccard: exact word-shingle Jaccard on a bounded pair set.

Scale posture: every step is an explode + groupBy/join on hashed
keys. The LSH band join is the only pair-producing step and its
fan-out is controlled by band size, not corpus size — that is the
whole point of LSH at 100 TB. Hash functions are md5-derived
(functions.hashing) so the DuckDB oracle reproduces them bit-exactly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_etl_global_footprint_network_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_BANDS,
    MINHASH_K,
    MINHASH_ROWS_PER_BAND,
    P31,
    hash31,
    hash31_sql,
    md5_hash60,
    md5_hash60_sql,
    minhash_perm,
    minhash_perm_sql,
)
from aws_etl_global_footprint_network_spark.functions.text import (
    tokens,
    tokens_sql,
    word_shingles_sql,
)
from aws_etl_global_footprint_network_spark.functions.cache import CacheScope
from aws_etl_global_footprint_network_spark.functions.compat import round_compat
from aws_etl_global_footprint_network_spark.registry import register
from aws_etl_global_footprint_network_spark.sources.readers import read_testdata, spread
from aws_etl_global_footprint_network_spark.worker_imports import kernel

JACCARD_THRESHOLD = 0.2
NGRAM_THRESHOLD = 0.2
SIMHASH_BITS = 60


# --------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
    "exact dedup: one representative (min id) per identical text",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: groupBy on the text hash — Spark shuffles hashed keys,
    partial-aggregates map-side; at 100 TB you'd group on
    ``xxhash64(text)`` to avoid shuffling full documents (shown in
    tests); here the text itself is grouped so the oracle can match."""
    d = read_testdata(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("keep_doc_id", "n_copies")


# --------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------

def _token_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) with set semantics — exploded distinct tokens.

    The tokenizer is split into explode(split) + row filter +
    distinct: a generator whose child contains a higher-order lambda
    re-evaluates it per OUTPUT row and blocks codegen (measured 3.9s
    vs 0.45s at sf0.1), so the empty-token filter runs on exploded
    rows instead of inside the array."""
    d = spread(read_testdata(spark, sf_dir, "documents"))
    return (
        d.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, token) over the whole corpus — see `_shingle_rows`."""
    return _shingle_rows(spread(read_testdata(spark, sf_dir, "documents")))


def _shingle_rows(d: DataFrame) -> DataFrame:
    """(doc_id, token) where token is a distinct 3-word shingle.

    MinHash runs on shingles, not unigrams: with a small shared
    vocabulary nearly every document contains every word, so unigram
    Jaccard saturates; order-sensitive shingles keep the similarity
    signal (the classic Broder construction).

    Formulated as explode(index sequence) + per-row element_at
    assembly + distinct, NOT explode(transform(...)): a generator
    over a higher-order-function array re-evaluates the whole HOF
    chain per output row (no codegen), measured 12s vs 0.4s at
    sf0.1. The distinct is a row-level shuffle instead of a per-doc
    array_distinct for the same reason."""
    base = d.select("doc_id", tokens("text").alias("t"))
    # rows with <3 tokens produce NULL -> explode drops them
    idx = base.select(
        "doc_id",
        "t",
        F.explode(
            F.when(
                F.size("t") >= 3, F.sequence(F.lit(1), F.size("t") - F.lit(2))
            )
        ).alias("i"),
    )
    return idx.select(
        "doc_id",
        F.concat_ws(
            " ",
            F.element_at("t", F.col("i")),
            F.element_at("t", F.col("i") + F.lit(1)),
            F.element_at("t", F.col("i") + F.lit(2)),
        ).alias("token"),
    ).distinct()


def minhash_signatures(token_sets: DataFrame) -> DataFrame:
    """doc_id -> m0..m{k-1} minhash signature columns (JVM reference
    path over an exploded token table; the registered minhash queries
    use `_minhash_sig_np` — one Arrow pass, no explode/shuffle)."""
    h = token_sets.select("doc_id", hash31("token").alias("h"))
    aggs = [
        F.min(minhash_perm(F.col("h"), i)).alias(f"m{i}") for i in range(MINHASH_K)
    ]
    return h.groupBy("doc_id").agg(*aggs)


def _minhash_sig_np(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, m0..m{k-1}, n) in ONE Arrow-batched map-only pass
    (round 13, guide §4.2): tokenize, shingle, hash and take the K
    permutation minima per document inside the kernel, instead of
    exploding the corpus into a (doc_id, shingle) relation, running
    it through a distinct shuffle, and folding it back with a K-min
    groupBy shuffle. Every step is exact integer/string arithmetic,
    so the signatures are BIT-IDENTICAL to the JVM reference
    (`minhash_signatures` over `_shingle_sets`, pinned by test):
    Python ``str.lower`` / ``re.split('[^a-z0-9]+')`` match Spark's
    ``lower``/``split`` on this ASCII corpus contract, ``hashlib.md5``
    over UTF-8 bytes is the same md5 hex, ``int(hex[:15], 16) % P31``
    is the same 60-bit reduction, and the affine permutations are
    exact int64 (a, h < 2^31 so a*h + b < 2^63). Documents with
    fewer than 3 tokens emit no row, exactly like the explode path.
    ``n`` is the distinct-shingle count, the set size the verify
    stage divides by."""
    import hashlib
    import re

    A = np.asarray(MINHASH_A, dtype=np.int64)
    B = np.asarray(MINHASH_B, dtype=np.int64)

    @kernel
    def fn(it):
        pat = re.compile("[^a-z0-9]+")
        for pdf in it:
            ids: list[int] = []
            counts: list[int] = []
            hs_list: list[np.ndarray] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in pat.split((text or "").lower()) if t]
                if len(toks) < 3:
                    continue
                sh = {
                    " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
                }
                ids.append(did)
                counts.append(len(sh))
                hs_list.append(
                    np.fromiter(
                        (
                            int(
                                hashlib.md5(s.encode("utf-8")).hexdigest()[:15],
                                16,
                            )
                            % P31
                            for s in sh
                        ),
                        dtype=np.int64,
                        count=len(sh),
                    )
                )
            if not ids:
                continue
            nd = len(ids)
            allh = np.concatenate(hs_list)
            seg = np.repeat(np.arange(nd), np.asarray(counts))
            cols = {"doc_id": np.asarray(ids, dtype=np.int64)}
            for i in range(MINHASH_K):
                p = (A[i] * allh + B[i]) % P31
                mins = np.full(nd, np.iinfo(np.int64).max)
                np.minimum.at(mins, seg, p)
                cols[f"m{i}"] = mins
            cols["n"] = np.asarray(counts, dtype=np.int64)
            yield pd.DataFrame(cols)

    schema = (
        "doc_id bigint, "
        + ", ".join(f"m{i} bigint" for i in range(MINHASH_K))
        + ", n bigint"
    )
    return (
        spread(read_testdata(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInPandas(fn, schema)
    )


def lsh_band_buckets(signatures: DataFrame) -> DataFrame:
    """Explode a signature into (doc_id, band, bucket) rows.

    Bucket = base-P31 packing of the band's signature rows (2 rows of
    31 bits fit a bigint)."""
    bands = []
    for b in range(MINHASH_BANDS):
        lo = b * MINHASH_ROWS_PER_BAND
        val = F.col(f"m{lo}") * F.lit(P31) + F.col(f"m{lo + 1}")
        bands.append(
            F.struct(F.lit(b).alias("band"), val.alias("bucket")).alias(f"b{b}")
        )
    return (
        signatures.select("doc_id", F.explode(F.array(*bands)).alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def _minhash_oracle() -> str:
    # MATERIALIZED is load-bearing (the round-6 _lsh_oracle lesson,
    # caught again in round 12): DuckDB inlines every
    # non-MATERIALIZED CTE per reference, so `sig` recomputed the
    # whole shingle+hash+min-agg pipeline once per band and `tok`
    # once per consumer (4x) — measured 143.5 -> 3.8 s at sf1,
    # identical rows; the sf10 oracle went from stalled (>45 min)
    # to feasible.  Same fix in _containment_oracle below.
    perms = ", ".join(
        f"MIN({minhash_perm_sql('h', i)}) AS m{i}" for i in range(MINHASH_K)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, m{b * MINHASH_ROWS_PER_BAND} * {P31}::BIGINT "
        f"+ m{b * MINHASH_ROWS_PER_BAND + 1} AS bucket FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH base AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    tok AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct({word_shingles_sql('t', 3)})) AS token
      FROM base),
    h AS (SELECT doc_id, {hash31_sql('token')} AS h FROM tok),
    sig AS MATERIALIZED (SELECT doc_id, {perms} FROM h GROUP BY doc_id),
    bands AS MATERIALIZED ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN tok x ON x.doc_id = c.doc_a
      JOIN tok y ON y.doc_id = c.doc_b AND y.token = x.token
      GROUP BY c.doc_a, c.doc_b)
    SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
           ROUND(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {JACCARD_THRESHOLD}
    """


@register(
    "dedup_minhash_lsh",
    _minhash_oracle(),
    f"MinHash({MINHASH_K})+LSH({MINHASH_BANDS} bands) candidate pairs,"
    f" verified at exact Jaccard >= {JACCARD_THRESHOLD}",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via MinHash banding, verified with exact Jaccard.

    Scale: candidates come only from same-(band,bucket) joins; the
    verify join ships token sets only for candidate docs (tok is
    semi-joined against the candidate ids before the pair-token
    join), never all-pairs. No join in the verify stage carries a
    broadcast hint: cand/cand_docs/sizes are all proportional to the
    near-dup rate x corpus, unbounded at 100 TB — AQE broadcasts
    whichever side is genuinely small at runtime instead. Signatures
    and set sizes come from ONE Arrow-batched map pass
    (`_minhash_sig_np`, round 13) — the corpus-wide shingle explode,
    its distinct shuffle and the K-min groupBy shuffle no longer
    exist; the shingle relation is materialised ONLY for candidate
    documents (semi-join first, then tokenize — verify cost scales
    with the near-dup rate, not the corpus). Persisted intermediates
    are scoped: re-invoking the query unpersists the previous
    generation (functions.cache.CacheScope). ``sig`` is persisted
    because it feeds the band self-join AND both size lookups."""
    scope = CacheScope("dedup_minhash_lsh")
    sig = scope.persist(_minhash_sig_np(spark, sf_dir))
    bands = lsh_band_buckets(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = scope.persist(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # persisted: consumed three times (token prune + both size pruned
    # lookups); bounded by the candidate count, not the corpus
    cand_docs = scope.persist(
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select("doc_b"))
        .distinct()
    )
    # shingle ONLY the candidate docs (exact verify needs real token
    # sets; the semi-join keeps the tokenize+distinct proportional to
    # the candidate count). Hint-free verify joins (same pattern as
    # similarity.ann_lsh_pairs): cand / cand_docs / sizes all scale
    # with the near-dup rate x corpus, so a hard F.broadcast on any
    # of them is an OOM by construction at 100 TB. AQE still
    # broadcasts whichever side is actually small at runtime.
    tokc = scope.persist(
        _shingle_rows(
            read_testdata(spark, sf_dir, "documents").join(
                cand_docs, "doc_id", "left_semi"
            )
        )
    )
    x = tokc.alias("x")
    y = tokc.alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_b"))
            & (F.col("y.token") == F.col("x.token")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = scope.persist(
        sig.select("doc_id", "n").join(cand_docs, "doc_id", "left_semi")
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            round_compat(jac, 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------

def _simhash_oracle() -> str:
    terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct({tokens_sql('text')})) AS token
      FROM documents),
    h AS (SELECT doc_id, {md5_hash60_sql('token')} AS h FROM tok)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, ({terms}) AS simhash
    FROM h GROUP BY doc_id
    """


@register(
    "dedup_simhash",
    _simhash_oracle(),
    f"{SIMHASH_BITS}-bit SimHash fingerprint per document",
    tags=("dedup",),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-aggregated fingerprint: bit j of the hash votes +1/-1 per
    token; majority sets the output bit. ONE Arrow-batched map pass
    (round 13, the `_minhash_sig_np` pattern): tokenize, hash and
    vote inside the kernel instead of exploding the corpus into a
    (doc_id, token) relation, running it through a distinct shuffle
    and folding 60 SUM aggregates back through a groupBy shuffle.
    Every step is exact integer/string arithmetic — same md5 hex,
    same 60-bit reduction, same ±1 votes — so the fingerprints are
    BIT-IDENTICAL to the former JVM chain (pinned by test). Near-dup
    docs differ in O(1) bits (compared via hamming distance, pinned
    in tests)."""
    import hashlib
    import re

    @kernel
    def fn(it):
        pat = re.compile("[^a-z0-9]+")
        shifts = np.arange(SIMHASH_BITS, dtype=np.int64)
        for pdf in it:
            ids: list[int] = []
            sigs: list[int] = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = {t for t in pat.split((text or "").lower()) if t}
                if not toks:
                    continue
                hs = np.fromiter(
                    (
                        int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                        for t in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                bits = (hs[:, None] >> shifts[None, :]) & 1
                votes = (2 * bits - 1).sum(axis=0)
                ids.append(did)
                sigs.append(int(((votes > 0).astype(np.int64) << shifts).sum()))
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.asarray(ids, dtype=np.int64),
                        "simhash": np.asarray(sigs, dtype=np.int64),
                    }
                )

    return (
        spread(read_testdata(spark, sf_dir, "documents"))
        .select("doc_id", "text")
        .mapInPandas(fn, "doc_id bigint, simhash bigint")
    )


# --------------------------------------------------------------------
# n-gram (word shingle) exact Jaccard
# --------------------------------------------------------------------

def _ngram_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM documents
      WHERE doc_id < 150),
    sh AS (
      SELECT doc_id, unnest(list_distinct({word_shingles_sql('t', 3)})) AS shingle
      FROM base),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY x.doc_id, y.doc_id)
    SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
           ROUND(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.i * 1.0 / (sa.n + sb.n - i.i) >= {NGRAM_THRESHOLD}
    """


@register(
    "dedup_ngram_jaccard",
    _ngram_oracle(),
    f"exact word-3-gram Jaccard pairs (doc_id<150) >= {NGRAM_THRESHOLD}",
    tags=("dedup",),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard on a key-bounded subset. The unbounded
    version of this is exactly what MinHash LSH approximates — this is
    the ground-truth operator used to measure LSH recall in tests."""
    scope = CacheScope("dedup_ngram_jaccard")
    sh = scope.persist(
        _shingle_sets(spark, sf_dir)
        .filter(F.col("doc_id") < 150)
        .withColumnRenamed("token", "shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    inter = (
        x.join(
            y,
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= NGRAM_THRESHOLD)
        .select("doc_a", "doc_b", round_compat(jac, 6).alias("jaccard"))
    )


def _embedding_dedup_oracle() -> str:
    # Reuses the full ADAPTIVE sign-LSH pair oracle as a subquery
    # (round 11 — the fixed-geometry pairs scaled x24.7 on 10x vectors
    # at the sf10 probe; the adaptive index is the measured fix and at
    # gate scale degenerates to the same buckets); DuckDB allows a
    # WITH inside a derived table.
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        _adaptive_oracle,
    )

    return f"""
    SELECT vec_b AS dropped_id,
           MIN(vec_a) AS canonical_id,
           CAST(COUNT(*) AS BIGINT) AS n_partners,
           MAX(score) AS best_score
    FROM ({_adaptive_oracle()}) p
    GROUP BY vec_b
    """


@register(
    "dedup_embedding_cosine",
    _embedding_dedup_oracle(),
    "embedding-cosine near-dup dedup: sign-LSH candidate pairs verified"
    " at the near-dup cosine threshold, then a keep/drop decision —"
    " every vector that matches a lower-id vector is dropped in favor"
    " of its lowest-id partner (the canonical keeper)",
    tags=("dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fifth dedup family: near-duplicate detection by embedding
    cosine rather than lexical overlap. Candidates come from the
    banded sign-LSH index (operators.similarity) — never all-pairs —
    and the keep/drop policy is the standard lowest-id-canonical
    rule: a vector is dropped iff it is the higher id in at least one
    verified pair. One extra groupBy on top of the verified pairs, so
    the scale posture is exactly the index's — since round 11 that is
    ``ann_lsh_pairs_adaptive`` (corpus-adaptive bucket bits +
    Hamming-1 multi-probe), replacing the fixed geometry whose
    per-bucket occupancy grew linearly with n (x24.7 wall on 10x
    vectors, sf10 probe)."""
    from aws_etl_global_footprint_network_spark.operators.similarity import (
        ann_lsh_pairs_adaptive,
    )

    pairs = ann_lsh_pairs_adaptive(spark, sf_dir)
    return pairs.groupBy(F.col("vec_b").alias("dropped_id")).agg(
        F.min("vec_a").alias("canonical_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_partners"),
        F.max("score").alias("best_score"),
    )


# --------------------------------------------------------------------
# Containment (asymmetric near-dup)
# --------------------------------------------------------------------

# Max-containment threshold: |A ∩ B| / min(|A|, |B|). A small document
# wholly embedded in a larger one has low Jaccard (the union is big)
# but containment ~1 — the boilerplate-inclusion case Jaccard-only
# dedup misses (Broder's containment measure).
CONTAINMENT_THRESHOLD = 0.5


def _containment_oracle() -> str:
    perms = ", ".join(
        f"MIN({minhash_perm_sql('h', i)}) AS m{i}" for i in range(MINHASH_K)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, m{b * MINHASH_ROWS_PER_BAND} * {P31}::BIGINT "
        f"+ m{b * MINHASH_ROWS_PER_BAND + 1} AS bucket FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH base AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
    tok AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct({word_shingles_sql('t', 3)})) AS token
      FROM base),
    h AS (SELECT doc_id, {hash31_sql('token')} AS h FROM tok),
    sig AS MATERIALIZED (SELECT doc_id, {perms} FROM h GROUP BY doc_id),
    bands AS MATERIALIZED ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN tok x ON x.doc_id = c.doc_a
      JOIN tok y ON y.doc_id = c.doc_b AND y.token = x.token
      GROUP BY c.doc_a, c.doc_b)
    SELECT CAST(i.doc_a AS BIGINT) AS doc_a, CAST(i.doc_b AS BIGINT) AS doc_b,
           ROUND(i.i * 1.0 / (sa.n + sb.n - i.i) * 1e6, 0) / 1e6 AS jaccard,
           ROUND(i.i * 1.0 / LEAST(sa.n, sb.n) * 1e6, 0) / 1e6 AS containment
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.i * 1.0 / LEAST(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
    """


@register(
    "dedup_containment_pairs",
    _containment_oracle(),
    f"asymmetric near-dup pairs at max-containment >="
    f" {CONTAINMENT_THRESHOLD} (|A∩B| / min set size) over the MinHash"
    " band candidates — catches a short document embedded in a longer"
    " one, which Jaccard-threshold dedup misses",
    tags=("dedup", "lsh"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same banded candidate generation and exact-verify shape as
    ``dedup_minhash_lsh`` (one signature groupBy carrying set sizes,
    candidates only from (band, bucket) collisions, verify pruned to
    candidate docs), but verified on max-containment: the denominator
    is the SMALLER set, so boilerplate inclusion scores ~1 even when
    the union dwarfs the intersection. Candidates still come from
    Jaccard-tuned minhash bands — the documented recall boundary: a
    tiny-in-huge pair whose signatures never collide is missed; a
    dedicated containment index would band the small side's
    signature only."""
    scope = CacheScope("dedup_containment_pairs")
    sig = scope.persist(_minhash_sig_np(spark, sf_dir))
    bands = lsh_band_buckets(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = scope.persist(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # persisted: consumed three times (token prune + both size pruned
    # lookups); bounded by the candidate count, not the corpus
    cand_docs = scope.persist(
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select("doc_b"))
        .distinct()
    )
    # shingle ONLY the candidate docs (round 13 — see
    # dedup_minhash_lsh); hint-free verify joins, AQE broadcasts the
    # genuinely small side at runtime.
    tokc = scope.persist(
        _shingle_rows(
            read_testdata(spark, sf_dir, "documents").join(
                cand_docs, "doc_id", "left_semi"
            )
        )
    )
    x = tokc.alias("x")
    y = tokc.alias("y")
    inter = (
        cand.join(x, F.col("x.doc_id") == F.col("doc_a"))
        .join(
            y,
            (F.col("y.doc_id") == F.col("doc_b"))
            & (F.col("y.token") == F.col("x.token")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sizes = scope.persist(
        sig.select("doc_id", "n").join(cand_docs, "doc_id", "left_semi")
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    cont = F.col("i") / F.least(F.col("sa.n"), F.col("sb.n"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            round_compat(jac, 6).alias("jaccard"),
            round_compat(cont, 6).alias("containment"),
        )
    )
