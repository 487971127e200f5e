"""Deduplication operators (north-star LLM-pipeline surface).

The reference's only dedup story is "none" — it is an at-least-once
writer that may *produce* duplicates on restart
(`KafkaProtoParquetWriter.java:43-44`). These operators are the batch
dedup toolkit a 100 TB training-data pipeline needs:

- exact key dedup (deterministic min-per-key),
- MinHash + LSH banding (near-dup candidate generation at scale:
  cost ∝ corpus + bucket collisions, never all-pairs),
- SimHash (bitwise fingerprint, hamming-ball matching),
- exact n-gram Jaccard (inverted-index join — the verifier / small-scale
  baseline),
- embedding-cosine near-dup.

Verifiability: the MinHash/SimHash permutations use the *portable*
integer-arithmetic hash family from functions/texthash.py, so the
DuckDB oracle runs the identical algorithm and the driver's value-hash
matches exactly. The production-scale variant (xxhash64, no dictionary)
is exposed as library functions with the same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_parquet_writer_spark.artifacts import cache_frame
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.functions import texthash as TH
from kafka_parquet_writer_spark.functions import vector as V
from kafka_parquet_writer_spark.functions.portable import pround
from kafka_parquet_writer_spark.registry import query

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT e.user_id, e.event_type, e.event_id, (floor((e.value) * 1e2 + 0.5) / 1e2) AS value_r
    FROM events e
    JOIN (SELECT user_id, event_type, min(event_id) AS first_id
          FROM events GROUP BY user_id, event_type) k
      ON e.event_id = k.first_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on (user_id, event_type), keeping the row with the
    smallest event_id — the deterministic formulation of
    ``dropDuplicates`` (whose tie choice is partition-order-dependent).

    Scale: one shuffle on the dedup key; window row_number=1 streams
    per group, no buffering of the whole group.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", pround(F.col("value"), 2).alias("value_r"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4
MINHASH_COEFFS = TH.minhash_coeffs(MINHASH_K, seed=42)
JACCARD_THRESHOLD = 0.6
SHINGLE_N = 2


def _shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, shingle) word-bigram pairs from documents.

    Repartition by doc_id BEFORE exploding: (a) tokenize+hash runs with
    full core parallelism even when the source is a handful of parquet
    splits, and (b) the rows arrive already hash-partitioned by doc, so
    the downstream groupBy("doc") (signatures/profiles) needs no second
    exchange — Spark's alias-aware output partitioning carries
    doc_id→doc through the projection. The shuffle moves raw documents
    (small) instead of the ~50× larger exploded shingle table."""
    from kafka_parquet_writer_spark.session import repartition_for_compute

    docs = repartition_for_compute(
        load_table(spark, sf_dir, "documents"), F.col("doc_id")
    )
    return docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(TH.word_shingles_expr("text", SHINGLE_N)).alias("shingle"),
    )


def _token_ids(sh: DataFrame, use_xxhash: bool = False) -> DataFrame:
    """(doc, tid): shingle → int id via a stateless per-row hash — no
    dictionary, no global sort, no vocabulary join. ``use_xxhash``
    picks the cheaper non-portable hash for production runs; the
    default md5-prefix hash is bit-identical in DuckDB."""
    if use_xxhash:
        # reduce into [0, P) so a·tid stays far below 2^63 (ANSI overflow)
        tid = F.pmod(F.xxhash64("shingle"), F.lit(TH.MERSENNE_P))
    else:
        tid = TH.portable_tid(F.col("shingle"))
    return sh.select("doc", tid.alias("tid"))


def _tid_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, tid) with tids DISTINCT per doc, deduplicated in the
    ARRAY domain before the explode (array_distinct over the per-row
    shingle array) — set semantics with zero extra shuffle. The
    jaccard/containment operators need sets because their oracles are
    set-formulated; a 31-bit tid collision inside one doc must
    conflate shingles identically on both engines."""
    from kafka_parquet_writer_spark.session import repartition_for_compute

    docs = repartition_for_compute(
        load_table(spark, sf_dir, "documents"), F.col("doc_id")
    )
    tids = F.array_distinct(
        F.transform(
            TH.word_shingles_expr("text", SHINGLE_N),
            lambda s: TH.portable_tid(s),
        )
    )
    return docs.select(
        F.col("doc_id").alias("doc"), F.explode(tids).alias("tid")
    )


def _ranked_tids(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The set-similarity base of dedup_ngram_jaccard and
    dedup_containment: (docsets, ranked). docsets is (doc, ss, n), the
    verifier's token set and its size from one groupBy(doc); ranked is
    (doc, tid, n, r), each doc's tokens ranked rarest-first under one
    total global (df, tid) order, the order both prefix filters cut.
    The tid sets and docsets are cached under ("ranked_tids", sf_dir).

    tids, not shingle strings: 8-byte join keys and long-array docsets
    instead of ~20-char strings. tids live in [0, 2^31): a collision
    conflates two shingles IDENTICALLY on both engines (st is DISTINCT
    (doc, tid) on both sides), so engine-equality always holds; only
    the hashed-shingle set similarity itself drifts from the
    string-level value, with per-doc probability ~m²/2^32."""
    key = ("ranked_tids", sf_dir)
    st = cache_frame(key, _tid_sets(spark, sf_dir))
    sets = st.groupBy("doc").agg(
        F.collect_set("tid").alias("ss"), F.count(F.lit(1)).alias("n")
    )
    docsets = cache_frame(key, sets, fresh=False)
    dfreq = st.groupBy("tid").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc").orderBy("df", "tid")
    ranked = (
        st.join(dfreq, "tid")
        .join(docsets.select("doc", "n"), "doc")
        .withColumn("r", F.row_number().over(w))
        .select("doc", "tid", "n", "r")
    )
    return docsets, ranked


def minhash_signatures(
    sh: DataFrame, coeffs: list[tuple[int, int]], use_xxhash: bool = False
) -> DataFrame:
    """doc → k MinHash values (one partial-aggregating shuffle on doc)."""
    st = _token_ids(sh, use_xxhash)
    aggs = [
        F.min(TH.affine_hash(F.col("tid"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return st.groupBy("doc").agg(*aggs)


def _doc_profiles(
    sh: DataFrame, coeffs: list[tuple[int, int]], use_xxhash: bool = False
) -> DataFrame:
    """Per-doc MinHash signature + shingle set + size in ONE shuffle.

    The signature build and the exact-Jaccard verifier both need a
    groupBy(doc) over the full (doc, shingle) table; computing them in
    the same aggregation halves the shuffled volume and lets the
    (much smaller, one-row-per-doc) result be cached instead of the raw
    shingle pairs."""
    if use_xxhash:
        tid = F.pmod(F.xxhash64("shingle"), F.lit(TH.MERSENNE_P))
    else:
        tid = TH.portable_tid(F.col("shingle"))
    st = sh.select("doc", "shingle", tid.alias("tid"))
    aggs = [
        F.min(TH.affine_hash(F.col("tid"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ] + [
        F.collect_set("shingle").alias("ss"),
        F.count(F.lit(1)).alias("n"),
    ]
    return st.groupBy("doc").agg(*aggs)


def _lsh_candidates(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """Distinct (d1 < d2) pairs sharing at least one full band."""
    band_structs = [
        F.struct(
            F.lit(j).alias("band"),
            F.concat_ws(",", *[F.col(f"h{j * rows + r}") for r in range(rows)]).alias(
                "sig"
            ),
        )
        for j in range(bands)
    ]
    banded = sigs.select("doc", F.explode(F.array(*band_structs)).alias("bs")).select(
        "doc", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )


def _verify_jaccard(docsets: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard over candidate pairs only.

    ``docsets`` is (doc, ss: array<string>, n) — each doc's shingle set
    and size, typically a projection of the one-shuffle `_doc_profiles`.
    The small candidate list joins against it twice — AQE broadcasts the
    candidate side — and the intersection is a per-row JVM array op. The
    alternative (joining the shingle table against itself restricted to
    candidates) shuffles the full shingle table twice. The oracle
    computes the identical set arithmetic relationally; values match
    because |A∩B| and set sizes are integers.
    """
    d1 = docsets.select(
        F.col("doc").alias("d1"), F.col("ss").alias("ss1"), F.col("n").alias("n1")
    )
    d2 = docsets.select(
        F.col("doc").alias("d2"), F.col("ss").alias("ss2"), F.col("n").alias("n2")
    )
    inter = F.size(F.array_intersect("ss1", "ss2"))
    jac = inter.cast("double") / (F.col("n1") + F.col("n2") - inter)
    return (
        cand.join(d1, "d1")
        .join(d2, "d2")
        .filter(jac >= threshold)
        .select("d1", "d2", pround(jac, 6).alias("jac"))
    )


def _minhash_oracle() -> str:
    P = TH.MERSENNE_P
    hs = ",\n      ".join(
        f"min({TH.sql_affine('tid', a, b)}) AS h{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        "SELECT doc, {j} AS band, concat_ws(',', {cols}) AS sig FROM sigs".format(
            j=j,
            cols=", ".join(f"h{j * MINHASH_ROWS + r}" for r in range(MINHASH_ROWS)),
        )
        for j in range(MINHASH_BANDS)
    )
    return f"""
    WITH sh AS ({TH.sql_shingle_cte('documents', 'doc_id', 'text', SHINGLE_N)}),
    st AS (SELECT doc, {TH.sql_portable_tid('shingle')} AS tid FROM sh),
    sigs AS (SELECT doc, {hs} FROM st GROUP BY doc),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS d1, b.doc AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
    ),
    sizes AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
    inter AS (
      SELECT d1, d2, count(*) AS i
      FROM cand
      JOIN sh t1 ON t1.doc = cand.d1
      JOIN sh t2 ON t2.doc = cand.d2 AND t2.shingle = t1.shingle
      GROUP BY d1, d2
    )
    SELECT d1, d2,
           (floor((CAST(i AS DOUBLE) / (s1.n + s2.n - i)) * 1e6 + 0.5) / 1e6) AS jac
    FROM inter
    JOIN sizes s1 ON s1.doc = inter.d1
    JOIN sizes s2 ON s2.doc = inter.d2
    WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {JACCARD_THRESHOLD}
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands × 4 rows) near-dup detection on word
    bigram shingles, exact-Jaccard-verified at ≥ 0.6.

    Scale: the only all-pairs-ish step is the within-bucket self-join —
    bucket sizes are bounded by signature collisions, so cost is
    ∝ Σ bucket². No cross product ever materializes. Token ids come
    from a stateless per-row hash (no dictionary, no global sort);
    use_xxhash=True picks the cheaper non-portable hash in production.
    """
    # one shuffle of the shingle table produces signatures AND the
    # verifier's per-doc shingle sets; cache that (one row per doc)
    # rather than the raw exploded pairs
    prof = _doc_profiles(
        _shingle_pairs(spark, sf_dir), MINHASH_COEFFS
    ).cache()
    cand = _lsh_candidates(prof, MINHASH_BANDS, MINHASH_ROWS)
    return _verify_jaccard(prof.select("doc", "ss", "n"), cand, JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 4
SIMHASH_BAND_BYTES = 4  # 4 bands × 8 bits


def simhash_signature(st: DataFrame) -> DataFrame:
    """doc → 32-bit SimHash (as BIGINT) from (doc, tid) pairs.

    bit_j = sign of Σ_tokens (±1 from bit j of the token hash). The
    token id is a 60-bit md5-derived hash (functions/texthash.py), so
    its low 32 bits are already independent coin flips — extracting
    them (shift+mask per row) replaces the 32 multiply-mod affine
    hashes of the classic formulation at identical signature quality.
    """
    sums = st.groupBy("doc").agg(
        *[
            F.sum(
                F.shiftright(F.col("tid"), j).bitwiseAND(F.lit(1)) * 2 - 1
            ).alias(f"s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for j in range(SIMHASH_BITS):
        bit = (F.col(f"s{j}") >= 0).cast("long") * F.lit(1 << j)
        sig = bit if sig is None else sig + bit
    return sums.select("doc", sig.alias("sig"))


def _simhash_oracle() -> str:
    sums = ",\n      ".join(
        f"sum(((tid >> {j}) & 1) * 2 - 1) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    sig_terms = " + ".join(
        f"CAST(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END AS BIGINT)"
        for j in range(SIMHASH_BITS)
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc, sig, {b} AS band, (sig >> {8 * b}) & 255 AS byte FROM sigs"
        for b in range(SIMHASH_BAND_BYTES)
    )
    return f"""
    WITH sh AS ({TH.sql_shingle_cte('documents', 'doc_id', 'text', SHINGLE_N)}),
    st AS (SELECT doc, {TH.sql_portable_tid('shingle')} AS tid FROM sh),
    sums AS (SELECT doc, {sums} FROM st GROUP BY doc),
    sigs AS (SELECT doc, {sig_terms} AS sig FROM sums),
    bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.doc AS d1, a.sig AS sig1, b.doc AS d2, b.sig AS sig2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.byte = b.byte AND a.doc < b.doc
    )
    SELECT d1, d2, CAST(bit_count(xor(sig1, sig2)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sig1, sig2)) <= {SIMHASH_MAX_HAMMING}
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32-bit) near-dup pairs with hamming ≤ 4, candidates via
    4 byte-bands (pigeonhole: any pair within hamming 4 of 32 bits could
    still differ in every byte — bands are a recall/cost tradeoff, and
    the oracle runs the identical banding).

    Scale: signature table is one row per doc (tiny); band self-joins
    are equi-joins on (band, byte) — shuffle-friendly, skew handled by
    AQE.
    """
    # cache the signature table (one small row per doc): both sides of
    # the band self-join consume it, and without the cache Spark
    # re-runs the whole tokenize+hash+aggregate pipeline per side
    sh = _shingle_pairs(spark, sf_dir)
    sigs = simhash_signature(_token_ids(sh)).cache()
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("sig"), 8 * b).bitwiseAND(F.lit(255)).alias("byte"),
        )
        for b in range(SIMHASH_BAND_BYTES)
    ]
    banded = sigs.select(
        "doc", "sig", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc", "sig", F.col("bs.band").alias("band"), F.col("bs.byte").alias("byte"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("d1"),
            F.col("a.sig").alias("sig1"),
            F.col("b.doc").alias("d2"),
            F.col("b.sig").alias("sig2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    return cand.filter(hamming <= SIMHASH_MAX_HAMMING).select(
        "d1", "d2", hamming.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({TH.sql_shingle_cte('documents', 'doc_id', 'text', SHINGLE_N)}),
    st AS (SELECT DISTINCT doc, {TH.sql_portable_tid('shingle')} AS tid FROM sh),
    sizes AS (SELECT doc, count(*) AS n FROM st GROUP BY doc),
    inter AS (
      SELECT t1.doc AS d1, t2.doc AS d2, count(*) AS i
      FROM st t1 JOIN st t2 ON t1.tid = t2.tid AND t1.doc < t2.doc
      GROUP BY t1.doc, t2.doc
    )
    SELECT d1, d2, (floor((CAST(i AS DOUBLE) / (s1.n + s2.n - i)) * 1e6 + 0.5) / 1e6) AS jac
    FROM inter
    JOIN sizes s1 ON s1.doc = inter.d1
    JOIN sizes s2 ON s2.doc = inter.d2
    WHERE CAST(i AS DOUBLE) / (s1.n + s2.n - i) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-bigram Jaccard ≥ 0.6 via AllPairs/PPJoin-style prefix
    filtering (Bayardo et al., WWW'07) — lossless, so the oracle is the
    plain all-pairs SQL and verifies exactness.

    Why not the naive inverted-index self-join: its cost is
    ∝ Σ_shingle df(shingle)², quadratic on stop-shingles (measured 23 s
    at sf0.1 vs <2 s for this form; at 100 TB it never finishes).

    Prefix filter: for jac(A,B) ≥ t, |A∩B| ≥ t·max(|A|,|B|)
    (since jac ≥ t ⇒ i ≥ t·(|A|+|B|−i) and |B| ≥ i ⇒ i ≥ t|A|, symm.).
    Under one global token order (rarest-first by document frequency),
    any qualifying pair must collide within the first
    |X| − ⌈t·|X|⌉ + 1 tokens of each side — so only those rows are
    indexed, shrinking the join input by ~t and biasing it to LOW-df
    tokens. Three further pruners run inside the join predicate:
    the length filter (t·max ≤ min), and PPJoin's positional filter —
    a collision at ranks (rA, rB) can yield overlap at most
    1 + min(n1−rA, n2−rB), which must reach α = ⌈t/(1+t)·(n1+n2)⌉
    (cuts candidates ~2× on template-heavy corpora where rare-first
    ordering alone is weak). Candidates are exact-verified with one
    array_intersect pass over 8-byte token hashes (per-row JVM op).
    """
    t = JACCARD_THRESHOLD
    docsets, ranked = _ranked_tids(spark, sf_dir)
    # explicit repartition on the join key + cache: the self-join reads
    # the cached table twice with matching partitioning (no further
    # shuffle), and AQE cannot coalesce this byte-small but
    # OUTPUT-explosive join down to 2 partitions (measured 17s → 7s)
    from kafka_parquet_writer_spark.session import repartition_for_compute

    head = F.col("r") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1
    prefix = cache_frame(
        ("dedup_ngram_jaccard", sf_dir),
        repartition_for_compute(ranked.filter(head), F.col("tid")),
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # overlap needed for jac ≥ t: α = ⌈t/(1+t)·(n1+n2)⌉
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("a.n") + F.col("b.n")))
    # positional filter (PPJoin): colliding at ranks (rA, rB), the
    # achievable overlap is ≤ 1 + min(n1−rA, n2−rB) — prunes collisions
    # deep in either prefix BEFORE the pair ever materializes
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.r"), F.col("b.n") - F.col("b.r")
    )
    cand = (
        a.join(
            b,
            (F.col("a.tid") == F.col("b.tid"))
            & (F.col("a.doc") < F.col("b.doc"))
            # length filter: jac ≥ t impossible unless t·max(n1,n2) ≤ min
            & (
                F.lit(t) * F.greatest(F.col("a.n"), F.col("b.n"))
                <= F.least(F.col("a.n"), F.col("b.n"))
            )
            & (ubound >= alpha),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )
    return _verify_jaccard(docsets, cand, t)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

COSINE_DUP_THRESHOLD = 0.4  # synthetic vectors are near-orthogonal; 0.4 ≈ top pairs

#: grid side for the distributed exact all-pairs join; G(G+1)/2 triangle
#: cells. Pick G so the cell count comfortably exceeds the cluster's
#: core count and (n/G)² dot products fit one task; replication cost is
#: only linear (each row shuffles ~G/2 times). 16 → 136 cells here.
PAIR_GRID = 16


def _unit_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, u): each embedding normalized to unit length
    ONCE (linear pass) so all-pairs / candidate verification does a
    single dot product per pair, not dot + two norms."""
    from kafka_parquet_writer_spark.functions.vector import norm_expr

    return (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            # norm in its own projection so it is computed once per
            # vector, not once per element inside the transform lambda
            norm_expr(F.col("embedding")).alias("nrm"),
        )
        .select(
            "vec_id",
            "embedding",
            F.transform(
                F.col("embedding"), lambda x: x.cast("double") / F.col("nrm")
            ).alias("u"),
        )
    )


def _pair_cos():
    """cos(u1, u2) for unit columns u1/u2 — a single dot product
    (column construction is deferred: needs an active session)."""
    return F.aggregate(
        F.zip_with("u1", "u2", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@query(
    "dedup_embedding",
    oracle=f"""
    WITH n AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    e AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n)
    SELECT a.vec_id AS v1, b.vec_id AS v2,
           (floor(list_dot_product(a.u, b.u) * 1e6 + 0.5) / 1e6) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.u, b.u) >= {COSINE_DUP_THRESHOLD}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold), EXACT,
    via a grid-distributed self-join — no corpus broadcast, no
    nested-loop join.

    Each vector lands in grid row/column ``vec_id % G``. The left side
    replicates each row to triangle cells (g, j) for j ≥ g; the right
    side to (i, g) for i ≤ g; the join is a plain **equi-join on
    (i, j)** — shuffle-partitioned, skew-free (cells are uniform by
    construction), every executor working one (n/G)×(n/G) block. An
    unordered pair meets in exactly one cell: (min(g₁,g₂), max(g₁,g₂));
    diagonal cells see both orientations, so those keep v1 < v2 only.

    Exact all-pairs is Ω(n²) work by nature — the grid makes that work
    *scale out* (10⁶ cells on a 1000-executor cluster) instead of
    OOM-broadcasting the corpus. At 0.4 on isotropic vectors no
    bucketing scheme is sublinear in pairs (the LSH gap vanishes as
    similarity → 0); for corpora with real cluster structure use
    ``dedup_embedding_ann``, whose candidate cost is ∝ Σ cell².
    """
    emb = _unit_vectors(spark, sf_dir)
    g = PAIR_GRID
    a = emb.select(
        F.col("vec_id").alias("v1"),
        F.col("u").alias("u1"),
        (F.col("vec_id") % g).cast("int").alias("i"),
        F.explode(
            F.sequence((F.col("vec_id") % g).cast("int"), F.lit(g - 1))
        ).alias("j"),
    )
    b = emb.select(
        F.col("vec_id").alias("v2"),
        F.col("u").alias("u2"),
        F.explode(
            F.sequence(F.lit(0), (F.col("vec_id") % g).cast("int"))
        ).alias("i"),
        (F.col("vec_id") % g).cast("int").alias("j"),
    )
    # explicit-count repartition on the cell key: the post-join cosine
    # evaluation is CPU-bound on byte-wise-tiny rows, so without this
    # the whole quadratic stage runs on the source's single parquet
    # split (AQE coalesces a bare repartition(col) the same way)
    from kafka_parquet_writer_spark.session import repartition_for_compute

    a = repartition_for_compute(a, F.col("i"), F.col("j"))
    pairs = (
        a.join(b, ["i", "j"])
        # off-diagonal cells hold each unordered pair once (either
        # orientation); diagonal cells hold both — keep one
        .filter((F.col("i") != F.col("j")) | (F.col("v1") < F.col("v2")))
        .filter(_pair_cos() >= COSINE_DUP_THRESHOLD)
        .select(
            F.least("v1", "v2").alias("v1"),
            F.greatest("v1", "v2").alias("v2"),
            pround(_pair_cos(), 6).alias("cos"),
        )
    )
    return pairs


ANN_DEDUP_SEED = 404
#: floor on active cells (the original fixed-cell configuration)
ANN_DEDUP_CELLS = 16
#: size of the ORACLE-COVERED seeded prefix: the committed oracle SQL
#: embeds exactly this many centroid literals, so it is the exact
#: algorithm whenever m ≤ BANK (n ≤ BANK·TARGET ≈ 8k vectors — every
#: real fixture; the driver checks at sf0.01, n = 500). The Spark side
#: is NOT capped here: m grows with the corpus and the bank is
#: re-generated larger from the same seed (prefix-stable).
ANN_DEDUP_BANK = 64
#: target vectors per cell — active cells m = max(16, n/TARGET)
ANN_DEDUP_TARGET_PER_CELL = 125
ANN_DEDUP_PROBE = 4
#: flat-assignment ceiling: past ~64k centroids the closure-shipped
#: centroid matrix (m × 64 float64 ≈ 32 MB pickled) and the n·m gemm
#: both stop being the right tool — the 100 TB continuation is a
#: two-level (coarse ⋈ fine) assignment giving m₁·m₂ effective cells
#: at m₁ + m₂ dots per row, with the banks broadcast. Asserted loudly
#: rather than silently capped, because a silent cap is exactly the
#: quadratic-reintroducing bug this bound replaces (r4: hard cap 64 →
#: Σcell² ∝ n² past ×4).
ANN_DEDUP_MAX_LITERAL_CELLS = 65536
#: corpus size past which dedup_embedding_ann feeds the assigner RAW
#: float32 embeddings and normalizes numpy-side (assigner
#: normalize=True) instead of Catalyst-normalizing first: halves the
#: JVM→python Arrow stream and removes the interpreted higher-order
#: `transform` from the hot stage (r7 stage receipts: the assignment
#: stage is input-side-bound — shrinking its OUTPUT did not move wall
#: time, see probe_rejoin_experiment in BENCH_SCALE.json). Below this
#: size the Catalyst-normalized plan is kept — it is the
#: oracle-fixture plan and the difference is noise at fixture scale.
ANN_RAW_INPUT_MIN_ROWS = 2_000_000


def _dedup_centroids(bank: int = ANN_DEDUP_BANK) -> list[list[float]]:
    import numpy as np

    # randn fills row-major, so the first B rows of any larger bank
    # are bit-identical to randn(B, 64) — growing the bank with the
    # corpus never changes the cells a smaller corpus would get
    rng = np.random.RandomState(ANN_DEDUP_SEED)
    cs = rng.randn(bank, 64)
    cs = cs / np.linalg.norm(cs, axis=1, keepdims=True)
    return [[round(float(x), 6) for x in c] for c in cs]


DEDUP_CENTROIDS = _dedup_centroids()

#: Lloyd refinement rounds applied to the active centroid bank before
#: assignment. 0 (the default, and the declared-key / oracle geometry)
#: = pure seeded isotropic bank. On REAL corpora embeddings cluster,
#: and a seeded bank's cell populations then skew — hot cells make the
#: per-cell quadratic verify concentrate (Σ cell² grows). Setting this
#: >0 refines the seeded bank with that many spherical-k-means passes
#: over the corpus (train_centroid_bank below) so cells track the data
#: density; BENCH_SCALE.json's clustered_skew receipt measured the
#: effect on a clustered synthetic corpus. At 100 TB a deployment trains on a
#: sample (pass a pre-sampled frame to the trainer), then assigns the
#: full corpus with the frozen bank.
ANN_TRAINED_ROUNDS = 0

#: Fixed geometry of the DECLARED trained-bank key
#: (dedup_embedding_ann_trained): small enough that the oracle can
#: carry the expected trained bank as literals, large enough that the
#: empty-cell SPLIT path actually executes on the sf0.01 fixture
#: (128 cells over 500 vectors → 4 empty cells per round, measured —
#: at 16 or 64 cells every cell stays populated and the split branch
#: would ship without driver evidence).
TRAINED_KEY_M = 128
TRAINED_KEY_ROUNDS = 4


def train_centroid_bank(
    emb: DataFrame,
    bank: list[list[float]],
    rounds: int,
    dims: tuple[int, int] | None = None,
    norm: float = 1.0,
    stats: dict | None = None,
    pre_cached: bool = False,
) -> list[list[float]]:
    """Refine `bank` with `rounds` exact spherical-k-means Lloyd passes
    over `emb` (any frame with a unit-vector column ``u``): assign each
    vector to its max-dot centroid (`V.nearest`, probe 1, ties to the
    lowest index), then move
    each centroid to the renormalized mean direction of its members —
    the same Lloyd loop embedding_cluster_kmeans (mlfeat.py) runs, but
    emitting a BANK instead of labels.

    Scale shape per round: per-cell (count, Σu, min-id example)
    partials are collapsed INSIDE each Arrow batch (np.add.at — ≤m
    rows leave a batch no matter how many vectors it holds), so the
    only shuffle carries ≤ partitions·m tiny partial rows, then a
    ≤m-row collect updates the bank on the driver — the
    map-side-combine contract every mergeable sketch in this repo
    follows. The input is cached across rounds (the r6
    embedding_cluster_kmeans lesson: one source scan, not `rounds`
    scans).

    Empty cells SPLIT the heaviest cells instead of idling: each empty
    centroid is reseeded at the donor's new mean nudged a quarter of
    the way toward the donor's min-vec_id member (one donation per
    donor per round, donors in descending population order). Plain
    keep-the-old-row Lloyd stagnates on clustered data: a
    signal-dominated corpus assigns each mode to ONE centroid, the
    other centroids never gain members, and the hot-cell quadratic
    survives training. The SMALL nudge matters: reseeding AT a member
    (the first cut) captures only that member's tiny neighborhood,
    because on the sphere the mean direction out-scores any individual
    member for almost every other member; a mean+ε·(member−mean)
    centroid instead puts the Voronoi boundary right next to the mean,
    splitting the donor population roughly in half (the FAISS
    ±ε-perturbation split, made deterministic by the min-id example).
    Splitting roughly doubles the active cells per round, so
    ~log₂(m/modes) rounds activate the whole bank.

    `dims` trains on a half-space slice of ``u`` (IMI half-banks;
    `bank` rows must have width hi−lo) and `norm` sets the output row
    norm (1 for flat spherical banks, 1/√2 for IMI half-banks so the
    concatenated product centroid stays unit). Rows round to 6
    decimals, matching the seeded-bank convention.

    `pre_cached=True` declares that `emb` is ALREADY a cached
    (vec_id, u) frame whose lifetime the caller manages — the trainer
    then neither caches nor unpersists, so the caller can reuse the
    same cached rows for its own post-training assignment pass
    instead of re-deriving them from storage (the r16
    dedup_embedding_ann_trained change).
    """
    import numpy as np

    cs = np.asarray(bank, dtype=np.float64)
    m, width = cs.shape
    lo, hi = (0, cs.shape[1]) if dims is None else dims
    if hi - lo != width:
        raise ValueError(f"bank width {width} != dims slice {hi - lo}")
    u_only = emb.select("vec_id", "u")
    if not pre_cached:
        u_only = u_only.cache()
    # ≤ partitions·m partial rows leave the map side per round; when that
    # bound is small (each row ~1 KB ⇒ ≤64 MB here) fold on the driver
    # and skip the shuffle+applyInPandas stage — at trainer scale-out
    # geometry (thousands of tasks × 64k cells) the distributed
    # merge-reduce below is the correct path and stays the default
    direct_reduce = u_only.rdd.getNumPartitions() * m <= 65536
    try:
        for _ in range(max(0, rounds)):
            c = cs.copy()

            def partials(batches, c=c, lo=lo, hi=hi):
                import pandas as pd

                mm = c.shape[0]
                for pdf in batches:
                    if not len(pdf):
                        continue
                    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
                    order = np.argsort(ids, kind="stable")
                    ids = ids[order]
                    u = np.vstack(pdf["u"].to_numpy())[order][:, lo:hi]
                    cells = V.nearest(u, c, 1, "dot")[:, 0]
                    cnt = np.bincount(cells, minlength=mm)
                    acc = np.zeros((mm, hi - lo))
                    np.add.at(acc, cells, u)
                    # rows sorted by id, so the first occurrence of a
                    # cell is its min-id member in this batch
                    nz, first = np.unique(cells, return_index=True)
                    yield pd.DataFrame(
                        {
                            "cell": nz.astype(np.int64),
                            "cnt": cnt[nz].astype(np.int64),
                            "s": list(acc[nz]),
                            "ex_id": ids[first],
                            "ex": list(u[first]),
                        }
                    )

            def reduce_cells(pdf):
                import pandas as pd

                # sort partials by their (unique, batch-disjoint) min-id
                # example before summing: the float fold over per-batch
                # partials is then order-DETERMINISTIC regardless of
                # shuffle arrival order, so a trained bank is bit-stable
                # across sessions (required by dedup_embedding_ann_trained,
                # whose oracle pins the trained bank as literals)
                pdf = pdf.sort_values("ex_id", kind="stable")
                k = int(pdf["ex_id"].to_numpy().argmin())
                return pd.DataFrame(
                    {
                        "cell": [int(pdf["cell"].iloc[0])],
                        "cnt": [int(pdf["cnt"].sum())],
                        "s": [np.vstack(pdf["s"].to_numpy()).sum(axis=0)],
                        "ex_id": [int(pdf["ex_id"].iloc[k])],
                        "ex": [np.asarray(pdf["ex"].iloc[k])],
                    }
                )

            schema = (
                "cell long, cnt long, s array<double>, "
                "ex_id long, ex array<double>"
            )
            if direct_reduce:
                # bounded geometry: collect the ≤ partitions·m partial
                # rows directly and fold on the driver — one single-stage
                # job per round instead of map + shuffle + applyInPandas
                # (≈0.5 s/round of fixed cost at fixture scale). The fold
                # is BIT-IDENTICAL to reduce_cells: per cell, partials
                # sorted by their batch-unique ex_id, then the same
                # vstack pairwise sum — so pinned trained banks are
                # unaffected by which path ran.
                praw = u_only.mapInPandas(partials, schema).collect()
                by_cell: dict[int, list] = {}
                for r in praw:
                    by_cell.setdefault(int(r["cell"]), []).append(r)
                rows = []
                for cell, rs in by_cell.items():
                    rs.sort(key=lambda r: int(r["ex_id"]))
                    k = min(range(len(rs)), key=lambda i: int(rs[i]["ex_id"]))
                    rows.append(
                        {
                            "cell": cell,
                            "cnt": sum(int(r["cnt"]) for r in rs),
                            "s": np.vstack(
                                [np.asarray(r["s"]) for r in rs]
                            ).sum(axis=0),
                            "ex": np.asarray(rs[k]["ex"]),
                        }
                    )
            else:
                rows = (
                    u_only.mapInPandas(partials, schema)
                    .groupBy("cell")
                    .applyInPandas(reduce_cells, schema)
                    .collect()
                )
            new = cs.copy()
            seen: dict[int, int] = {}
            examples: dict[int, np.ndarray] = {}
            for r in rows:
                v = np.asarray(r["s"], dtype=np.float64)
                nv = float(np.linalg.norm(v))
                if nv > 0.0:
                    new[r["cell"]] = v / nv * norm
                seen[r["cell"]] = int(r["cnt"])
                examples[r["cell"]] = np.asarray(r["ex"], dtype=np.float64)
            empty = [j for j in range(m) if j not in seen]
            donors = [
                cell
                for cell, cnt in sorted(
                    seen.items(), key=lambda kv: (-kv[1], kv[0])
                )
                if cnt >= 2
            ]
            splits = 0
            for j, donor in zip(empty, donors):
                ex = examples[donor]
                nv = float(np.linalg.norm(ex))
                if nv <= 0.0:
                    continue
                cand = new[donor] + 0.25 * (ex / nv * norm - new[donor])
                cn = float(np.linalg.norm(cand))
                if cn > 1e-12:
                    new[j] = cand / cn * norm
                    splits += 1
            if stats is not None:
                stats.setdefault("empty_per_round", []).append(len(empty))
                stats.setdefault("splits_per_round", []).append(splits)
            cs = new
    finally:
        if not pre_cached:
            u_only.unpersist()
    if stats is not None:
        # Distance of every RAW coordinate from its nearest 6-decimal
        # rounding boundary, in 1e-6 units (boundaries sit at fractional
        # part 0.5 of x·1e6). The bank pin's layout invariance rests on
        # this margin absorbing BLAS-reassociation deltas (~1e-9 in
        # these units); tools/gen_trained_pins.py asserts it stays
        # orders of magnitude above that so regeneration fails loudly
        # when a coordinate drifts onto a boundary (r8 ADVICE).
        fr = np.abs(np.mod(np.abs(cs) * 1e6, 1.0) - 0.5)
        stats["min_boundary_margin_1e6"] = float(fr.min())
    return [[round(float(x), 6) for x in row] for row in cs]


def _ann_dedup_oracle() -> str:
    from kafka_parquet_writer_spark.functions.vector import sql_lit_vector

    cell_structs = ", ".join(
        f"struct_pack(s := -list_dot_product(u, {sql_lit_vector(c)}), c := {j})"
        for j, c in enumerate(DEDUP_CENTROIDS)
    )
    return f"""
    WITH n AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    act AS (
      -- this oracle text embeds exactly {ANN_DEDUP_BANK} centroid
      -- literals; the Spark side regrows the bank past that with the
      -- corpus. Error LOUDLY on a fixture large enough to need more
      -- cells rather than silently running a different (capped)
      -- algorithm and reporting a confusing value mismatch.
      SELECT CASE
               WHEN count(*) > {ANN_DEDUP_BANK * ANN_DEDUP_TARGET_PER_CELL}
               THEN CAST(error(
                 'dedup_embedding_ann oracle covers only n <= '
                 || '{ANN_DEDUP_BANK * ANN_DEDUP_TARGET_PER_CELL}'
                 || ' vectors (static {ANN_DEDUP_BANK}-centroid bank); '
                 || 'regenerate the oracle with a larger bank') AS BIGINT)
               ELSE GREATEST({ANN_DEDUP_CELLS},
                             count(*) // {ANN_DEDUP_TARGET_PER_CELL})
             END AS m
      FROM n
    ),
    e AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
    cells AS (
      SELECT vec_id, u,
             list_sort(list_filter([{cell_structs}], x -> x.c < m)) AS cl
      FROM e CROSS JOIN act
    ),
    probes AS (
      SELECT vec_id, u, p.c AS cell
      FROM (SELECT vec_id, u, unnest(cl[1:{ANN_DEDUP_PROBE}]) AS p FROM cells)
    )
    SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2,
           (floor(list_dot_product(a.u, b.u) * 1e6 + 0.5) / 1e6) AS cos
    FROM probes a JOIN probes b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.u, b.u) >= {COSINE_DUP_THRESHOLD}
    """


@query("dedup_embedding_ann", oracle=_ann_dedup_oracle())
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via spherical-IVF candidate buckets +
    exact cosine verify — the 100 TB scale path.

    Each unit vector probes its ``ANN_DEDUP_PROBE`` nearest of the
    first m centroids of a seeded bank, where m = max(16, n / target)
    scales WITH the corpus — UNCAPPED: the bank is re-generated
    larger from the same seed whenever m outgrows it, and the randn
    row-major fill keeps every smaller bank a bit-identical prefix
    (max cosine ≡ spherical k-means assignment; raw-L2 assignment
    degenerates when vector norms vary). Candidates are same-cell
    pairs — an **equi-join on cell id**, cost ∝ Σ cell² — then
    exact-cosine verified at the threshold. Any fixed cell-count cap
    makes per-cell population grow ∝ n past its saturation point and
    the verify quadratic again — bench_scale.py measured exactly that
    twice (fixed 16 cells: super-linear at ×8; r4's 64-cell bank cap:
    ×4→×8 doubling exponent 1.42). Holding per-cell population at
    ``ANN_DEDUP_TARGET_PER_CELL`` keeps the verify ~linear at any n.
    m is derived from a driver-side count(*) — satisfied from parquet
    row-group metadata, no data scan — because the centroid bank
    must be sized before the assignment closure ships; at 100 TB that
    count is a footer-only job. Past ``ANN_DEDUP_MAX_LITERAL_CELLS``
    the flat n·m assignment should hand off to a two-level
    coarse⋈fine assignment (m₁·m₂ effective cells at m₁+m₂ dots/row,
    banks broadcast); asserted loudly, never silently capped.

    On real corpora (clustered: crawl snapshots, version families)
    Σ cell² ≪ n²; on this isotropic synthetic fixture recall is 59/59
    @ sf0.01 and ~95% @ sf0.1 (measured vs the exact operator) — the
    no-free-lunch cost of sub-quadratic candidates at a weak 0.4
    threshold.

    The oracle runs the identical algorithm (same seeded centroid
    literals, same probe count), so results value-hash-match exactly
    wherever its static 64-centroid text covers the dynamic bank
    (m ≤ 64 ⟺ n ≤ 8000 — all committed fixtures; the blow-up lanes
    beyond that are covered by the recall test vs dedup_embedding).
    """
    emb = _unit_vectors(spark, sf_dir)
    # active-cell count m = max(floor, n / target): cells scale WITH
    # the corpus so per-cell population — and the quadratic verify
    # within each cell — stays bounded at every n
    n = load_table(spark, sf_dir, "embeddings").count()
    m = max(ANN_DEDUP_CELLS, n // ANN_DEDUP_TARGET_PER_CELL)
    if m > ANN_DEDUP_MAX_LITERAL_CELLS:
        # past the flat ceiling the n·m gemm and the closure-shipped
        # m×64 bank stop being the right tool: hand off to the
        # two-level inverted multi-index (subspace-split coarse⋈fine,
        # m₁·m₂ effective cells at m₁+m₂ half-dim dots per row) —
        # the continuation the r5 assertion promised. Same verify.
        import math as _math

        side = int(_math.ceil(_math.sqrt(m)))
        banks = None
        if ANN_TRAINED_ROUNDS:
            c1, c2 = _imi_banks(side, side)
            half = 2.0 ** -0.5
            c1 = train_centroid_bank(
                emb, c1, ANN_TRAINED_ROUNDS, dims=(0, 32), norm=half
            )
            c2 = train_centroid_bank(
                emb, c2, ANN_TRAINED_ROUNDS, dims=(32, 64), norm=half
            )
            banks = (c1, c2)
        # past the ceiling n ≥ ANN_RAW_INPUT_MIN_ROWS always holds:
        # feed raw float32 embeddings, normalize numpy-side, and ship
        # the float32 sources through the probe shuffle (the verifier
        # normalizes per cell — bit-identical cos, half the bytes)
        raw = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("u")
        )
        probes = _assign_imi_cells(raw, side, side, banks=banks, normalize=True)
        # bucketed verify sized to the IMI product-cell space (see
        # _raw_verify for the A/B that chose this form)
        return _raw_verify(probes, cells=side * side)
    cs = DEDUP_CENTROIDS if m <= ANN_DEDUP_BANK else _dedup_centroids(m)
    if ANN_TRAINED_ROUNDS:
        # opt-in Lloyd refinement (clustered corpora — see the flag's
        # docstring); 0 keeps the exact seeded/oracle geometry
        cs = train_centroid_bank(emb, cs[:m], ANN_TRAINED_ROUNDS)
    # BLAS batch assignment (`_assign_cells`: one gemm per Arrow batch,
    # the m×64 bank in the kernel's closure, bounded by the
    # literal-cells assertion above). The r4 literal-transform
    # assignment paid ~0.8 s of plan build for the 64-row bank and,
    # being a higher-order function, never entered whole-stage codegen.
    # Cell choice matches the oracle's list_sort(struct(-dot, idx)) up
    # to float64 summation order: BLAS reassociates the dot sums while
    # DuckDB folds sequentially, so a near-tie between two centroid
    # scores (~1e-16 relative) could in principle rank cells
    # differently across engines — never observed on random data, but
    # "identical" holds only up to that caveat.
    if n >= ANN_RAW_INPUT_MIN_ROWS:
        # large-corpus input form (see ANN_RAW_INPUT_MIN_ROWS): raw
        # float32 in, numpy normalization for scoring, float32
        # sources through the probe shuffle with a normalizing
        # verifier — same pairs, bit-identical cos, half the Arrow
        # bytes on every crossing and no interpreted per-element
        # transform in the hot stage
        raw = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").alias("u")
        )
        probes = _assign_cells(raw, cs[:m], normalize=True)
        # bucketed verify sized to the flat bank — same pairs as the
        # fixture plan's per-cell applyInPandas (see _raw_verify)
        return _raw_verify(probes, cells=m)
    probes = _assign_cells(emb, cs[:m])
    # Per-cell BLAS block verify (the FAISS IVF pattern), NOT a
    # self-join: the r4 join evaluated the cosine per candidate pair
    # as an interpreted zip_with/aggregate lambda (higher-order array
    # functions do not enter whole-stage codegen) allocating a 64-elem
    # intermediate per pair — measured super-linear wall-clock past
    # ×8 from the allocation/GC load even though Σcell² itself scales
    # exactly linearly (verified: sumsq 32.1M → 128.4M for ×8 → ×32).
    # applyInPandas groups one cell per Arrow batch (~500·probe rows ×
    # 64 doubles ≈ 1 MB) and computes the full p×p dot block in one
    # BLAS gemm — per-pair cost drops from an interpreted expression
    # tree to a fused multiply-add. Shuffle volume is the probe table
    # (∝ n·probe), partitioning is by cell hash (populations uniform
    # by construction — measured max/median ≈ 1.2).
    return (
        probes.groupBy("cell")
        .applyInPandas(_make_verifier(), "v1 long, v2 long, cos double")
        .distinct()
    )


def _assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    probe: int = ANN_DEDUP_PROBE,
    normalize: bool = False,
) -> DataFrame:
    """(vec_id, u) rows -> (vec_id, u, cell), one row per each vector's
    `probe` max-dot cells of the flat bank (`V.nearest`, metric "dot":
    the oracle's list_sort(struct(-dot, idx)) order). dedup_semantic
    uses probe=1 for a Voronoi partition.

    `normalize=True` is the large-corpus input form: ``u`` holds RAW
    float32 embeddings, scored as their float64 unit vectors
    (`V.unit`) and passed through untouched, so the probe shuffle and
    both Arrow crossings carry half the bytes and no interpreted
    Catalyst `transform` runs in the hot stage. The verifier then
    normalizes per cell (`_make_verifier(normalize=True)`) on the same
    exact float32 values — bit-identical cos. Only the norm SUM's
    association order differs from the SQL fold (~1e-16, the BLAS
    caveat of dedup_embedding_ann)."""
    import numpy as np

    bank = np.asarray(centroids, dtype=np.float64)
    return V.map_vectors(
        df.select("vec_id", "u"),
        "u",
        lambda x: V.nearest(V.unit(x) if normalize else x, bank, probe, "dot"),
        "cell long",
    )


def _make_verifier(
    threshold: float = COSINE_DUP_THRESHOLD, normalize: bool = False
):
    """Factory for the per-cell exact-cosine verify, with the dup
    threshold carried in the closure: python workers re-import this
    module, so a driver-side override of the module global would never
    reach them — callers that verify clustered corpora at a tighter
    threshold build their own.

    `normalize=True` pairs with the assigners' `normalize=True` form:
    the cell rows carry the UNTOUCHED float32 source vectors (half the
    probe shuffle and both Arrow crossings) and the float64
    unit-normalize runs here instead — on the same exact float32 values, so the cos
    output is bit-identical to normalizing before the shuffle."""

    def verify(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "v1": pd.Series(dtype="int64"),
                    "v2": pd.Series(dtype="int64"),
                    "cos": pd.Series(dtype="float64"),
                }
            )
        u = np.vstack(pdf["u"].to_numpy())
        if normalize:
            u = V.unit(u)
        s = u @ u.T
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = s[iu, ju]
        keep = cos >= threshold
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "v1": np.minimum(a, b),
                "v2": np.maximum(a, b),
                "cos": np.floor(cos[keep] * 1e6 + 0.5) / 1e6,
            }
        )

    return verify


#: cells per verify bucket: the large-corpus verify groups cells
#: modulo ceil(m / this) into applyInPandas groups of ~this many
#: whole cells, so the per-group JVM cost (Arrow writer setup/flush
#: + group plumbing) is paid once per bucket instead of once per
#: cell (33k-66k+ at the ceiling points). A CELLS-PER-BUCKET policy,
#: not a fixed bucket count: with cell population pinned at
#: ANN_DEDUP_TARGET_PER_CELL, group size stays ~64·125·probe rows
#: (≈8 MB of float32) at EVERY corpus size — a fixed 1024 buckets
#: would grow groups as n/1024 and blow worker memory at billions
#: of vectors. 64 reproduces the measured ceiling configuration
#: (66k cells → 1032 buckets ≈ the 1024 the A/B and receipts ran).
VERIFY_CELLS_PER_BUCKET = 64


def _make_bucket_verifier(
    threshold: float = COSINE_DUP_THRESHOLD, normalize: bool = False
):
    """applyInPandas factory for the large-corpus verify: one GROUP =
    one cell BUCKET (cell % ceil(m / VERIFY_CELLS_PER_BUCKET))
    holding ~VERIFY_CELLS_PER_BUCKET whole cells: runs the per-cell
    verifier (`_make_verifier`) on each cell's rows of the bucket
    (applyInPandas guarantees group completeness, not row order)."""
    per_cell = _make_verifier(threshold, normalize)

    def verify(pdf):
        import pandas as pd

        parts = [
            out
            for _, rows in pdf.groupby("cell", sort=False)
            if len(out := per_cell(rows))
        ]
        return pd.concat(parts, ignore_index=True) if parts else per_cell(pdf[:0])

    return verify


def _raw_verify(probes, cells: int):
    """Plan wrapper for the large-corpus verify: bucketed
    groupBy(cell % ceil(cells / VERIFY_CELLS_PER_BUCKET))
    .applyInPandas — `cells` is the operator's active cell count m,
    so worker group size is corpus-size-invariant. Chosen by a
    SAME-BOX-STATE interleaved A/B at the 4.125M IMI point
    (`verify_ab_experiment` in BENCH_SCALE.json, two runs each,
    alternating): verify wall 32.3/23.0 s bucketed vs 87.3/54.1 s
    per-cell, with ~2.4× less JVM CPU (529/350 vs 1241/922 s) — the
    per-group Arrow-writer overhead at 33k+ groups is real, and
    coarsening the group key removes it.

    Two methodology notes that shaped this choice:

    - A cell-sorted mapInPandas stream (repartition(cell) +
      sortWithinPartitions + a carry-across-batches verifier) was
      built and REJECTED: Spark 4.1's single-threaded PythonRunner
      only reads UDF output once its pending input write flushes,
      and this stage moves GBs in BOTH directions, so it DEADLOCKED
      1-in-32 tasks — worker blocked in write() with a full output
      socket while the JVM blocked writing input (observed directly;
      `stream_verify_experiment`). groupBy().applyInPandas
      alternates at group granularity and has never wedged.
      High-volume bidirectional mapInPandas is a deadlock hazard on
      this Spark version regardless of speed.
    - SEQUENTIAL cross-run comparisons first ranked these forms the
      OTHER way (per-cell 107 s total vs bucketed 169 s) and were
      wrong: the box degrades monotonically under heavy JVM churn
      (khugepaged THP compaction reached ~60% of a core; identical
      per-cell code re-measured 3× its own receipt an hour later).
      Only the interleaved A/B in one session on one dataset gave a
      stable ordering — and it reproduced 2.3-2.7× in both pairs at
      33k cells and 1.3× at 66k (verify_ab_experiment has both).

    Skew note: bucketing never splits a cell, so a clustered
    corpus's hot cell dominates whichever group holds it — the
    straggler bound is IDENTICAL to the per-cell plan's, and the
    mitigation is the same one the clustered_skew receipt measured:
    trained centroid banks (ANN_TRAINED_ROUNDS) that bound hot-cell
    population, not the verify's group shape."""
    buckets = max(1, -(-cells // VERIFY_CELLS_PER_BUCKET))
    return (
        probes.groupBy((F.col("cell") % buckets).alias("bkt"))
        .applyInPandas(
            _make_bucket_verifier(normalize=True),
            "v1 long, v2 long, cos double",
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# two-level (inverted multi-index) ANN assignment — the >64k-cell path
# ---------------------------------------------------------------------------

#: bank side for the DECLARED imi key (m1 = m2 = 8 → 64 product cells,
#: small enough to embed both half-banks as oracle literals); the
#: production handoff inside dedup_embedding_ann sizes sides as
#: ceil(sqrt(m)) instead
ANN_IMI_SIDE = 8


def _imi_banks(
    m1: int, m2: int
) -> tuple[list[list[float]], list[list[float]]]:
    """Subspace half-banks for the inverted multi-index (Babenko &
    Lempitsky, "The inverted multi-index", CVPR 2012): a coarse bank
    over dims 0..31 and a fine bank over dims 32..63, each row
    normalized to length 1/√2 so every combined centroid
    concat(c1_i, c2_j) has EXACTLY unit norm — max-dot assignment over
    the m1·m2 product codebook is then spherical k-means assignment,
    the same geometry as the flat bank, at m1 + m2 half-dim dots per
    row instead of m1·m2. Two independent seeded streams keep each
    bank prefix-stable as it grows with the corpus (same guarantee as
    _dedup_centroids). Values rounded to 6 decimals so the Spark
    closure and the oracle's SQL literals consume identical numbers."""
    import numpy as np

    out = []
    for seed, rows in ((ANN_DEDUP_SEED + 7, m1), (ANN_DEDUP_SEED + 8, m2)):
        rng = np.random.RandomState(seed)
        c = rng.randn(rows, 32)
        c = c / (np.linalg.norm(c, axis=1, keepdims=True) * np.sqrt(2.0))
        out.append([[round(float(x), 6) for x in r] for r in c])
    return out[0], out[1]


def _assign_imi_cells(
    df: DataFrame,
    m1: int,
    m2: int,
    probe: int = ANN_DEDUP_PROBE,
    banks: tuple[list[list[float]], list[list[float]]] | None = None,
    normalize: bool = False,
) -> DataFrame:
    """(vec_id, u) rows -> (vec_id, u, cell): the two-level assignment,
    one row per each vector's `probe` nearest of the m1·m2 product
    cells (`V.imi_nearest`: two half-dim gemms per Arrow batch, m1 + m2
    dots per row; cell id = i·m2 + j). The closure ships two (side ×
    32) float64 banks — 64 KB at side 256 (m = 65 k), still
    closure-sized at every realistic m (side 4096 → 2 MB). `banks`
    overrides the seeded half-banks with trained ones
    (train_centroid_bank with dims/norm for each half); None keeps the
    seeded/oracle geometry. `normalize` as in _assign_cells."""
    import numpy as np

    b1, b2 = (
        np.asarray(b, dtype=np.float64)
        for b in (banks if banks is not None else _imi_banks(m1, m2))
    )
    return V.map_vectors(
        df.select("vec_id", "u"),
        "u",
        lambda x: V.imi_nearest(V.unit(x) if normalize else x, b1, b2, probe),
        "cell long",
    )


def _ann_imi_oracle() -> str:
    from kafka_parquet_writer_spark.functions.vector import sql_lit_vector

    c1, c2 = _imi_banks(ANN_IMI_SIDE, ANN_IMI_SIDE)
    l1 = ", ".join(
        f"struct_pack(s := -list_dot_product(ua, {sql_lit_vector(c)}), "
        f"c := {j})"
        for j, c in enumerate(c1)
    )
    l2 = ", ".join(
        f"struct_pack(s := -list_dot_product(ub, {sql_lit_vector(c)}), "
        f"c := {j})"
        for j, c in enumerate(c2)
    )
    return f"""
    WITH n AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    e AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
    sp AS (SELECT vec_id, u, u[1:32] AS ua, u[33:64] AS ub FROM e),
    t AS (
      SELECT vec_id, u,
             list_sort([{l1}])[1:{ANN_DEDUP_PROBE}] AS t1,
             list_sort([{l2}])[1:{ANN_DEDUP_PROBE}] AS t2
      FROM sp
    ),
    combo AS (
      SELECT vec_id, u,
             list_sort(flatten(list_transform(t1, x ->
               list_transform(t2, y ->
                 struct_pack(s := x.s + y.s,
                             c := x.c * {ANN_IMI_SIDE} + y.c)))))
               [1:{ANN_DEDUP_PROBE}] AS cl
      FROM t
    ),
    probes AS (
      SELECT vec_id, u, p.c AS cell
      FROM (SELECT vec_id, u, unnest(cl) AS p FROM combo)
    )
    SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2,
           (floor(list_dot_product(a.u, b.u) * 1e6 + 0.5) / 1e6) AS cos
    FROM probes a JOIN probes b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.u, b.u) >= {COSINE_DUP_THRESHOLD}
    """


@query("dedup_embedding_ann_imi", oracle=_ann_imi_oracle())
def dedup_embedding_ann_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs through the TWO-LEVEL inverted
    multi-index assignment — the same code path dedup_embedding_ann
    hands off to past its {ANN_DEDUP_MAX_LITERAL_CELLS}-cell flat
    ceiling, declared at a small fixed geometry (m1 = m2 =
    {ANN_IMI_SIDE} → {ANN_IMI_SIDE}² product cells) so the driver
    value-checks the IMI probe logic itself: both half-banks are
    oracle literals and the oracle walks the identical subspace-split
    top-probe × top-probe combination.

    Why this exists: at true 100 TB embedding-corpus scale (>8M
    vectors at {ANN_DEDUP_TARGET_PER_CELL}/cell) the flat bank needs
    m > 64k centroids — a 32 MB closure and an n·m gemm. The IMI
    splits the space into two 32-dim halves with side = ceil(sqrt(m))
    centroids each: assignment cost drops to m1 + m2 half-dots per
    row (256 + 256 instead of 65 536 at the ceiling) and the shipped
    banks to two side×32 matrices, while the product codebook keeps
    the effective cell count — and therefore per-cell population and
    the ~linear verify — identical to the flat design. Half-banks are
    normalized to 1/√2 so every product centroid is exactly unit
    norm: max-dot assignment stays spherical k-means, same geometry
    as the flat path. Verify is the shared per-cell BLAS block
    (_make_verifier).
    """
    probes = _assign_imi_cells(
        _unit_vectors(spark, sf_dir), ANN_IMI_SIDE, ANN_IMI_SIDE
    )
    return (
        probes.groupBy("cell")
        .applyInPandas(_make_verifier(), "v1 long, v2 long, cos double")
        .distinct()
    )


def _ann_trained_oracle() -> str:
    """Oracle for dedup_embedding_ann_trained: the EXPECTED trained bank
    rides as literals (generated by tools/gen_trained_pins.py from the
    same train_centroid_bank the key runs live), selected by an
    order-free integer fingerprint of the embeddings table — count(*)
    alone cannot distinguish the sf0.001 and sf0.01 fixtures (both 500
    rows, different content). An unpinned fixture errors loudly
    (the repo's literal-oracle rule) instead of hash-mismatching."""
    from kafka_parquet_writer_spark.functions.vector import sql_lit_vector
    from kafka_parquet_writer_spark.operators.ann_trained_pins import PINS

    rows = ",\n        ".join(
        f"({fp}, {j}, {sql_lit_vector(c)})"
        for fp, bank in PINS.items()
        for j, c in enumerate(bank)
    )
    if not rows:  # bootstrap state while gen_trained_pins.py runs
        rows = "(0, -1, CAST([0.0] AS DOUBLE[]))"
    return f"""
    WITH fp AS (
      SELECT sum((vec_id + 1) *
                 (CAST(floor(abs(embedding[1]) * 10000) AS BIGINT) + 7))
             AS f
      FROM embeddings
    ),
    pins AS (
      SELECT * FROM (VALUES
        {rows}
      ) t(f, cell, c)
    ),
    bank AS (SELECT p.cell AS cell, p.c AS c FROM pins p JOIN fp ON p.f = fp.f),
    n AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    e AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
    a AS (
      SELECT e.vec_id,
             (list_sort(list(struct_pack(
                s := -list_dot_product(e.u, bank.c),
                c := bank.cell)))[1]).c AS cell
      FROM e CROSS JOIN bank
      GROUP BY e.vec_id
    ),
    bc AS (
      SELECT cell,
             CAST(list_sum(list_transform(c,
                x -> CAST(floor(x * 1e6 + 0.5) AS BIGINT))) AS BIGINT)
               AS c_sum
      FROM bank
    )
    SELECT CAST(b.cell AS INTEGER) AS cell,
           CAST(count(a.vec_id) AS BIGINT) AS n_vecs,
           CAST(coalesce(sum(a.vec_id), 0) AS BIGINT) AS sum_vec,
           b.c_sum AS c_sum
    FROM bc b
    LEFT JOIN a ON a.cell = b.cell
    GROUP BY b.cell, b.c_sum
    -- Unpinned-fixture guard (round-8 ADVICE): the previous form parked
    -- error() inside a chk.ok column no downstream expression consumed,
    -- so DuckDB's projection pruning removed it and an unpinned fixture
    -- silently returned 0 rows. This branch is load-bearing by
    -- construction: fp always has exactly one row, the WHERE's scalar
    -- subquery is evaluated for it, and only when the pin is absent does
    -- the row survive into the projection and fire error() loudly.
    UNION ALL
    SELECT CAST(error(
             'dedup_embedding_ann_trained oracle has no pinned trained '
             || 'bank for this fixture; run tools/gen_trained_pins.py')
             AS INTEGER) AS cell,
           CAST(NULL AS BIGINT) AS n_vecs,
           CAST(NULL AS BIGINT) AS sum_vec,
           CAST(NULL AS BIGINT) AS c_sum
    FROM fp
    WHERE (SELECT count(*) FROM bank) <> {TRAINED_KEY_M}
    """


@query("dedup_embedding_ann_trained", oracle=_ann_trained_oracle())
def dedup_embedding_ann_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED centroid bank under the driver's value-hash gate —
    the r7 verdict's one load-bearing scale component with no DuckDB
    evidence (the skew lane measured a 3.1× verify-wall win at recall
    1.00 from trained banks, but every declared ANN key ran the seeded
    geometry).

    Runs ``train_centroid_bank`` LIVE at a fixed small geometry
    (``TRAINED_KEY_M`` = 128 cells, ``TRAINED_KEY_ROUNDS`` = 4 Lloyd
    passes — chosen so the empty-cell split path executes on the
    fixture, see the constants' docstring), assigns every vector to its
    trained cell (probe-1, the training assignment itself), and emits
    one row per cell: population, Σ vec_id of members (both int64 —
    order-free), and an int64 checksum of the trained centroid's
    6-decimal coordinates. The oracle carries the EXPECTED bank as
    literals (tools/gen_trained_pins.py runs the identical trainer
    offline — deterministic per fixture: stable argmax, index-order
    np.add.at within batches, ex_id-sorted partial reduction across
    batches) and recomputes assignment + checksum in SQL; any drift in
    the trainer's assign / mean-update / split math flips the hash.

    Scale shape: training is the mergeable-sketch pattern (≤m partial
    rows leave each Arrow batch, one ≤m-row collect per round — at
    100 TB you train on a sample and freeze the bank); assignment is
    one gemm per batch over the SAME cached (vec_id, u) rows the
    trainer's rounds read (r16: one source scan + normalize for the
    whole key, where the final pass previously re-derived the unit
    vectors from storage), and the per-cell stats are collapsed
    INSIDE each Arrow batch (≤m partial rows cross the Python
    boundary — the previous shape shipped every vector's unit array
    back out of Python just to count and sum ids); the bank join is
    a 128-row broadcast.
    """
    import math as _math

    import numpy as _np

    emb = _unit_vectors(spark, sf_dir)
    seed = _dedup_centroids(max(TRAINED_KEY_M, ANN_DEDUP_BANK))[
        :TRAINED_KEY_M
    ]
    # one cached (vec_id, u) frame shared by the Lloyd rounds AND the
    # final stats assignment; the next invocation for the same fixture
    # unpersists its predecessor, so a long session holds one copy
    u_only = cache_frame(("dedup_trained", sf_dir), emb.select("vec_id", "u"))
    bank = train_centroid_bank(
        u_only, seed, TRAINED_KEY_ROUNDS, pre_cached=True
    )
    cmat = _np.asarray(bank, dtype=_np.float64)

    def stats_partials(batches):
        import numpy as np
        import pandas as pd

        mm = cmat.shape[0]
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            u = np.vstack(pdf["u"].to_numpy())
            cells = V.nearest(u, cmat, 1, "dot")[:, 0]
            cnt = np.bincount(cells, minlength=mm)
            sv = np.zeros(mm, dtype=np.int64)
            np.add.at(sv, cells, ids)
            nz = np.nonzero(cnt)[0]
            yield pd.DataFrame(
                {
                    "cell": nz.astype(np.int64),
                    "n": cnt[nz].astype(np.int64),
                    "sv": sv[nz],
                }
            )

    stats = (
        u_only.mapInPandas(stats_partials, "cell long, n long, sv long")
        .groupBy("cell")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.sum("sv").cast("long").alias("sum_vec"),
        )
        .withColumn("cell", F.col("cell").cast("int"))
    )
    bdf = spark.createDataFrame(
        [
            (j, sum(int(_math.floor(x * 1e6 + 0.5)) for x in row))
            for j, row in enumerate(bank)
        ],
        "cell int, c_sum long",
    )
    # stats is ≤m rows post-aggregation: broadcast it explicitly so the
    # plan never sort-merge-shuffles the 128-row dimension (left-outer
    # keeps bdf, the preserved side, un-broadcast)
    return bdf.join(F.broadcast(stats), "cell", "left").select(
        "cell",
        F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs"),
        F.coalesce("sum_vec", F.lit(0)).cast("long").alias("sum_vec"),
        "c_sum",
    )


# ---------------------------------------------------------------------------
# duplicate clustering (connected components over near-dup pairs)
# ---------------------------------------------------------------------------


#: rounds the most recent connected_components call took (testing hook)
_LAST_CC_ROUNDS = 0

#: finish the contraction on the driver once the surviving edge set is
#: this small (edges ≤ 64k ⇒ ~1 MB collected) — the two-phase pattern
#: GraphFrames ships: distributed star rounds cost ~5 tiny shuffles + a
#: checkpoint + a fingerprint job EACH, pure scheduling latency once the
#: graph has contracted, while a driver union-find over the same edges
#: is microseconds. At 100 TB the early rounds still run distributed;
#: only the contracted tail crosses to the driver. 0 disables.
CC_DRIVER_EDGES = 65536


def _cc_driver_finish(e: DataFrame) -> DataFrame:
    """Union-find (union-by-min-root, path compression) over a
    collected edge iterate — exactly the distributed loop's min-label
    semantics: every union re-roots the larger root under the smaller,
    so a tree's root is the minimum of every element ever united into
    it, i.e. find(x) == min(component(x))."""
    from pyspark.sql.types import StructField, StructType

    rows = e.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = {x for row in rows for x in (row[0], row[1])}
    dt = e.schema[0].dataType
    schema = StructType(
        [StructField("doc", dt), StructField("comp", dt)]
    )
    return e.sparkSession.createDataFrame(
        [(x, find(x)) for x in sorted(nodes)], schema
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    driver_finish_edges: int | None = None,
) -> DataFrame:
    """(d1, d2) undirected edges → (doc, comp) with comp = min doc id
    reachable — the cluster representative.

    Alternating **large-star / small-star** (the MapReduce CC algorithm
    of Kiveris et al.), not label propagation: label propagation needs
    rounds ∝ graph *diameter* (a 1M-link chain of near-dup versions =
    1M shuffle rounds), while star contraction converges in O(log n)
    rounds on any topology. Each round is two grouped aggregations +
    two joins; the per-round driver-side value is a constant-size
    fingerprint (count + hash-sum) used for the fixpoint test. Iterates
    are localCheckpointed to truncate lineage (plan depth would
    otherwise grow linearly and planning time quadratically).

    * large-star: every node links its larger neighbors to the minimum
      of its neighborhood (incl. itself);
    * small-star: every node links its smaller-or-equal neighbors and
      itself to that minimum.

    At the fixpoint every component is a star centered on its minimum
    id, so labels read directly off the edge list.

    TWO-PHASE (r15): once the surviving edge set is at most
    ``driver_finish_edges`` (default ``CC_DRIVER_EDGES``), the
    remaining rounds collapse into one
    driver-side union-find over the collected iterate — the GraphFrames
    pattern. Identical min-label output (union-by-min-root makes every
    tree root the component minimum); what it removes is the ~5 tiny
    shuffles + checkpoint + fingerprint jobs per round that dominate
    once the graph has contracted to scheduling-latency size. Pass
    ``driver_finish_edges=0`` to force the pure distributed loop.
    """
    global _LAST_CC_ROUNDS
    thresh = (
        CC_DRIVER_EDGES if driver_finish_edges is None else driver_finish_edges
    )
    e = (
        edges.selectExpr("d1 AS u", "d2 AS v")
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def fingerprint(df):
        return tuple(
            df.agg(
                F.count(F.lit(1)),
                # decimal accumulator: a long sum of 2^63-range hashes
                # overflows under ANSI mode
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(30,0)")),
                    F.lit(0).cast("decimal(30,0)"),
                ),
            ).collect()[0]
        )

    prev_fp = fingerprint(e)
    if int(prev_fp[0]) <= thresh:
        # two-phase finish: the surviving edge set is driver-sized —
        # collapse it with union-find instead of paying ~5 tiny
        # shuffles + a checkpoint + a fingerprint job per remaining
        # round (pure scheduling latency on a contracted graph)
        _LAST_CC_ROUNDS = 0
        return _cc_driver_finish(e)
    for rounds in range(1, max_iter + 1):
        # -- large-star ---------------------------------------------------
        sym = e.unionByName(e.selectExpr("v AS u", "u AS v"))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        lg = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # -- small-star ---------------------------------------------------
        o = (
            lg.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            o.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .unionByName(mins2.selectExpr("u", "m AS v"))
            .distinct()
            .localCheckpoint()
        )
        # fixpoint test: consecutive edge sets identical ⇒ stars formed
        fp = fingerprint(e)
        if fp == prev_fp:
            break
        prev_fp = fp
        if int(fp[0]) <= thresh:
            # graph contracted under the driver threshold mid-run:
            # finish the remaining rounds with union-find
            _LAST_CC_ROUNDS = rounds
            return _cc_driver_finish(e)
    _LAST_CC_ROUNDS = rounds
    # stars: (member, center) edges with center < member; centers label
    # themselves
    return (
        e.selectExpr("u AS doc", "v AS comp")
        .unionByName(e.select(F.col("v").alias("doc"), F.col("v").alias("comp")))
        .groupBy("doc")
        .agg(F.min("comp").alias("comp"))
    )


def sql_cc_oracle(
    pairs_sql: str, col_a: str, col_b: str, out_node: str, out_comp: str
) -> str:
    """Recursive-CTE connected components over an arbitrary pair
    query — ONE template serving every CC-shaped oracle
    (dedup_clusters, er_cluster_entities), so a fix to the reach
    recursion or min-label rule can never leave a twin stale."""
    return f"""
    WITH RECURSIVE
    pairs AS ({pairs_sql}),
    sym AS (
      SELECT {col_a} AS a, {col_b} AS b FROM pairs
      UNION
      SELECT {col_b}, {col_a} FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS v FROM sym),
    reach(v, r) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.v
    )
    SELECT v AS {out_node}, min(r) AS {out_comp} FROM reach GROUP BY v
    """


def _clusters_oracle() -> str:
    """CC over the SAME verified MinHash pair set the Spark side uses
    (pairs CTE = _minhash_oracle's final SELECT)."""
    return sql_cc_oracle(_minhash_oracle(), "d1", "d2", "doc", "comp")


@query("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash pair graph, labeling every clustered doc with its component
    representative (min doc id). This is the step that turns pairwise
    dedup output into an actionable keep/drop decision — keep
    doc == comp, drop the rest.

    The oracle computes identical components via a recursive CTE
    (transitive closure + min label), so even the iterative graph
    algorithm is value-checked, not rows-only.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# n-gram containment (excerpt / doc-in-doc detection)
# ---------------------------------------------------------------------------

#: flag when the smaller doc's shingle set is ≥ this contained in the
#: larger's (fixture measures a clean bimodal split: 25 pairs ≥ 0.9,
#: none in [0.6, 0.9))
CONTAIN_T = 0.8
#: ignore trivially small shingle sets
CONTAIN_MIN_SHINGLES = 5


@query(
    "dedup_containment",
    oracle=f"""
    WITH sh AS ({TH.sql_shingle_cte('documents', 'doc_id', 'text', SHINGLE_N)}),
    st AS (SELECT DISTINCT doc, {TH.sql_portable_tid('shingle')} AS tid FROM sh),
    sizes AS (SELECT doc, count(*) AS n FROM st GROUP BY doc),
    inter AS (
      SELECT a.doc AS d1, b.doc AS d2, count(*) AS i
      FROM st a JOIN st b ON a.tid = b.tid
      JOIN sizes sa ON sa.doc = a.doc
      JOIN sizes sb ON sb.doc = b.doc
      WHERE sa.n < sb.n OR (sa.n = sb.n AND a.doc < b.doc)
      GROUP BY a.doc, b.doc
    )
    SELECT d1, d2,
           (floor((CAST(i AS DOUBLE) / sa.n) * 1e6 + 0.5) / 1e6) AS cont
    FROM inter JOIN sizes sa ON sa.doc = inter.d1
    WHERE sa.n >= {CONTAIN_MIN_SHINGLES}
      AND CAST(i AS DOUBLE) / sa.n >= {CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram containment ≥ {CONTAIN_T}: |A∩B| / |A| with A the
    smaller shingle set — the doc-in-doc test that catches excerpts,
    quotes, and page-in-crawl duplication that Jaccard misses whenever
    |B| ≫ |A| (jac = i/(nA+nB−i) vanishes while i/nA stays 1.0).

    Prefix filter, containment form: if i ≥ t·nA then under one global
    rarest-first token order A must collide with B inside its first
    nA − ⌈t·nA⌉ + 1 tokens (missing all of them caps i at ⌈t·nA⌉ − 1).
    Only the SMALLER side can be prefix-pruned — containment puts no
    lower bound on the larger side's overlap fraction — so candidates
    are prefix(A) ⋈ full-index(B), biased to low-df tokens by the
    rarest-first order exactly like dedup_ngram_jaccard's PPJoin.

    Positional filter, containment form (the PPJoin pruner ported to
    the asymmetric threshold): common tokens appear in the same
    relative order in both docs under the one global (df, tid) order,
    so the FIRST common token of a qualifying pair collides at ranks
    (rA, rB) with overlap ≤ 1 + min(nA − rA, nB − rB), which must
    reach ⌈t·nA⌉. Pruning every collision that fails this keeps at
    least that first-common-token collision for every true pair
    (lossless), while discarding collisions deep in either side's
    tail BEFORE the pair materializes — the candidate cut that
    flattened the jaccard lane, applied to the form whose ×4 lane
    point was the repo's steepest. Verify is one array_intersect pass
    over the pair's token sets.

    Scale shape: the prefix join is the only pair-producing shuffle;
    the B-side full index is the same ranked (doc, tid) table the
    A-side prefix is cut from (one window, read twice, co-partitioned
    by tid). At 100 TB the candidate count is governed by rare
    tokens' df² — the same budget as the Jaccard join — and the
    min-side orientation halves the pair space.
    """
    from kafka_parquet_writer_spark.session import repartition_for_compute

    t = CONTAIN_T
    docsets, ranked = _ranked_tids(spark, sf_dir)
    base = cache_frame(
        ("dedup_containment", sf_dir),
        repartition_for_compute(ranked, F.col("tid")),
    )
    a = base.filter(
        (F.col("n") >= CONTAIN_MIN_SHINGLES)
        & (F.col("r") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
    ).alias("a")
    b = base.alias("b")
    need = F.ceil(F.lit(t) * F.col("a.n"))  # overlap target ⌈t·nA⌉
    ubound = 1 + F.least(
        F.col("a.n") - F.col("a.r"), F.col("b.n") - F.col("b.r")
    )
    cand = (
        a.join(
            b,
            (F.col("a.tid") == F.col("b.tid"))
            & (
                (F.col("a.n") < F.col("b.n"))
                | (
                    (F.col("a.n") == F.col("b.n"))
                    & (F.col("a.doc") < F.col("b.doc"))
                )
            )
            & (ubound >= need),
        )
        .select(F.col("a.doc").alias("d1"), F.col("b.doc").alias("d2"))
        .distinct()
    )
    a = docsets.select(
        F.col("doc").alias("d1"), F.col("ss").alias("ss1"), F.col("n").alias("n1")
    )
    b = docsets.select(F.col("doc").alias("d2"), F.col("ss").alias("ss2"))
    i = F.size(F.array_intersect("ss1", "ss2"))
    cont = i.cast("double") / F.col("n1")
    return (
        cand.join(a, "d1")
        .join(b, "d2")
        .filter(cont >= t)
        .select("d1", "d2", pround(cont, 6).alias("cont"))
    )


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup: cluster → within-cluster ε-ball keep/drop)
# ---------------------------------------------------------------------------


def _semantic_oracle() -> str:
    from kafka_parquet_writer_spark.functions.vector import sql_lit_vector

    cell_structs = ", ".join(
        f"struct_pack(s := -list_dot_product(u, {sql_lit_vector(c)}), c := {j})"
        for j, c in enumerate(DEDUP_CENTROIDS)
    )
    return f"""
    WITH n AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    act AS (
      SELECT CASE
               WHEN count(*) > {ANN_DEDUP_BANK * ANN_DEDUP_TARGET_PER_CELL}
               THEN CAST(error(
                 'dedup_semantic oracle covers only n <= '
                 || '{ANN_DEDUP_BANK * ANN_DEDUP_TARGET_PER_CELL}'
                 || ' vectors (static {ANN_DEDUP_BANK}-centroid bank)')
                 AS BIGINT)
               ELSE GREATEST({ANN_DEDUP_CELLS},
                             count(*) // {ANN_DEDUP_TARGET_PER_CELL})
             END AS m
      FROM n
    ),
    e AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS u FROM n),
    cells AS (
      SELECT vec_id, u,
             list_sort(list_filter([{cell_structs}], x -> x.c < m))[1].c
               AS cell
      FROM e CROSS JOIN act
    )
    SELECT a.vec_id AS vec_id,
           CAST(a.cell AS BIGINT) AS cell,
           NOT EXISTS (
             SELECT 1 FROM cells b
             WHERE b.cell = a.cell AND b.vec_id < a.vec_id
               AND floor(list_dot_product(a.u, b.u) * 1e6 + 0.5) / 1e6
                   >= {COSINE_DUP_THRESHOLD}
           ) AS keep
    FROM cells a
    """


@query("dedup_semantic", oracle=_semantic_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): embedding-space
    dedup as CLUSTER → within-cluster ε-ball → KEEP one
    representative. Where dedup_embedding_ann emits the near-dup PAIR
    graph, this operator emits the decision a curation pipeline
    actually applies: every vector labeled with its cluster and a
    keep/drop verdict — drop iff a LOWER-ID vector in the same
    cluster sits within the ε-ball (cos ≥ {COSINE_DUP_THRESHOLD}),
    so exactly one representative (the min id) survives per
    duplicate neighborhood chain, deterministically on both engines.

    Clustering is the IVF spherical assignment with probe = 1 (each
    vector to its single max-dot cell — a Voronoi partition, which is
    what SemDeDup's k-means step produces), with the cell count
    m = max({ANN_DEDUP_CELLS}, n/{ANN_DEDUP_TARGET_PER_CELL})
    scaling WITH the corpus exactly like dedup_embedding_ann — the
    paper's k ∝ n choice — so the within-cluster pairwise work stays
    Σ cell² ∝ n at any corpus size (a FIXED cluster count would be
    the n² trap). Per-cell verdicts are one BLAS gram matrix per cell
    (applyInPandas, the _make_verifier shape) emitting one row per
    vector. Shuffle volume: n assignment rows, nothing else.

    Cross-cell misses are the probe-1 tradeoff the paper accepts
    (duplicates straddling a Voronoi boundary survive as two
    representatives); dedup_embedding_ann with probe {ANN_DEDUP_PROBE}
    is the recall-oriented sibling.
    """
    emb = _unit_vectors(spark, sf_dir)
    n = load_table(spark, sf_dir, "embeddings").count()
    m = max(ANN_DEDUP_CELLS, n // ANN_DEDUP_TARGET_PER_CELL)
    if m > ANN_DEDUP_MAX_LITERAL_CELLS:
        raise ValueError(
            "dedup_semantic: use the IMI assigner past the flat "
            "ceiling (see dedup_embedding_ann)"
        )
    cs = DEDUP_CENTROIDS if m <= ANN_DEDUP_BANK else _dedup_centroids(m)
    probes = _assign_cells(emb, cs[:m], probe=1)

    def verdicts(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        u = np.vstack(pdf["u"].to_numpy())[order]
        cell = int(pdf["cell"].iloc[0])
        if len(ids) == 1:
            keep = np.array([True])
        else:
            s = u @ u.T
            # drop iff ANY lower-id row is within the ε-ball. The
            # threshold compare runs on the 6-decimal pround value on
            # BOTH engines (floor(x·1e6+0.5)/1e6, the repo-wide
            # convention): BLAS reassociates the dot's float64 sum
            # while DuckDB folds sequentially, so a raw compare could
            # flip a pair sitting within ~1e-16 of the threshold —
            # the same caveat documented for IVF cell choice.
            sr = np.floor(s * 1e6 + 0.5) / 1e6
            dup = (sr >= COSINE_DUP_THRESHOLD) & np.tri(
                len(ids), k=-1, dtype=bool
            )
            keep = ~dup.any(axis=1)
        return pd.DataFrame(
            {"vec_id": ids, "cell": np.int64(cell), "keep": keep}
        )

    return probes.groupBy("cell").applyInPandas(
        verdicts, "vec_id long, cell long, keep boolean"
    )
