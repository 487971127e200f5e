"""Similarity search over embedding vectors (north-star surface).

Two paths, same API shape:
- **Exact brute-force top-k** — the correctness baseline. Quadratic;
  fine for verification scale, and still the right choice when one side
  is small (queries broadcast against the corpus).
- **LSH-bucketed ANN** — random-hyperplane signatures turn candidate
  generation into an equi-join on bucket id; cost ∝ Σ bucket² instead
  of |Q|×|C|. The hyperplanes are seeded constants, so even the
  *approximate* operator is value-hash-verified (both engines run the
  identical algorithm).
- **IVF / PQ / IVF-PQ / IMI** — cell assignment, PQ coding and
  asymmetric distance run as the numpy kernels of functions/vector.py
  under one `mapInArrow` adapter (`V.map_vectors`): centroids and
  codebooks live in the kernel's closure, never in the plan, so every
  key plans a few nodes. The oracle SQL carries them as literals.

All cosine math is double-precision with rounding to 6 digits before
ranking, so rank order is engine-independent (ties broken by vec_id).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_parquet_writer_spark.artifacts import ensure_artifact
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.functions import vector as V
from kafka_parquet_writer_spark.functions.portable import pround, sql_pround
from kafka_parquet_writer_spark.registry import query
from kafka_parquet_writer_spark.session import repartition_for_compute

EMBED_DIM = 64
TOPK = 5
N_QUERIES = 10  # query side: vec_id < N_QUERIES

ANN_PLANES_SEED = 202
ANN_N_PLANES = 4  # 16 buckets — sized for the test corpus; more at scale
ANN_TOPK = 3
ANN_N_QUERIES = 20


def _ann_planes() -> list[list[float]]:
    rng = np.random.RandomState(ANN_PLANES_SEED)
    planes = rng.randn(ANN_N_PLANES, EMBED_DIM)
    return [[round(float(x), 6) for x in p] for p in planes]


ANN_PLANES = _ann_planes()


#: shared by similarity_topk (expression path) and
#: similarity_topk_blas (numpy/Arrow path) — one string, so the
#: "same oracle proves the fast path exact" claim can't drift
_TOPK_ORACLE = f"""
    WITH e AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             (floor((list_dot_product(q.v, c.v) / (q.nrm * c.nrm)) * 1e6 + 0.5) / 1e6) AS cos
      FROM e q JOIN e c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )
    SELECT q_id, n_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, n_id) AS INTEGER) AS rnk
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) <= {TOPK}
    """


@query(
    "similarity_topk",
    oracle=_TOPK_ORACLE,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: each query vector's 5 nearest neighbors.

    Scale shape: the query side is broadcast (it is small by
    construction); the corpus is scanned once; per-query heaps via
    window row_number ≤ k — no global sort, no corpus self-join.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    # corpus side carries the per-row cosine work — spread it across
    # cores even when the source is a single parquet split
    c = repartition_for_compute(emb, F.col("vec_id")).select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("cv")
    )
    cos = pround(V.cosine_expr(F.col("qv"), F.col("cv")), 6)
    scored = (
        F.broadcast(q)
        .join(c, F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", cos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= TOPK)
        .select("q_id", "n_id", "cos", "rnk")
    )


def _ann_oracle() -> str:
    dots = [
        f"list_dot_product(v, {V.sql_lit_vector(p)})" for p in ANN_PLANES
    ]
    bucket = " + ".join(
        f"(CASE WHEN {d} >= 0 THEN {1 << j} ELSE 0 END)" for j, d in enumerate(dots)
    )
    return f"""
    WITH e AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    b AS (SELECT vec_id, v, nrm, {bucket} AS bucket FROM e),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             (floor((list_dot_product(q.v, c.v) / (q.nrm * c.nrm)) * 1e6 + 0.5) / 1e6) AS cos
      FROM b q JOIN b c
        ON q.bucket = c.bucket AND q.vec_id < {ANN_N_QUERIES}
       AND c.vec_id <> q.vec_id
    )
    SELECT q_id, n_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, n_id) AS INTEGER) AS rnk
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            <= {ANN_TOPK}
    """


@query("similarity_ann_lsh", oracle=_ann_oracle())
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: bucket = sign-bit signature of 4
    seeded hyperplane projections; candidates are same-bucket only, then
    exact cosine re-rank, top-3.

    Scale: candidate generation is an equi-join on bucket — shuffle on a
    16-value key here, 2^p values in production (p sized so buckets fit
    executor memory). Recall is tunable via multi-probe or repeated
    plane sets (OR-amplification); the oracle runs the identical
    single-probe algorithm so results hash-match.
    """
    # bucket assignment does 4 × 64-dim dot products per row — give the
    # map side full core parallelism regardless of input split count
    emb = repartition_for_compute(
        load_table(spark, sf_dir, "embeddings"), F.col("vec_id")
    )
    planes = np.asarray(ANN_PLANES)
    b = V.map_vectors(
        emb.select("vec_id", "embedding"),
        "embedding",
        lambda x: V.lsh_bucket(x, planes),
        "bucket long",
    )
    q = b.filter(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("bucket").alias("qb"),
    )
    c = b.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("cv"),
        F.col("bucket").alias("cb"),
    )
    cos = pround(V.cosine_expr(F.col("qv"), F.col("cv")), 6)
    scored = q.join(
        c, (F.col("qb") == F.col("cb")) & (F.col("n_id") != F.col("q_id"))
    ).select("q_id", "n_id", cos.alias("cos"))
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= ANN_TOPK)
        .select("q_id", "n_id", "cos", "rnk")
    )


IVF_SEED = 303
IVF_CELLS = 8
IVF_PROBE = 2
IVF_TOPK = 3
IVF_N_QUERIES = 20


def _ivf_centroids() -> list[list[float]]:
    rng = np.random.RandomState(IVF_SEED)
    cs = rng.randn(IVF_CELLS, EMBED_DIM)
    return [[round(float(x), 6) for x in c] for c in cs]


IVF_CENTROIDS = _ivf_centroids()


def ivf_cells(
    df: DataFrame, centroids: list[list[float]], probe: int = 1
) -> DataFrame:
    """`df` plus ``cell``: one row per each embedding's `probe` nearest
    centroids (l2, ties to the lower cell) — the IVF assignment of
    every batch and streaming IVF key."""
    cents = np.asarray(centroids, dtype=np.float64)
    return V.map_vectors(
        df, "embedding", lambda x: V.nearest(x, cents, probe), "cell long"
    )


def ivf_topk(
    emb: DataFrame,
    centroids: list[list[float]],
    n_queries: int = IVF_N_QUERIES,
    probe: int = IVF_PROBE,
    topk: int = IVF_TOPK,
) -> DataFrame:
    """IVF assignment/probe/re-rank with caller-supplied centroids —
    the engine under `similarity_ivf` (seeded centroids, oracle-
    checked) and the k-means production path (`pq_codebooks_kmeans`
    with one book)."""
    emb = emb.select("vec_id", "embedding")
    corpus = ivf_cells(emb, centroids).select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("cv"), "cell"
    )
    probes = ivf_cells(
        emb.filter(F.col("vec_id") < n_queries), centroids, probe
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "cell")
    cos = pround(V.cosine_expr(F.col("qv"), F.col("cv")), 6)
    # each corpus vector lives in exactly one cell and a query's probe
    # rows carry distinct cells, so (q_id, n_id) pairs are unique
    scored = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", cos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("q_id", "n_id", "cos")
    )


def _ivf_oracle() -> str:
    cell_structs = ", ".join(
        f"struct_pack(s := CAST({sum(x*x for x in c)!r} AS DOUBLE)"
        f" - 2.0 * list_dot_product(v, {V.sql_lit_vector(c)}), c := {j})"
        for j, c in enumerate(IVF_CENTROIDS)
    )
    return f"""
    WITH e AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    cells AS (SELECT vec_id, v, nrm, list_sort([{cell_structs}]) AS cl FROM e),
    corpus AS (SELECT vec_id, v, nrm, (cl[1]).c AS cell FROM cells),
    probes AS (
      SELECT vec_id, v, nrm, u.c AS cell
      FROM (SELECT vec_id, v, nrm, unnest(cl[1:{IVF_PROBE}]) AS u
            FROM cells WHERE vec_id < {IVF_N_QUERIES})
    ),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             (floor((list_dot_product(q.v, c.v) / (q.nrm * c.nrm)) * 1e6 + 0.5) / 1e6) AS cos
      FROM probes q JOIN corpus c
        ON q.cell = c.cell AND c.vec_id <> q.vec_id
    )
    SELECT q_id, n_id, cos FROM scored
    QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            <= {IVF_TOPK}
    """


@query("similarity_ivf", oracle=_ivf_oracle())
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: corpus vectors are assigned to their nearest of 8
    seeded centroids (inverted file cells); each query probes its 2
    nearest cells and exact-cosine re-ranks within them, top-3.

    Scale shape: cell assignment is one narrow mapInArrow (`ivf_cells`:
    one BLAS product per Arrow batch, centroids in the closure — no
    shuffle, no explosion of the corpus); the join is an equi-join on
    cell id, cost ∝ Σ probed-cell sizes, never |Q|×|C|. In production
    the centroids come from a sampled k-means (MLlib KMeans on ~1% of
    rows) and IVF_CELLS scales to √N; the plan is unchanged. The
    oracle runs the identical algorithm over the same seeded
    centroids, as literals.

    A query's own vector can appear in a probed cell; it is excluded
    (n_id ≠ q_id), matching the brute-force operator's convention.
    """
    emb = repartition_for_compute(
        load_table(spark, sf_dir, "embeddings"), F.col("vec_id")
    )
    return ivf_topk(emb, IVF_CENTROIDS)


def brute_force_topk_matrix(
    emb: DataFrame, queries: list[tuple[int, list[float]]], k: int = 10
) -> DataFrame:
    """Vectorized brute-force top-k: the throughput path.

    The query set (small) ships to every partition as a numpy matrix;
    each Arrow batch of corpus vectors is scored with one BLAS matmul
    (`mapInPandas`), emitting (q_id, n_id, cos) candidates; a final
    window keeps global top-k per query. This is how you scan a 100 TB
    corpus: one pass, no shuffle until the (tiny) candidate set.
    """
    import pandas as pd

    q_ids = np.array([q[0] for q in queries], dtype=np.int64)
    q_mat = V.unit([q[1] for q in queries])

    def score(batches):
        for pdf in batches:
            c_mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(c_mat, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (c_mat / norms) @ q_mat.T  # (batch, nq)
            # round to the module's 6-decimal contract BEFORE any
            # selection: ranking raw BLAS doubles would make rank
            # order (and top-k membership at the boundary) depend on
            # last-ulp summation-order differences vs the oracle's
            # sequential fold whenever two cosines round equal
            sims = np.floor(sims * 1e6 + 0.5) / 1e6
            ids = pdf["vec_id"].values
            n = len(pdf)
            top = min(k, n)
            for qi in range(len(q_ids)):
                # a query is never its own neighbor (the brute-force
                # operator's convention; rank-shifts everything if kept)
                col = sims[:, qi].copy()
                col[ids == q_ids[qi]] = -np.inf
                # per-batch top by (cos desc, n_id asc) — the same
                # total order the global window applies
                order = np.lexsort((ids, -col))[:top]
                idx = order[np.isfinite(col[order])]
                yield pd.DataFrame(
                    {
                        "q_id": q_ids[qi],
                        "n_id": ids[idx],
                        "cos": col[idx],
                    }
                )

    cands = emb.mapInPandas(score, schema="q_id long, n_id long, cos double")
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return cands.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# --- product quantization (the compression half of IVF-PQ) -----------------

PQ_SEED = 404
PQ_M = 4          #: subspaces
PQ_SUBDIM = EMBED_DIM // PQ_M
PQ_K = 16         #: codebook entries per subspace


def _pq_codebooks() -> list[list[list[float]]]:
    rng = np.random.RandomState(PQ_SEED)
    return [
        [[round(float(x), 6) for x in c]
         for c in rng.randn(PQ_K, PQ_SUBDIM)]
        for _ in range(PQ_M)
    ]


PQ_CODEBOOKS = _pq_codebooks()


def _pq_oracle() -> str:
    best = []
    norms = []
    for m, book in enumerate(PQ_CODEBOOKS):
        sub = f"list_slice(v, {m * PQ_SUBDIM + 1}, {(m + 1) * PQ_SUBDIM})"
        structs = ", ".join(
            f"struct_pack(s := CAST({sum(x * x for x in c)!r} AS DOUBLE)"
            f" - 2.0 * list_dot_product({sub}, {V.sql_lit_vector(c)}),"
            f" c := {k})"
            for k, c in enumerate(book)
        )
        best.append(f"list_sort([{structs}])[1] AS b{m}")
        norms.append(f"list_dot_product({sub}, {sub}) AS n{m}")
    err = " + ".join(f"(b{m}.s + n{m})" for m in range(PQ_M))
    code = " + ".join(f"(b{m}.c) * {PQ_K ** m}" for m in range(PQ_M))
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, {", ".join(best)}, {", ".join(norms)} FROM e)
    SELECT vec_id,
           CAST({code} AS BIGINT) AS pq_code,
           {sql_pround(err, 6)} AS err6
    FROM s
    """


@query("embedding_pq", oracle=_pq_oracle())
def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each 64-dim embedding splits into 4
    subvectors of 16 dims; each subvector is assigned its nearest of 16
    seeded codebook centroids (argmin of ‖c‖² − 2·v·c, the constant
    ‖v‖² dropped from the compare and added back for the error). Emits
    the packed 16-bit PQ code and the exact squared reconstruction
    error — the compression half of an IVF-PQ index, which cuts vector
    storage 64·4 bytes → 2 bytes and makes the ANN candidate scan
    memory-resident at 100 TB.

    Scale shape: one narrow mapInArrow over the scan (no shuffle): per
    Arrow batch, `V.pq_codes` (one BLAS product per codebook) and the
    error as `V.adc` of the vector against its own codes. The codebooks
    live in the kernel's closure — seeded here; production swaps in
    k-means-trained books (`pq_codebooks_kmeans`), same plan. The
    oracle runs the identical arithmetic, and the error is folded in
    its sequential order, so the doubles are bit-identical.
    """
    books = [np.asarray(b, dtype=np.float64) for b in PQ_CODEBOOKS]
    radix = PQ_K ** np.arange(PQ_M)

    def code(x):
        codes = V.pq_codes(x, books)
        return codes @ radix, V.adc(x, books, codes)

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return V.map_vectors(
        emb, "embedding", code, "pq_code long, err double", keep=["vec_id"]
    ).select("vec_id", "pq_code", pround(F.col("err"), 6).alias("err6"))


@query(
    "similarity_topk_blas",
    oracle=_TOPK_ORACLE,
)
def similarity_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The vectorized brute-force scan (brute_force_topk_matrix), put
    under the same value oracle as the expression-based
    `similarity_topk`: query vectors broadcast as a numpy matrix, each
    Arrow batch of corpus vectors scored with ONE BLAS matmul inside
    `mapInPandas`, per-batch top-k, then a global window. A green row
    proves the Arrow/numpy throughput path is numerically exact
    against DuckDB's sequential-fold dot products at the 6-decimal
    contract — the result that justifies using the fast path for real
    100 TB scans.

    The 10-row query-vector collect is input-gathering (the queries ARE
    the operator's parameter), not a distributed-compute collect.
    """
    from kafka_parquet_writer_spark.session import repartition_for_compute

    emb = repartition_for_compute(
        load_table(spark, sf_dir, "embeddings"), F.col("vec_id")
    )
    queries = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    ]
    out = brute_force_topk_matrix(emb, queries, k=TOPK)
    return out.select(
        "q_id",
        "n_id",
        pround(F.col("cos"), 6).alias("cos"),
        F.col("rnk").cast("int").alias("rnk"),
    )


# --- IVF-PQ fusion ----------------------------------------------------------

IVFPQ_N_QUERIES = 20
IVFPQ_PROBE = 2
IVFPQ_RERANK = 10   #: ADC shortlist size per query
IVFPQ_TOPK = 3


def _pq_sub_sql(vec_expr: str, m: int) -> str:
    return f"list_slice({vec_expr}, {m * PQ_SUBDIM + 1}, {(m + 1) * PQ_SUBDIM})"


def _ivfpq_oracle() -> str:
    # corpus side: cell (nearest IVF centroid) + per-subspace PQ codes
    cell_structs = ", ".join(
        f"struct_pack(s := CAST({sum(x*x for x in c)!r} AS DOUBLE)"
        f" - 2.0 * list_dot_product(v, {V.sql_lit_vector(c)}), c := {j})"
        for j, c in enumerate(IVF_CENTROIDS)
    )
    codes = []
    for m, book in enumerate(PQ_CODEBOOKS):
        sub = _pq_sub_sql("v", m)
        structs = ", ".join(
            f"struct_pack(s := CAST({sum(x * x for x in c)!r} AS DOUBLE)"
            f" - 2.0 * list_dot_product({sub}, {V.sql_lit_vector(c)}),"
            f" c := {k})"
            for k, c in enumerate(book)
        )
        codes.append(f"(list_sort([{structs}])[1]).c AS c{m}")
    # query side: per-subspace ADC lookup table, indexed by the
    # candidate's code — identical expression tree to the Spark plan
    terms = []
    for m, book in enumerate(PQ_CODEBOOKS):
        qsub = _pq_sub_sql("qv", m)
        lut = ", ".join(
            f"CAST({sum(x * x for x in c)!r} AS DOUBLE)"
            f" - 2.0 * list_dot_product({qsub}, {V.sql_lit_vector(c)})"
            for c in book
        )
        terms.append(
            f"([{lut}][c{m} + 1] + list_dot_product({qsub}, {qsub}))"
        )
    adc = " + ".join(terms)
    return f"""
    WITH e AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    cells AS (SELECT vec_id, v, nrm, list_sort([{cell_structs}]) AS cl FROM e),
    corpus AS (
      SELECT vec_id, (cl[1]).c AS cell, {", ".join(codes)}
      FROM cells
    ),
    probes AS (
      SELECT vec_id, v AS qv, nrm AS qnrm, u.c AS cell
      FROM (SELECT vec_id, v, nrm, unnest(cl[1:{IVFPQ_PROBE}]) AS u
            FROM cells WHERE vec_id < {IVFPQ_N_QUERIES})
    ),
    adc AS (
      SELECT q.vec_id AS q_id, q.qv AS qv, q.qnrm AS qnrm,
             c.vec_id AS n_id,
             {sql_pround(adc, 6)} AS adc6
      FROM probes q JOIN corpus c
        ON q.cell = c.cell AND c.vec_id <> q.vec_id
    ),
    short AS (
      SELECT q_id, qv, qnrm, n_id, adc6
      FROM adc
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY adc6, n_id)
              <= {IVFPQ_RERANK}
    ),
    rer AS (
      SELECT s.q_id, s.n_id,
             {sql_pround("list_dot_product(s.qv, e.v) / (s.qnrm * e.nrm)", 6)}
               AS cos
      FROM short s JOIN e ON e.vec_id = s.n_id
    )
    SELECT q_id, n_id, cos,
           CAST(row_number() OVER (PARTITION BY q_id
                                   ORDER BY cos DESC, n_id) AS INTEGER) AS rnk
    FROM rer
    QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            <= {IVFPQ_TOPK}
    """


@query("similarity_ivf_pq", oracle=_ivfpq_oracle())
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ ANN pipeline — the two halves the repo already
    proves separately (`similarity_ivf` cells, `embedding_pq` codes)
    FUSED into the index structure real vector stores run at 100 TB:
    corpus vectors carry only (cell, 4×4-bit PQ code); a query probes
    its 2 nearest cells, scores candidates by ASYMMETRIC DISTANCE
    (per-subspace lookup table built from the query vector, indexed by
    the candidate's code — no candidate embedding touched), keeps an
    ADC shortlist of 10, and exact-cosine re-ranks only that shortlist
    into the final top-3. The oracle runs the identical algorithm
    (same seeded centroids/codebooks, as literals; same fold order),
    so every stage — assignment, coding, ADC, re-rank — is
    value-hash-verified end to end.

    Scale shape: the candidate scan reads 2 bytes/vector instead of
    256 (the memory-residency argument for PQ); ADC is one narrow
    mapInArrow (`V.adc`) after one equi-join on cell id (cost ∝ Σ
    probed-cell sizes); only `IVFPQ_RERANK` rows per query ever touch
    a raw embedding again, via an equi-join of the (tiny, broadcast)
    shortlist against the vector store. Production swaps in k-means
    centroids/codebooks (`pq_codebooks_kmeans`) — same plan.
    """
    emb = repartition_for_compute(
        load_table(spark, sf_dir, "embeddings"), F.col("vec_id")
    )
    return ivf_pq_topk(emb, IVF_CENTROIDS, PQ_CODEBOOKS)


def pq_codebooks_kmeans(
    emb: DataFrame,
    n_books: int = PQ_M,
    n_codes: int = PQ_K,
    seed: int = PQ_SEED,
    sample_fraction: float = 1.0,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Production PQ codebook and IVF centroid training: per-subspace
    k-means (MLlib) on a sample.

    The declared keys use seeded random centroids and codebooks so
    the DuckDB oracle can run the identical algorithm; seeded random
    codewords quantize badly (on the isotropic fixture the
    quantization error swamps neighbor gaps — measured in
    tests/test_round4_ops.py), so a real deployment trains each
    subspace's codebook on a sample. One book of `n` codes is the IVF
    centroid bank: ``pq_codebooks_kmeans(emb, 1, n, IVF_SEED)[0]``.
    Training on ~1% of rows bounds driver/MLlib cost at any corpus
    size (k-means only needs the coarse density landscape). Returned
    books are plain lists — the `ivf_topk` / `ivf_pq_topk` plans are
    identical to the seeded-constant ones.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = emb if sample_fraction >= 1.0 else emb.sample(
        fraction=sample_fraction, seed=seed
    )
    subdim = EMBED_DIM // n_books
    books = []
    for m in range(n_books):
        feats = sample.select(
            array_to_vector(
                F.slice(F.col(vec_col), m * subdim + 1, subdim).cast(
                    "array<double>"
                )
            ).alias("features")
        )
        model = KMeans(k=n_codes, seed=seed + m, maxIter=20).fit(feats)
        books.append(
            [[round(float(x), 6) for x in c] for c in model.clusterCenters()]
        )
    return books


def ivf_pq_topk(
    emb: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    n_queries: int = IVFPQ_N_QUERIES,
    probe: int = IVFPQ_PROBE,
    rerank: int = IVFPQ_RERANK,
    topk: int = IVFPQ_TOPK,
) -> DataFrame:
    """The IVF-PQ engine with caller-supplied centroids/codebooks —
    shared by the declared seeded-constant key (oracle-checked) and
    the k-means production path (`pq_codebooks_kmeans`)."""
    emb = emb.select("vec_id", "embedding")
    corpus = pq_index(emb, centroids, codebooks)
    probes = ivf_cells(
        emb.filter(F.col("vec_id") < n_queries), centroids, probe
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"), "cell")
    cands = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
    )
    return adc_rerank(cands, emb, codebooks, rerank, topk)


def adc_rerank(
    cands: DataFrame,
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    rerank: int = IVFPQ_RERANK,
    topk: int = IVFPQ_TOPK,
) -> DataFrame:
    """The IVF-PQ tail over candidate rows (q_id, qv, n_id, c0..):
    ADC-score each candidate (`V.adc`: the query's per-subspace
    distance to the codeword its code names), keep a shortlist of
    `rerank` per query by (adc6, n_id), and exact-cosine re-rank only
    the shortlist against the `emb` store into the top `topk`."""
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    code_cols = tuple(f"c{m}" for m in range(len(books)))
    adc = V.map_vectors(
        cands.select("q_id", "qv", "n_id", *code_cols),
        "qv",
        lambda x, *cs: V.adc(x, books, np.stack(cs, axis=1)),
        "adc double",
        args=code_cols,
        keep=["q_id", "qv", "n_id"],
    ).select("q_id", "qv", "n_id", pround(F.col("adc"), 6).alias("adc6"))
    ws = W.partitionBy("q_id").orderBy(F.col("adc6"), F.col("n_id"))
    short = (
        adc.withColumn("srnk", F.row_number().over(ws))
        .filter(F.col("srnk") <= rerank)
        .drop("srnk")
    )
    store = emb.select(F.col("vec_id").alias("n_id"), F.col("embedding").alias("cv"))
    rer = (
        F.broadcast(short)
        .join(store, "n_id")
        .select(
            "q_id",
            "n_id",
            pround(V.cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    wk = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        rer.withColumn("rnk", F.row_number().over(wk).cast("int"))
        .filter(F.col("rnk") <= topk)
        .select("q_id", "n_id", "cos", "rnk")
    )


# --- similarity_rerank_mmr --------------------------------------------------

MMR_CAND = 20   #: shortlist size entering the rerank
MMR_K = 5       #: diversified results returned
#: λ = 0.7 as integer tenths: mmr = 7·sim(q,d) − 3·max_{s∈sel} sim(d,s)
MMR_REL, MMR_DIV = 7, 3
MMR_SCALE = 1_000_000  #: fixed-point scale for vector components


def _mmr_oracle() -> str:
    rel, div, k, cand, s = MMR_REL, MMR_DIV, MMR_K, MMR_CAND, MMR_SCALE
    ctes = [
        f"""n AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    )""",
        f"""qv AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor(x / nrm * {s} + 0.5)
                                         AS BIGINT)) AS q
      FROM n
    )""",
        """qry AS (SELECT q AS qq FROM qv ORDER BY vec_id LIMIT 1)""",
        f"""cand AS (
      SELECT vec_id, q,
             CAST(list_dot_product(q, qq) AS BIGINT) AS simq
      FROM qv CROSS JOIN qry
      WHERE vec_id > (SELECT min(vec_id) FROM qv)
      QUALIFY row_number() OVER (ORDER BY simq DESC, vec_id) <= {cand}
    )""",
        f"""sel1 AS (
      SELECT 1 AS rnk, vec_id, q, simq, CAST({rel} AS BIGINT) * simq AS mmr
      FROM cand ORDER BY simq DESC, vec_id LIMIT 1
    )""",
    ]
    prev = "sel1"
    for r in range(2, MMR_K + 1):
        ctes.append(f"""sel{r} AS (
      SELECT * FROM {prev}
      UNION ALL
      SELECT {r} AS rnk, vec_id, q, simq, mmr FROM (
        SELECT c.vec_id, c.q, c.simq,
               {rel} * c.simq
                 - {div} * max(CAST(list_dot_product(c.q, p.q) AS BIGINT))
                 AS mmr
        FROM cand c JOIN {prev} p ON true
        WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY c.vec_id, c.q, c.simq
        ORDER BY mmr DESC, c.vec_id LIMIT 1)
    )""")
        prev = f"sel{r}"
    return (
        "WITH " + ",\n    ".join(ctes)
        + f"\n    SELECT CAST(rnk AS INTEGER) AS rnk, vec_id,"
          f" CAST(simq AS BIGINT) AS simq, CAST(mmr AS BIGINT) AS mmr"
          f" FROM {prev}"
    )


@query("similarity_rerank_mmr", oracle=_mmr_oracle())
def similarity_rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance rerank: the top-{MMR_CAND} cosine
    shortlist for a query vector is greedily re-selected into
    {MMR_K} DIVERSE results — each round picks argmax of
    {MMR_REL}·sim(query, d) − {MMR_DIV}·max_sim(d, already-selected)
    (λ = 0.7). The context-selection step a RAG / training-example
    pipeline runs after ANN retrieval so near-duplicate passages don't
    crowd the slate. ALL similarity arithmetic is exact int64 (1e-6
    fixed-point unit vectors → integer dots ≤ 2^46), so both engines
    walk the identical greedy trajectory through {MMR_K} unrolled
    oracle rounds, ties broken by vec_id.

    Scale shape: the expensive stage is the shortlist (any of the
    similarity_* retrieval paths; here the exact top-{MMR_CAND} — one
    scan + TakeOrderedAndProject). The greedy rerank touches only the
    {MMR_CAND}-row shortlist: a sequential O(K·CAND·dim) integer
    recurrence with no distributed structure, so it runs as ONE
    vectorized Python stage over the shortlist batch (guide §4: the
    boundary crosses {MMR_CAND} rows once). The r5 form expressed the
    recurrence as K unrolled DataFrame rounds, each fenced by a
    localCheckpoint — 6 eager driver actions per invocation (~4.4 s
    of the key's 4.5 s on the r15 before-split, exec 0.05 s); this
    form is a single lazy plan: scan → dot(q) → TakeOrdered({MMR_CAND})
    → one MapInPandas batch. Grouping per q_id turns the same stage
    into a million-shortlist rerank with zero plan changes."""
    from kafka_parquet_writer_spark.operators.dedup import _unit_vectors

    qv = _unit_vectors(spark, sf_dir).select(
        "vec_id",
        F.transform(
            "u", lambda x: F.floor(x * MMR_SCALE + F.lit(0.5)).cast("long")
        ).alias("q"),
    )
    # the query vector (min vec_id) rides along as a broadcast 1-row
    # join instead of a driver collect: no eager action at build time
    qry = (
        qv.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"))
    )
    dot_q = F.aggregate(
        F.zip_with("q", "qq", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand = (
        qv.crossJoin(F.broadcast(qry))
        .filter(F.col("vec_id") > F.col("qid"))
        .withColumn("simq", dot_q)
        .select("vec_id", "q", "simq")
        .orderBy(F.col("simq").desc(), "vec_id")
        .limit(MMR_CAND)
    )
    rel, div, k = MMR_REL, MMR_DIV, MMR_K

    def greedy(batches):
        import pandas as pd

        # the GlobalLimit shortlist arrives as one ≤MMR_CAND-row
        # partition; accumulate defensively across batches anyway
        rows = []
        for pdf in batches:
            for vec_id, q, simq in zip(pdf["vec_id"], pdf["q"], pdf["simq"]):
                rows.append((int(vec_id), [int(x) for x in q], int(simq)))
        if not rows:
            return
        # exact int64 greedy walk, ties by vec_id — the identical
        # trajectory the unrolled oracle rounds take (Python ints ARE
        # int64 here: |dot| ≤ dim·1e12 < 2^46)
        rows.sort(key=lambda t: (-t[2], t[0]))
        sel = [(1, rows[0][0], rows[0][2], rel * rows[0][2])]
        sel_q = [rows[0][1]]
        remaining = rows[1:]
        for r in range(2, k + 1):
            if not remaining:
                break
            best = None
            for vec_id, q, simq in remaining:
                maxsim = max(
                    sum(a * b for a, b in zip(q, pq)) for pq in sel_q
                )
                mmr = rel * simq - div * maxsim
                if best is None or (-mmr, vec_id) < (-best[3], best[0]):
                    best = (vec_id, q, simq, mmr)
            sel.append((r, best[0], best[2], best[3]))
            sel_q.append(best[1])
            remaining = [t for t in remaining if t[0] != best[0]]
        yield pd.DataFrame(
            {
                "rnk": [s[0] for s in sel],
                "vec_id": [s[1] for s in sel],
                "simq": [s[2] for s in sel],
                "mmr": [s[3] for s in sel],
            }
        )

    vt = dict(qv.dtypes)["vec_id"]
    return cand.mapInPandas(
        greedy, f"rnk int, vec_id {vt}, simq long, mmr long"
    )


# ---------------------------------------------------------------------------
# query-side top-k through the inverted multi-index
# ---------------------------------------------------------------------------

IMI_Q_NQ = 20  #: query vectors (vec_id < this)
IMI_Q_TOPK = 3


def _imi_query_oracle() -> str:
    from kafka_parquet_writer_spark.operators.dedup import (
        ANN_DEDUP_PROBE,
        ANN_IMI_SIDE,
        _imi_banks,
    )

    c1, c2 = _imi_banks(ANN_IMI_SIDE, ANN_IMI_SIDE)
    l1 = ", ".join(
        f"struct_pack(s := -list_dot_product(ua, {V.sql_lit_vector(c)}), "
        f"c := {j})"
        for j, c in enumerate(c1)
    )
    l2 = ", ".join(
        f"struct_pack(s := -list_dot_product(ub, {V.sql_lit_vector(c)}), "
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
    corpus AS (SELECT vec_id, u, (cl[1]).c AS cell FROM combo),
    probes AS (
      SELECT vec_id, u, p.c AS cell
      FROM (SELECT vec_id, u, unnest(cl) AS p FROM combo
            WHERE vec_id < {IMI_Q_NQ})
    ),
    scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             (floor(list_dot_product(q.u, c.u) * 1e6 + 0.5) / 1e6) AS cos
      FROM probes q JOIN corpus c
        ON q.cell = c.cell AND c.vec_id <> q.vec_id
    )
    SELECT q_id, n_id, cos FROM scored
    QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id)
            <= {IMI_Q_TOPK}
    """


@query("similarity_ann_imi", oracle=_imi_query_oracle())
def similarity_ann_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-side ANN top-{IMI_Q_TOPK} through the inverted
    multi-index — the retrieval twin of dedup_embedding_ann_imi:
    corpus vectors land in their single nearest PRODUCT cell (probe
    1 over the m₁·m₂ subspace-pair codebook), queries probe their 4
    nearest product cells, and candidates are exact-cosine re-ranked.
    This is the Babenko-Lempitsky query path: a query touches
    m₁ + m₂ half-dim dots + 4 cells, while the effective cell count
    m₁·m₂ keeps per-cell candidate lists ~n/(m₁·m₂) — at 100 TB the
    banks grow as √m each, so the per-query cost grows as √(n/target)
    where flat IVF's grows as n/target.

    Scale shape: both assignment passes are the shared IMI
    mapInArrow kernel (`V.imi_nearest`: narrow, two half-dim BLAS
    products per Arrow batch); the only
    exchange is the probe⋈corpus equi-join on cell id plus the
    per-query top-k window (probe rows per query are distinct cells
    and corpus rows live in one cell, so pairs are unique — no
    distinct needed before the window).
    """
    from kafka_parquet_writer_spark.operators.dedup import (
        ANN_IMI_SIDE,
        _assign_imi_cells,
        _unit_vectors,
    )

    emb = _unit_vectors(spark, sf_dir)
    corpus = _assign_imi_cells(emb, ANN_IMI_SIDE, ANN_IMI_SIDE, probe=1).select(
        F.col("vec_id").alias("n_id"), F.col("u").alias("cv"), "cell"
    )
    probes = _assign_imi_cells(
        emb.filter(F.col("vec_id") < IMI_Q_NQ), ANN_IMI_SIDE, ANN_IMI_SIDE
    ).select(F.col("vec_id").alias("q_id"), F.col("u").alias("qv"), "cell")
    cos = pround(V.dot_expr(F.col("qv"), F.col("cv")), 6)
    scored = (
        F.broadcast(probes)
        .join(corpus, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id", cos.alias("cos"))
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= IMI_Q_TOPK)
        .select("q_id", "n_id", "cos")
    )


# --- materialized ANN (IVF-PQ) index lifecycle ------------------------------
#
# r14 VERDICT item 2: the text index has build -> serve -> maintain; the
# vector side was build -> serve only, and its "index" was an unbucketed
# mkdtemp parquet dir. This section closes the asymmetry: the PQ-coded
# corpus becomes a CELL-BUCKETED catalog table (sources/bucketed.py),
# value-oracled at build, with an incremental-maintenance key proving
# delta ≡ batch. Assignment and coding are PER-ROW functions (nearest
# centroid + per-subspace argmin — no corpus-global statistic anywhere),
# so the delta path is embarrassingly incremental: code the new vectors,
# append. That is the structural contrast with the text side, where df
# (and for BM25, avgdl) couple documents together and force the
# affected-token / band-exit machinery of rag_index_delta and
# rag_bm25_index_delta.

#: ANN CDC split: vectors with vec_id % MOD == RESIDUE play the
#: newly-arrived delta; the rest are the already-indexed base
ANN_CDC_MOD = 5
ANN_CDC_RESIDUE = 0

#: bucket count for the cell-bucketed index table — one bucket per IVF
#: cell at fixture scale (IVF_CELLS = 8); production re-derives it with
#: suggest_bucket_count against measured at-rest bytes per cell
ANN_INDEX_BUCKETS = IVF_CELLS


def pq_index(
    df: DataFrame,
    centroids: list[list[float]] = IVF_CENTROIDS,
    codebooks: list[list[list[float]]] = PQ_CODEBOOKS,
) -> DataFrame:
    """(vec_id, embedding) rows -> (n_id, cell, c0..c{M-1}): IVF cell
    (`V.nearest`) + per-subspace PQ codes (`V.pq_codes`) in one narrow
    mapInArrow — no shuffle, no corpus-global term. The index rows of
    the build key, the delta key, the streaming maintainer and
    ivf_pq_topk's corpus side."""
    cents = np.asarray(centroids, dtype=np.float64)
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]

    def code(x):
        return (V.nearest(x, cents)[:, 0], *V.pq_codes(x, books).T)

    fields = ", ".join(["cell long"] + [f"c{m} long" for m in range(len(books))])
    return V.map_vectors(
        df, "embedding", code, fields, keep=["vec_id"]
    ).withColumnRenamed("vec_id", "n_id")


def _ann_index_oracle(where: str = "") -> str:
    """DuckDB form of the PQ-coded corpus — _ivfpq_oracle's corpus CTE
    as a standalone statement (cell via the same ‖c‖² − 2·v·c argmin,
    codes via per-subspace list_sort argmin)."""
    cell_structs = ", ".join(
        f"struct_pack(s := CAST({sum(x*x for x in c)!r} AS DOUBLE)"
        f" - 2.0 * list_dot_product(v, {V.sql_lit_vector(c)}), c := {j})"
        for j, c in enumerate(IVF_CENTROIDS)
    )
    codes = []
    for m, book in enumerate(PQ_CODEBOOKS):
        sub = _pq_sub_sql("v", m)
        structs = ", ".join(
            f"struct_pack(s := CAST({sum(x * x for x in c)!r} AS DOUBLE)"
            f" - 2.0 * list_dot_product({sub}, {V.sql_lit_vector(c)}),"
            f" c := {k})"
            for k, c in enumerate(book)
        )
        codes.append(
            f"CAST((list_sort([{structs}])[1]).c AS BIGINT) AS c{m}"
        )
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings {where}
    )
    SELECT vec_id AS n_id,
           CAST((list_sort([{cell_structs}])[1]).c AS BIGINT) AS cell,
           {", ".join(codes)}
    FROM e
    """


@query("ann_index_build", oracle=_ann_index_oracle())
def ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized ANN-index BUILD — the vector-side analogue of
    rag_index_build, value-oracled: every corpus vector's IVF cell
    and 4×4-bit PQ codes, the table stream_ann_route_pq serves from
    (persisted cell-bucketed as the ann_pq artifact; this key returns
    the frame so DuckDB verifies assignment and coding end to end).
    At production widths the row is ~2 bytes of code + ids — the
    memory-residency argument for broadcasting ~100× more corpus than
    raw vectors allow.

    Scale shape: ONE embeddings scan and zero exchanges — assignment
    and coding are per-row functions of the vector and the (fixed)
    codebooks, computed by `pq_index` (one BLAS product per bank per
    Arrow batch, banks in the kernel's closure). The form with the
    banks as ~1.5k plan-literal nodes paid ~2.5 s PER INVOCATION of
    py4j Column construction + Catalyst analysis, data-independent,
    and re-paid it per micro-batch in the streaming maintainer. The
    cell-bucketed write pays its one shuffle at persist time so the
    serving join bucket-prunes forever after; build cost is the
    theoretical floor: read, code, write."""
    return pq_index(load_table(spark, sf_dir, "embeddings"))


def _ann_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The CELL-BUCKETED PQ index artifact (artifacts.ensure_artifact,
    tagged by the embeddings table's content): "ann_pq" codes every
    vector, "ann_pq_base" only the BASE vectors (vec_id % ANN_CDC_MOD
    != ANN_CDC_RESIDUE) — the deployed-index state when the delta
    arrives. Bucketing by cell makes the serving join's probe side
    co-locate per cell and lets a cell-pruned read touch one bucket
    file per probed cell at 100 TB."""

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        if name == "ann_pq_base":
            emb = emb.filter(F.col("vec_id") % ANN_CDC_MOD != ANN_CDC_RESIDUE)
        return pq_index(emb)

    return ensure_artifact(
        spark,
        name,
        sf_dir,
        build,
        bucket_by="cell",
        sort_by=["cell", "n_id"],
        n_buckets=ANN_INDEX_BUCKETS,
        table="embeddings",
    )


@query("ann_index_delta", oracle=_ann_index_oracle())
def ann_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ANN-index maintenance — delta ≡ batch for newly
    arrived vectors, completing the vector index's build → serve →
    maintain lifecycle (r14 VERDICT item 2). Cell assignment and PQ
    coding are PER-ROW functions of the vector and the (fixed)
    codebooks — no df, no avgdl, no corpus-global statistic — so the
    delta path is embarrassingly incremental: code ONLY the new
    vectors and append to the materialized base index. No anti-join,
    no affected-set computation, no re-ranking; the base table is
    read, never recomputed (and in production the append is a
    bucket-aligned file add, not even a table rewrite). The oracle is
    ann_index_build's full-corpus SQL: one green row proves base ∪
    coded-delta ≡ from-scratch build, bit-for-bit.

    The contrast WITH the text side is the design point: tf-idf
    maintenance pays an affected-token rebuild (df couples documents
    sharing a token — rag_index_delta), BM25 maintenance additionally
    risks a global re-rank (avgdl couples every document —
    rag_bm25_index_delta); PQ maintenance pays delta-rows × codebook
    comparisons, period. Retraining the codebooks on drifted data is
    a REBUILD decision (a new index generation), not maintenance —
    production monitors quantization error (embedding_pq's err6
    surface) to schedule it.

    Scale shape: one embeddings scan (the delta, vec_id % predicate
    at the scan — plan-gated) + one bucket-aligned read of the base
    table; zero joins, zero window passes; the union is exchange-free.
    Coding is ann_index_build's `pq_index`."""
    base = spark.table(_ann_table(spark, sf_dir, "ann_pq_base"))
    delta = pq_index(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % ANN_CDC_MOD == ANN_CDC_RESIDUE
        )
    )
    return base.unionByName(delta)
