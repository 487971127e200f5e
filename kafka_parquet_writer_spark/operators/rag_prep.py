"""Retrieval (RAG) corpus-prep operators: end-anchored passage
windowing, inverted-index shard manifests, top-k retrieval, and the
materialized index with its incremental maintenance.

The pipeline downstream of cleaning/dedup for a RETRIEVAL corpus
differs from the trainer-facing chunker (corpus_prep.text_chunk) in
two ways this module implements:

1. **Passage windowing is end-anchored**: a retriever embeds passages
   of a fixed token width; a trailing fragment shorter than the
   overlap embeds poorly and pollutes the index. The standard RAG
   chunker therefore CLAMPS the final window to end at the document's
   last token (start = n − W), giving every passage of a ≥W-token
   document the full width — at the cost of a larger overlap between
   the last two windows. text_chunk by contrast emits every
   stride-aligned tail (the trainer wants all tokens exactly once
   per epoch budget; the retriever wants uniform-width embeddings).

2. **The index ships as shard manifests**: a distributed index is
   served as |shards| independent posting files; the manifest row per
   shard (term count, postings volume, document-frequency ceiling,
   lexicographic term bounds) is what the query router loads to plan
   fan-out. Sharding is by portable term hash, so the manifest is
   reproducible across engines and runs.

Every top-k key is one cell of ``retrieve``'s grid — scorer {tf-idf,
BM25} × pruning {static top-L, MaxScore, block-max} × source {corpus,
materialized index} — built from the same few frame builders (``_tf``,
``_impacts``, ``_rank_impact_l``, ``_score``/``_topk``). The index
tables are artifacts (``_index_table`` over artifacts.ensure_artifact)
and the four delta keys share one maintainer (``_maintain``).

Reference parity: the reference engine stops at parquet landing
(`KafkaProtoParquetWriter.java:156-380`); every operator here is a
consumer-side batch transform over that landed data, per the
north-star LLM-pipeline surface (BASELINE.json). All arithmetic is
integer / hash-exact, so every key carries an exact DuckDB value
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_parquet_writer_spark.artifacts import cache_frame, ensure_artifact
from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.functions import texthash as TH
from kafka_parquet_writer_spark.registry import query

#: passage window: tokens per passage / stride between passage starts.
#: Deliberately distinct from text_chunk's 32/24 so the two chunkings
#: coexist in one corpus build (trainer chunks and retriever passages
#: are different artifacts of the same documents).
PASSAGE_TOKENS = 48
PASSAGE_STRIDE = 32

#: inverted-index shards (a power of two: the router masks, not mods,
#: in production — the value only needs to agree across engines here)
RAG_INDEX_SHARDS = 16


def _passage_oracle() -> str:
    W, S = PASSAGE_TOKENS, PASSAGE_STRIDE
    return f"""
    WITH w AS (
      SELECT doc_id, {TH.sql_words('text')} AS ws,
             len({TH.sql_words('text')}) AS n
      FROM documents
      WHERE len({TH.sql_words('text')}) >= 1
    ), p AS (
      SELECT doc_id, ws, n,
             1 + CASE WHEN n > {W}
                      THEN (n - {W} + {S} - 1) // {S} ELSE 0 END AS n_pass
      FROM w
    ), k AS (
      SELECT doc_id, ws, n, n_pass,
             unnest(range(0, n_pass)) AS seq
      FROM p
    ), s AS (
      SELECT doc_id, seq, n,
             CASE WHEN seq < n_pass - 1 THEN seq * {S}
                  ELSE greatest(n - {W}, 0) END AS st,
             ws
      FROM k
    )
    SELECT doc_id,
           CAST(seq AS BIGINT) AS passage_seq,
           CAST(st AS BIGINT) AS start_tok,
           CAST(least({W}, n) AS BIGINT) AS n_tok,
           {TH.sql_portable_hash64(
               f"array_to_string(list_slice(ws, st + 1, st + least({W}, n)), ' ')"
           )} AS passage_hash
    FROM s
    """


def passage_frame(docs: DataFrame) -> DataFrame:
    """The end-anchored passage windower as a frame transform: docs
    (doc_id, text, …) → one row per passage with the geometry columns
    and the portable content hash. Pure expression domain — words,
    per-row start list, explode, slice, hash — with no shuffle, no
    state, and no batch-only constructs, so the SAME function serves
    rag_passage_windows (batch) and stream_passage_windows (per
    micro-batch over the staged documents stream); the boundary-sweep
    test exercises it once for both. See rag_passage_windows for the
    window arithmetic."""
    W, S = PASSAGE_TOKENS, PASSAGE_STRIDE
    w = docs.select(
        "doc_id",
        TH.words_expr("text").alias("ws"),
        F.size(TH.words_expr("text")).alias("n"),
    ).filter(F.col("n") >= 1)
    p = w.withColumn(
        "n_pass",
        F.lit(1)
        + F.when(
            F.col("n") > W, F.expr(f"(n - {W} + {S} - 1) div {S}")
        ).otherwise(F.lit(0)),
    )
    k = p.select(
        "doc_id",
        "ws",
        "n",
        "n_pass",
        F.explode(F.expr("sequence(0, n_pass - 1)")).alias("seq"),
    )
    s = k.withColumn(
        "st",
        F.when(F.col("seq") < F.col("n_pass") - 1, F.col("seq") * S)
        .otherwise(F.greatest(F.col("n") - W, F.lit(0))),
    )
    return s.select(
        "doc_id",
        F.col("seq").cast("long").alias("passage_seq"),
        F.col("st").cast("long").alias("start_tok"),
        F.least(F.lit(W), F.col("n")).cast("long").alias("n_tok"),
        TH.portable_hash64(
            F.array_join(
                F.expr(f"slice(ws, st + 1, least({W}, n))"), " "
            )
        ).alias("passage_hash"),
    )


@query("rag_passage_windows", oracle=_passage_oracle())
def rag_passage_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-anchored passage windowing — text_chunk's retrieval-shaped
    sibling (the r10 SURVEY/VERDICT's RAG-prep candidate): width-W
    token windows every S tokens, with the FINAL window clamped to
    end at the document's last token, so every passage of a ≥W-token
    document is full width (uniform embedding width; no sub-overlap
    tail fragments in the index). Documents shorter than W yield one
    passage of the whole document.

    Window starts: k·S for k < n_pass−1, then n−W for the last —
    n_pass = 1 + ⌈max(0, n−W)/S⌉, and (n_pass−2)·S < n−W strictly, so
    starts never collide and consecutive middle windows overlap
    exactly W−S tokens. The passage identity that downstream exact
    dedup / index build consumes is the portable 64-bit hash of the
    joined token span (the text_chunk parity hash), so the oracle
    value-matches content, not just geometry.

    Scale shape: single-pass expression-domain transform — words,
    per-row start list (sequence + transform), explode, slice, hash;
    no shuffle at all (the parquet scan's partitioning survives), no
    Python. At 100 TB this is the map stage feeding the embedding
    UDF; the explode multiplies rows by ~n/S ≈ 3–4×, which
    files.maxPartitionBytes sizing already absorbs. The transform
    itself lives in passage_frame (shared with the streaming twin
    stream_passage_windows).
    """
    return passage_frame(load_table(spark, sf_dir, "documents"))


def _shard_manifest_oracle() -> str:
    return f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM dt GROUP BY token
    ), sh AS (
      SELECT token, df,
             {TH.sql_portable_tid('token')} % {RAG_INDEX_SHARDS}
               AS shard_id
      FROM freq
    )
    SELECT CAST(shard_id AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(df) AS BIGINT) AS n_postings,
           CAST(max(df) AS BIGINT) AS max_df,
           min(token) AS min_token,
           max(token) AS max_token
    FROM sh GROUP BY shard_id
    """


def _term_df(docs: DataFrame) -> DataFrame:
    """(token, df) over a documents frame: per-doc DISTINCT tokens via
    array_distinct BEFORE the explode (dedup inside the row, so the
    explode emits each (doc, term) once and no distinct shuffle runs),
    then one partial-agg shuffle keyed token."""
    return (
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(TH.words_expr("text"))).alias("token"),
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )


def _shard_rollup(freq: DataFrame) -> DataFrame:
    """(token, df) → the per-shard manifest rows (portable term hash
    mod RAG_INDEX_SHARDS)."""
    sh = freq.withColumn(
        "shard_id", TH.portable_tid(F.col("token")) % RAG_INDEX_SHARDS
    )
    return sh.groupBy(F.col("shard_id").cast("long").alias("shard_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.max("df").cast("long").alias("max_df"),
        F.min("token").alias("min_token"),
        F.max("token").alias("max_token"),
    )


@query("rag_shard_manifest", oracle=_shard_manifest_oracle())
def rag_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index SHARD MANIFESTS — the router-facing summary of a
    hash-sharded distributed index (the r10 SURVEY/VERDICT's second
    RAG-prep candidate): per shard, the term count, total postings
    volume, document-frequency ceiling, and lexicographic term bounds.
    A query router loads exactly this table to plan fan-out (skip
    shards whose term bounds exclude the query terms; budget by
    postings volume); the posting lists themselves are
    text_inverted_index's output partitioned by the same hash.

    Sharding is the portable term hash mod {RAG_INDEX_SHARDS} — the
    same engine-portable hash family every dedup/index key uses — so
    the manifest is bit-reproducible across engines, which is what
    the oracle checks (values, not just shapes).

    Scale shape: per-doc DISTINCT tokens via array_distinct BEFORE the
    explode (the text_heavy_hitters pattern — dedup inside the row,
    so the explode emits each (doc, term) once and the corpus never
    pays a distinct shuffle); then one partial-agg shuffle keyed
    token (vocabulary-sized), then a second keyed shard_id
    ({RAG_INDEX_SHARDS} rows). The corpus is read once, shuffled
    never; only the vocabulary crosses the wire.
    """
    return _shard_rollup(_term_df(load_table(spark, sf_dir, "documents")))


def _query_router_oracle() -> str:
    N = RAG_INDEX_SHARDS
    return f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM dt GROUP BY token
    ), man AS (
      SELECT {TH.sql_portable_tid('token')} % {N} AS shard_id,
             max(df) AS max_df,
             min(token) AS min_token,
             max(token) AS max_token
      FROM freq GROUP BY 1
    ), qt AS (
      SELECT DISTINCT p_partkey AS query_id,
             unnest({TH.sql_words('p_name')}) AS term
      FROM part
    ), rt AS (
      SELECT query_id, term,
             {TH.sql_portable_tid('term')} % {N} AS shard_id
      FROM qt
    ), jj AS (
      SELECT rt.query_id, rt.shard_id,
             CASE WHEN man.min_token IS NOT NULL
                       AND rt.term >= man.min_token
                       AND rt.term <= man.max_token
                  THEN 1 ELSE 0 END AS probed,
             coalesce(man.max_df, 0) AS max_df
      FROM rt LEFT JOIN man USING (shard_id)
    ), ps AS (
      SELECT query_id, shard_id,
             CAST(count(*) AS BIGINT) AS n_terms_in_shard,
             CAST(max(probed) AS BIGINT) AS any_probed,
             CAST(sum(probed * max_df) AS BIGINT) AS budget
      FROM jj GROUP BY query_id, shard_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(sum(n_terms_in_shard) AS BIGINT) AS n_terms,
           CAST(sum(any_probed) AS BIGINT) AS n_shards_probed,
           CAST(sum(1 - any_probed) AS BIGINT) AS n_shards_skipped,
           CAST(sum(budget) AS BIGINT) AS postings_budget
    FROM ps GROUP BY query_id
    """


def _part_qt(part: DataFrame) -> DataFrame:
    """The fixture query workload (query_id, term) over a ``part``
    frame: each part name's distinct lower-cased tokens — queries that
    arrive from outside the corpus, a router's position."""
    return part.select(
        F.col("p_partkey").cast("long").alias("query_id"),
        F.explode(F.array_distinct(TH.words_expr("p_name"))).alias("term"),
    )


@query("rag_query_router", oracle=_query_router_oracle())
def rag_query_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-router fan-out planning — the manifest's documented
    consumer (rag_shard_manifest's docstring), closing the retrieval
    story's third leg (r11 VERDICT item 2): route a query-terms
    workload against the shard manifests and emit, per query, the
    fan-out the router would actually issue — shards probed, shards
    skipped (every term the query hashes there is excluded by the
    shard's lexicographic term bounds), and the postings budget (each
    surviving term lookup bounded by its shard's document-frequency
    ceiling). The skip count is the proof the manifest PRUNES: a
    router without bounds would probe every shard any term hashes to.

    The query workload is the `part` table's names (distinct
    lower-cased tokens per part) — an external lookup workload over
    the document index, which is exactly a router's position: queries
    arrive from outside the corpus. Routing is term → shard by the
    same portable term hash the manifest is built with, then a
    broadcast join against the {RAG_INDEX_SHARDS}-row manifest; a
    probe happens only where the term falls inside the shard's
    [min_token, max_token] bounds. All arithmetic is integer/hash
    exact, so the key carries a full DuckDB value oracle.

    Scale shape: the manifest side is {RAG_INDEX_SHARDS} rows —
    always broadcast, never a shuffle join (plan-gated). The corpus
    is touched only inside the manifest build (its own two bounded
    exchanges); the routing side pays one partial-agg shuffle keyed
    (query_id, shard_id) and a second keyed query_id — both sized by
    the QUERY workload, not the corpus. At 100 TB of documents the
    router's cost is unchanged: it scales with queries × terms.
    """
    qt = _part_qt(load_table(spark, sf_dir, "part"))
    return router_rollup(route_terms(qt, rag_shard_manifest(spark, sf_dir)))


def route_terms(qt: DataFrame, manifest: DataFrame) -> DataFrame:
    """(query_id, term) rows routed against the shard ``manifest``:
    (query_id, shard_id, probed, budget) per term — a per-row hash and
    a broadcast left join, so it runs unchanged over a query stream."""
    rt = qt.withColumn(
        "shard_id",
        (TH.portable_tid(F.col("term")) % RAG_INDEX_SHARDS).cast("long"),
    )
    j = rt.join(F.broadcast(manifest), "shard_id", "left")
    probed = (
        F.col("min_token").isNotNull()
        & (F.col("term") >= F.col("min_token"))
        & (F.col("term") <= F.col("max_token"))
    ).cast("int")
    return j.select(
        "query_id",
        "shard_id",
        probed.alias("probed"),
        (probed * F.coalesce(F.col("max_df"), F.lit(0))).alias("budget"),
    )


def router_rollup(routed: DataFrame) -> DataFrame:
    """route_terms rows → the per-query fan-out: terms, shards probed
    and skipped, postings budget."""
    ps = routed.groupBy("query_id", "shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms_in_shard"),
        F.max("probed").cast("long").alias("any_probed"),
        F.sum("budget").cast("long").alias("budget"),
    )
    return ps.groupBy("query_id").agg(
        F.sum("n_terms_in_shard").cast("long").alias("n_terms"),
        F.sum("any_probed").cast("long").alias("n_shards_probed"),
        F.sum(F.lit(1) - F.col("any_probed"))
        .cast("long")
        .alias("n_shards_skipped"),
        F.sum("budget").cast("long").alias("postings_budget"),
    )


#: documents returned per query by the end-to-end retrieval key
RAG_TOPK = 10
#: integer idf scale — score = Σ tf · (SCALE div df), engine-portable
RAG_IDF_SCALE = 1_000_000
#: impact-list truncation: per term, only the RAG_IMPACT_L postings
#: with the highest impact (tf · idf-weight, ties by doc_id) are
#: scoreable. Without it, exhaustive scoring is quadratic on adverse
#: term statistics: a term that is both high-df (many docs) and
#: high-qf (many queries) fans the score join out toward
#: queries × docs — measured at ×8 shared-vocab blow-up as a
#: 78.9 M-row score set and a 146 s wall (the r12 ragretrieval lane
#: found it; the fixture's 31-token document vocabulary is the
#: adversarial extreme). Impact-ordered index truncation is the
#: production IR answer (static pruning / impact-sorted lists): the
#: candidate set per query is bounded by |terms| · L regardless of
#: document frequency, so serving cost scales with the QUERY
#: workload, never the corpus. The declared operator IS the
#: truncated algorithm on both engines (the LSH-oracle pattern).
RAG_IMPACT_L = 20

#: BM25 parameters, folded into integer rationals: k1 = 1.2 and
#: b = 0.75 give the per-term score
#:   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
#: = (idf · 88 · tf · avgdl) div (40·avgdl·tf + 12·avgdl + 36·dl)
#: — numerator and denominator both scaled by 40·avgdl so the WHOLE
#: term reduces to ONE positive integer division, identical under
#: Spark's div and DuckDB's // (floor == truncation for positives).
#: No floats anywhere, so the key carries an exact value oracle; the
#: constants 88/40/12/36 are 40·(k1+1)=88, 40, 40·k1·(1−b)=12,
#: 40·k1·b=36.
BM25_NUM = 88
BM25_DEN_TF = 40
BM25_DEN_FIXED = 12
BM25_DEN_DL = 36

#: derived multi-matched-term workload: every RAG_MULTI_QSTEP-th
#: document (residue RAG_MULTI_RESIDUE) contributes one query made of
#: its top-2 tokens by (tf desc, token). Both terms come from document
#: text, so every query matches ≥2 corpus terms BY CONSTRUCTION — the
#: workload the r13 verdict asked for: the part-names fixture queries
#: all match exactly one corpus term, so the driver's value hashes
#: only ever exercised the single-term fast path; this workload drives
#: essential-term selection and candidate generation through the
#: driver's hash gate. 14 queries at sf0.001/0.01, 136 at sf0.1.
RAG_MULTI_QSTEP = 37
RAG_MULTI_RESIDUE = 1

#: block-max WAND: impact-ordered posting blocks of this many entries;
#: per-block maxima give tighter generation bounds than the whole-list
#: UB (Ding & Suel, SIGIR 2011 — here set-oriented, see
#: rag_topk_retrieval_bmw)
RAG_BMW_BLOCK = 64

#: incremental maintenance: documents with doc_id % MOD == RESIDUE
#: play the CDC delta (newly-arrived docs); the rest are the
#: already-indexed base whose state is materialized
RAG_CDC_MOD = 5
RAG_CDC_RESIDUE = 0


# ---------------------------------------------------------------------------
# frame builders shared by every retrieval, index-build and delta key
# ---------------------------------------------------------------------------


def _tf(
    docs: DataFrame, terms: DataFrame | None = None, dl: bool = False
) -> DataFrame:
    """(doc_id, token, tf[, dl]) postings of a documents frame.

    ``terms`` (one ``term`` column) broadcasts into the exploded token
    stream BEFORE any exchange, so only postings of the query
    vocabulary reach the (doc_id, token) aggregate. ``dl`` carries the
    document length as size(ws) over the PRE-SPLIT array: written as
    size(words(text)) beside explode(words(text)), the optimizer floats
    the dl projection ABOVE the Generate and the regex tokenize re-runs
    per TOKEN row — O(tokens × doclen), measured 3.9 s vs 0.8 s for
    this stage at sf0.1. dl is functionally dependent on doc_id, so
    max(dl) per group is the aggregate form both engines agree on."""
    if dl:
        tok = docs.select("doc_id", TH.words_expr("text").alias("ws")).select(
            "doc_id",
            F.size("ws").cast("long").alias("dl"),
            F.explode("ws").alias("token"),
        )
    else:
        tok = docs.select(
            "doc_id", F.explode(TH.words_expr("text")).alias("token")
        )
    if terms is not None:
        tok = tok.join(
            F.broadcast(terms), F.col("token") == F.col("term")
        ).drop("term")
    aggs = [F.count(F.lit(1)).cast("long").alias("tf")]
    if dl:
        aggs.append(F.max("dl").alias("dl"))
    return tok.groupBy("doc_id", "token").agg(*aggs)


def _avgdl(docs: DataFrame) -> int:
    """The corpus scalar BM25 needs: one driver-side aggregate at
    plan-build time (the drift key's lo/hi pattern)."""
    total_dl, n_docs = docs.agg(
        F.sum(F.size(TH.words_expr("text"))), F.count(F.lit(1))
    ).first()
    return int(total_dl) // int(n_docs)


def _impacts(
    tf: DataFrame, scorer: str = "tfidf", avgdl: int = 0
) -> DataFrame:
    """(token, doc_id, impact) over (doc_id, token, tf[, dl]) rows.

    df is a count window over the rows' token partition — a window,
    not a second aggregate branch, because Catalyst does not share
    subplans and a branch would scan the corpus twice. "tfidf" is
    tf · (SCALE div df); "bm25" is the exact integer BM25 (see
    BM25_NUM..) under the given avgdl."""
    df_w = f"{RAG_IDF_SCALE} div count(1) over (partition by token)"
    if scorer == "tfidf":
        impact = F.col("tf") * F.expr(df_w)
    elif scorer == "bm25":
        impact = F.expr(
            f"(({df_w}) * {BM25_NUM} * tf * {avgdl})"
            f" div ({BM25_DEN_TF} * {avgdl} * tf"
            f" + {BM25_DEN_FIXED} * {avgdl} + {BM25_DEN_DL} * dl)"
        )
    else:
        raise ValueError(f"unknown scorer {scorer!r}")
    return tf.withColumn("impact", impact.cast("long")).select(
        "token", "doc_id", "impact"
    )


def _postings(
    docs: DataFrame, scorer: str = "tfidf", terms: DataFrame | None = None
) -> DataFrame:
    """Scored postings of a documents frame (``_tf`` then ``_impacts``)."""
    bm25 = scorer == "bm25"
    return _impacts(
        _tf(docs, terms, dl=bm25), scorer, _avgdl(docs) if bm25 else 0
    )


def _positions(imp: DataFrame) -> DataFrame:
    """+ pos: each posting's 1-based place in its token's impact-ordered
    list (impact desc, ties by doc_id)."""
    return imp.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("token").orderBy(
                F.col("impact").desc(), F.col("doc_id")
            )
        ),
    )


def _rank_impact_l(imp: DataFrame) -> DataFrame:
    """Impact rows -> top-L lists with positions (the index shape).
    row_number + the ≤ L filter compiles to WindowGroupLimit: a
    per-partition partial top-L ahead of the token shuffle, so not
    even the list build sorts full postings."""
    return (
        _positions(imp)
        .filter(F.col("pos") <= RAG_IMPACT_L)
        .select(
            "token",
            "doc_id",
            F.col("impact").cast("long").alias("impact"),
            F.col("pos").cast("long").alias("pos"),
        )
    )


def _blocked_postings(imp: DataFrame, block_b: int) -> DataFrame:
    """(token, doc_id, impact) postings -> + (pos, blk, bmax): blocks
    of ``block_b`` entries along each impact-ordered list, each bounded
    by its max impact. Two window passes over one token partitioning
    (HashPartitioning(token) satisfies the (token, blk) clustering — no
    second exchange)."""
    blocked = (
        _positions(imp)
        .withColumn("blk", F.expr(f"(pos - 1) div {block_b}"))
        .withColumn(
            "bmax", F.max("impact").over(Window.partitionBy("token", "blk"))
        )
    )
    return blocked.select(
        "token",
        "doc_id",
        "impact",
        *(F.col(c).cast("long").alias(c) for c in ("pos", "blk", "bmax")),
    )


def _score(il: DataFrame, qt: DataFrame) -> DataFrame:
    """Σ impact per (query_id, doc_id) over the postings of each
    query's terms; the queries-sized side broadcasts."""
    return (
        il.join(F.broadcast(qt), F.col("token") == F.col("term"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("impact").cast("long").alias("score"))
    )


def _rank_per_query(sc: DataFrame) -> DataFrame:
    """+ rnk: per-query rank by (score desc, doc_id)."""
    return sc.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("doc_id")
            )
        ),
    )


def _topk(sc: DataFrame) -> DataFrame:
    """(query_id, doc_id, score) → each query's top-RAG_TOPK rows."""
    return (
        _rank_per_query(sc)
        .filter(F.col("rnk") <= RAG_TOPK)
        .select(
            "query_id",
            "doc_id",
            "score",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def _cdc_docs(spark: SparkSession, sf_dir: str, delta: bool) -> DataFrame:
    """The CDC split of the documents table: the delta (newly arrived)
    or the base (already indexed); the predicate is pushed to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.col("doc_id") % RAG_CDC_MOD == RAG_CDC_RESIDUE
    return docs.filter(is_delta if delta else ~is_delta)


def _topk_retrieval_oracle() -> str:
    K, SC, L = RAG_TOPK, RAG_IDF_SCALE, RAG_IMPACT_L
    return f"""
    WITH qt AS (
      SELECT DISTINCT p_partkey AS query_id,
             unnest({TH.sql_words('p_name')}) AS term
      FROM part
    ), terms AS (
      SELECT DISTINCT term FROM qt
    ), tok AS (
      SELECT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), mtok AS (
      SELECT doc_id, token FROM tok JOIN terms ON token = term
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM mtok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), il AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * ({SC} // dfv.df) AS impact,
             row_number() OVER (PARTITION BY tf.token
                                ORDER BY tf.tf * ({SC} // dfv.df) DESC,
                                         tf.doc_id) AS pos
      FROM tf JOIN dfv USING (token)
    ), sc AS (
      SELECT qt.query_id, il.doc_id,
             CAST(sum(il.impact) AS BIGINT) AS score
      FROM il
      JOIN qt ON il.token = qt.term
      WHERE il.pos <= {L}
      GROUP BY qt.query_id, il.doc_id
    ), rk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= {K}
    """


@query("rag_topk_retrieval", oracle=_topk_retrieval_oracle())
def rag_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end routed RETRIEVAL — the query the whole RAG surface
    exists to serve, completing the story (windows → manifest →
    router → this): for each query (the router's workload, `part`
    name tokens), the top-{RAG_TOPK} documents by integer tf-idf over
    IMPACT-TRUNCATED posting lists, ties broken by doc_id: per term
    only the {RAG_IMPACT_L} highest-impact postings are scoreable
    (see RAG_IMPACT_L — the production static-pruning architecture,
    and the quadratic guard: exhaustive scoring measured 78.9 M score
    rows / 146 s at the ×8 shared-vocab blow-up; truncated, the score
    set is bounded by query rows × L). The declared operator IS the
    truncated algorithm on both engines (the LSH-oracle pattern).

    Scoring is engine-portable on purpose: impact = tf(t, d) ·
    ({RAG_IDF_SCALE} div df(t)) — integer division against the exact
    document frequency, monotone in 1/df like idf, no floats
    anywhere — so the key carries a full DuckDB value oracle.

    Scale shape — the filter runs BEFORE any shuffle: the query
    vocabulary (|terms|, tiny) broadcasts into the exploded corpus
    token stream, so only MATCHING postings ever reach an exchange.
    Then: one partial-agg shuffle keyed (doc_id, token) for tf
    (match-sized), df as a count window over tf keyed token (tf rows
    are distinct (doc, token) pairs — a window, not a second
    aggregate branch, because Catalyst does not share subplans and a
    branch would scan the corpus twice), the impact-list row_number
    over the SAME token partitioning (no extra exchange;
    WindowGroupLimit pushes the ≤ L filter to a per-partition partial
    top-L before the shuffle), a broadcast join of the query-terms
    table against the ≤ |vocab|·L truncated lists, one
    (query_id, doc_id) score aggregate, and a per-query top-k window
    — both bounded by query rows × L. The corpus is scanned once
    (text + doc_id, plan-gated), never joined at corpus scale. At
    100 TB this is the production serving shape: list build cost ∝
    matched postings, serving cost ∝ queries × terms × L — the ×8
    adversarial blow-up measured 146 s exhaustive vs 1.2 s truncated.
    """
    return retrieve(spark, sf_dir, pruning="static")


def _topk_exhaustive_oracle() -> str:
    """The UNTRUNCATED tf-idf top-k — rag_topk_retrieval's oracle with
    the impact-list cut removed. This is the right oracle for the
    WAND key because MaxScore/WAND pruning is SAFE-up-to-k: it must
    return exactly the exhaustive answer, so the oracle proves both
    the scores and the pruning's safety in one comparison."""
    K, SC = RAG_TOPK, RAG_IDF_SCALE
    return f"""
    WITH qt AS (
      SELECT DISTINCT p_partkey AS query_id,
             unnest({TH.sql_words('p_name')}) AS term
      FROM part
    ), terms AS (
      SELECT DISTINCT term FROM qt
    ), tok AS (
      SELECT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), mtok AS (
      SELECT doc_id, token FROM tok JOIN terms ON token = term
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM mtok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), sc AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(sum(tf.tf * ({SC} // dfv.df)) AS BIGINT) AS score
      FROM tf
      JOIN dfv USING (token)
      JOIN qt ON tf.token = qt.term
      GROUP BY qt.query_id, tf.doc_id
    ), rk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= {K}
    """


def _wand_plan(
    spark: SparkSession,
    sf_dir: str,
    scorer: str = "tfidf",
    qt: DataFrame | None = None,
    imp: DataFrame | None = None,
    il: DataFrame | None = None,
) -> dict:
    """The MaxScore/WAND candidate pipeline as named stages, so the
    key composes them and the bench lane can count intermediates
    (candidate shrinkage receipt) without re-deriving the plan.

    ``scorer`` selects the impact function — "tfidf" (tf · integer
    idf, rag_topk_retrieval's weights) or "bm25" (the saturated
    length-normalized form, rag_topk_retrieval_bm25's weights).
    MaxScore/WAND is SCORER-AGNOSTIC: the safety argument needs only
    non-negative per-term impacts summed additively (truncated
    scores stay lower bounds; per-term maxima stay upper bounds), so
    the whole candidate machinery (_wand_plan_tail) is shared
    verbatim and only the ``imp`` builder changes.

    Returns _wand_plan_tail's stages plus "ckey", the plan identity
    (sf_dir, scorer, workload kind, postings source) its cached frames
    are registered under (artifacts.cache_frame): re-invoking the same
    identity unpersists its predecessor's qt/imp/cand, while building
    a DIFFERENT plan leaves the frames a still-lazy sibling plan
    references cached (evicting imp before that plan ran re-created
    its 4x corpus re-scan). Unpersisting a DataFrame another plan
    still references is safe in Spark (it recomputes).

    ``qt`` overrides the query workload (query_id, term) — default is
    the part-names workload every fixture query key uses; the derived
    multi-matched-term workload passes its own.

    ``imp``/``il`` inject MATERIALIZED postings and impact-L lists
    (the from-index keys read them from the bucketed index tables) —
    then no corpus scan happens here, ``scorer`` only names the
    weighting the injected impacts already carry, and the injected
    frames are NOT cached (they are table reads, already at rest).
    """
    if il is not None and imp is None:
        raise ValueError(
            "il injection only makes sense with injected postings — "
            "passing il without imp would silently recompute postings "
            "from the corpus while seeding θ from the index"
        )
    workload = "default" if qt is None else "injected"
    source = "corpus" if imp is None else "index"
    ckey = ("wand", sf_dir, scorer, workload, source)
    if qt is None:
        qt = _part_qt(load_table(spark, sf_dir, "part"))
    qt = cache_frame(ckey, qt)
    if imp is None:
        # exact impacts over the query vocabulary, CACHED: imp feeds
        # four consumers (UB stats, θ seed, candidate semi-join, final
        # scoring) and Catalyst does not share subplans — uncached,
        # each consumer re-scans the corpus (4 document scans, caught
        # by the plan gate's first run). imp is MATCH-sized (query-
        # vocabulary postings, never the corpus); qt (queries × terms)
        # is cached for the same reason.
        docs = load_table(spark, sf_dir, "documents")
        terms = qt.select("term").distinct()
        imp = cache_frame(ckey, _postings(docs, scorer, terms), fresh=False)
    return {**_wand_plan_tail(qt, imp, il), "ckey": ckey}


def _wand_plan_tail(
    qt: DataFrame, imp: DataFrame, il: DataFrame | None = None
) -> dict:
    """The scorer- and source-agnostic half of _wand_plan: UB stats,
    θ seed, single/multi split, MaxScore essential terms, candidates —
    everything downstream of the exact matched postings, shared by
    the corpus-scanning keys and the materialized-index variant
    (which injects ``imp``/``il`` as bucketed-table reads).

    Returns {"qt", "imp", "il", "tstats", "theta", "qt_single",
    "qt_multi", "qs", "essential", "cand"}:
      qt        (query_id, term)           the query workload
      imp       (token, doc_id, impact)    exact matched postings
      il        (token, doc_id, impact, …) top-L impact lists
      tstats    (token, ub, df)            per-term upper bound + df
      theta     (query_id, theta)          admissible per-query bound
      qt_single (query_id, term)           one-matched-term queries
      qt_multi  (query_id, term)           the rest
      qs        (query_id, term, ub, …)    qt_multi rows with ub, θ_q
      essential (query_id, term)           MaxScore essential terms
                                           (multi-term queries only)
      cand      (query_id, doc_id)         surviving candidates
                                           (multi-term queries only)

    The single/multi split is the production fast path: a query with
    ONE matched term needs no candidate generation at all — its exact
    top-k IS the head of that term's impact-ordered list (score =
    impact, same (impact desc, doc_id) order), already materialized
    in the θ seed's top-L lists since L ≥ k. Without the split, a
    one-term query pays the candidate machinery for zero pruning
    (one essential term ⇒ candidates = the full posting list ⇒
    ~3× the exhaustive cost: measured 12.3 s vs 1.4 s for the static
    key at sf0.1, where EVERY fixture query is one-term)."""
    # per-term upper bound: the max impact over the term's full list
    # (vocabulary-sized — broadcastable; MaxScore's term statistic)
    tstats = imp.groupBy("token").agg(
        F.max("impact").cast("long").alias("ub"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )

    # admissible threshold θ_q: the k-th best score over the L-
    # truncated impact lists (rag_topk_retrieval's own pass). A
    # truncated score is ≤ the true score (impacts are non-negative),
    # so the k-th best truncated score is ≤ the true k-th best —
    # pruning against it can never drop a true top-k document.
    if il is None:
        il = _rank_impact_l(imp)
    theta = (
        _rank_per_query(_score(il, qt))
        .filter(F.col("rnk") == RAG_TOPK)
        .select("query_id", F.col("score").alias("theta"))
    )

    # single/multi split on MATCHED term count (terms absent from the
    # corpus have no tstats row and can never contribute to a score,
    # so they don't make a query "multi"): queries-sized window, no
    # extra exchange beyond the broadcast joins below
    qm = qt.join(F.broadcast(tstats), F.col("term") == F.col("token")).drop(
        "token", "df"
    )
    nt = F.count(F.lit(1)).over(Window.partitionBy("query_id"))
    qm = qm.withColumn("nt", nt)
    qt_single = qm.filter(F.col("nt") == 1).select("query_id", "term")
    qt_multi_ub = qm.filter(F.col("nt") > 1)

    # Queries with fewer than K truncated candidates get θ_q = 0 (no
    # pruning: every term essential — exhaustive there).
    qs = qt_multi_ub.join(F.broadcast(theta), "query_id", "left").withColumn(
        "theta", F.coalesce(F.col("theta"), F.lit(0))
    )
    essential = _essential(qs).select("query_id", "term")

    # candidates: documents matching at least one essential term
    cand = (
        imp.join(
            F.broadcast(essential), F.col("token") == F.col("term")
        )
        .select("query_id", "doc_id")
        .distinct()
    )
    return {
        "qt": qt,
        "imp": imp,
        "il": il,
        "tstats": tstats,
        "theta": theta,
        "qt_single": qt_single,
        "qt_multi": qt_multi_ub.select("query_id", "term"),
        # per-(query, matched term) rows with ub and θ_q — the raw
        # material the block-max refinement (rag_topk_retrieval_bmw)
        # builds its per-term "rest" upper bounds from
        "qs": qs,
        "essential": essential,
        "cand": cand,
    }


def _essential(qs: DataFrame) -> DataFrame:
    """MaxScore split (multi-term queries only): the ascending-UB
    prefix of a query's terms whose cumulative UB sum stays below θ_q
    is non-essential — a document matching ONLY those terms is bounded
    above by that sum and cannot enter the top k. Keeps the essential
    rows of ``qs``."""
    cum = F.sum("ub").over(
        Window.partitionBy("query_id")
        .orderBy(F.col("ub").asc(), F.col("term"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return qs.withColumn("cum_ub", cum).filter(
        F.col("cum_ub") >= F.col("theta")
    )


#: ceiling (rows) for broadcasting the dynamically pruned candidate
#: pair set in _wand_topk (r15 VERDICT item 1: the unconditional
#: broadcast was an unguarded workload assumption — queries ×
#: surviving candidates can be orders larger than queries × terms at
#: a production query batch, and an oversized broadcast OOMs the
#: driver or hits Spark's 8 GB relation cap). The guard measures the
#: ACTUAL materialized candidate count (the count fills the cache the
#: semi join then reads, so no candidate row is computed twice);
#: above the ceiling the semi join falls back to a shuffled join —
#: correct at any size, just not fixture-optimal. 4M pairs of two
#: longs ≈ 64 MB hashed-relation — comfortably inside executor
#: memory, far under the broadcast cap.
WAND_CAND_BCAST_MAX_ROWS = 4_000_000

#: measured candidate-pair counts, keyed by WAND plan identity + cand
#: variant (the wand cache key). The guard pays its count
#: job ONCE per plan identity per session; later invocations reuse
#: the measurement and keep the zero-extra-job r15 plan shape
#: (measured: the per-invocation count cost 0.5–0.7 s of pure job
#: round-trip on every WAND key at sf0.1 — from_index keys 0.60×).
#: Staleness under in-session fixture mutation affects ONLY the join
#: strategy choice, never results — the same path-immutability
#: assumption the wand cache key itself makes.
_WAND_CAND_COUNT: dict[tuple, int] = {}


def _wand_topk(p: dict) -> DataFrame:
    """Shared final stage of the MaxScore/WAND keys — scorer-agnostic
    by construction (see _wand_plan: only ``imp`` differs between the
    tf-idf and BM25 variants): single-matched-term fast path from the
    impact-list heads, exact candidate scoring for the rest, one
    per-query top-k window over the union."""
    assert (
        RAG_IMPACT_L >= RAG_TOPK
    ), "single-term fast path needs the full top-k in il"
    imp, il, cand = p["imp"], p["il"], p["cand"]

    # fast path: one matched term ⇒ top-k from the impact list head
    fast = (
        il.join(
            F.broadcast(p["qt_single"]), F.col("token") == F.col("term")
        )
        .select("query_id", "doc_id", F.col("impact").alias("score"))
    )

    # candidate path (multi-term queries): bind each posting to the
    # queries that ask for its token FIRST (broadcast qt_multi — the
    # match-sized frame, Σ_(q,t) df(t) rows), then keep candidate
    # pairs with a semi join. Joining cand to imp on doc_id alone and
    # filtering terms afterwards — the previous shape — fanned every
    # candidate document out to its ENTIRE posting list before the
    # term filter could run (measured at sf0.1: 14.9M intermediate
    # rows vs 1.1M match rows for the derived multi workload; at
    # production doc lengths the blow-up is ~|doc vocabulary| / |query
    # terms| per candidate). Guide §2.3: shuffle match-sized bytes,
    # not candidates × doc length.
    qt_multi = p["qt_multi"]
    matched = (
        imp.join(
            F.broadcast(qt_multi.withColumnRenamed("query_id", "q2")),
            F.col("token") == F.col("term"),
        )
        .select(F.col("q2").alias("query_id"), "doc_id", "impact")
    )
    # cand is the DYNAMICALLY PRUNED pair set — the frame the whole
    # MaxScore/BMW machinery exists to keep small — but "small" is a
    # workload property, not a guarantee: broadcast it only when its
    # MEASURED size clears WAND_CAND_BCAST_MAX_ROWS (guide §3.1 —
    # size estimates after this much pruning are fiction; count the
    # materialized frame instead). The count job runs ONCE per plan
    # identity per session (_WAND_CAND_COUNT): on that first
    # invocation cand is cached (under the plan's own cache key) so the
    # count's theta-seed/essential execution is handed to the main job
    # rather than recomputed; afterwards the remembered measurement
    # drives the branch with zero extra jobs and the plan is exactly
    # the r15 lazy-broadcast shape. Above the ceiling: plain shuffled
    # left-semi — correct at any size, just not fixture-optimal.
    memo_key = (p["ckey"], p.get("cand_tag", "maxscore"))
    n_cand = _WAND_CAND_COUNT.get(memo_key)
    if n_cand is None:
        cand = cache_frame(p["ckey"], cand, fresh=False)
        n_cand = cand.count()
        _WAND_CAND_COUNT[memo_key] = n_cand
    if n_cand <= WAND_CAND_BCAST_MAX_ROWS:
        cand = F.broadcast(cand)
    full = matched.join(cand, ["query_id", "doc_id"], "left_semi")
    sc = full.groupBy("query_id", "doc_id").agg(
        F.sum("impact").cast("long").alias("score")
    )
    # the two paths cover disjoint query sets; rank after the union
    return _topk(fast.unionByName(sc))


def _bmw_cand(p: dict, block_b: int = RAG_BMW_BLOCK) -> DataFrame:
    """Block-max candidate generation (Ding & Suel, SIGIR 2011,
    re-expressed set-wise): split each term's FULL impact-ordered
    posting list into blocks of ``block_b`` entries, bound each block
    by its max impact, and admit a posting of essential term t for
    query q only when

        blockmax(t, blk) + Σ_{t' ∈ matched(q), t' ≠ t} UB(t') ≥ θ_q

    i.e. blockmax ≥ θ_q − (tot_ub − UB(t)). Safety: a true top-{RAG_TOPK}
    document d matches ≥1 essential term t_e (else the MaxScore bound
    already excludes it), and score(d) ≤ impact(t_e, d) +
    Σ_{t'≠t_e} UB(t') ≤ blockmax(t_e, blk(d)) + rest — with
    score(d) ≥ s_k ≥ θ_q that chain forces the admission inequality,
    so d always survives generation via t_e. Impact-ordered blocks
    make blockmax non-increasing along the list, so the filter lops
    off the low-impact TAIL of every essential list — candidates
    shrink beyond MaxScore's whole-list admission exactly where lists
    are deep (high-df terms), which is where the quadratic lived.

    Plan shape: pos, blk, and blockmax are two window passes over the
    SAME token partitioning (HashPartitioning(token) satisfies the
    (token, blk) clustering — no second exchange), then a broadcast
    join against the queries-sized essential table and a
    candidate-sized distinct.

    The posted-table construction and the admission filter are split
    (_blocked_postings / _bmw_filter) so the from-index cell can feed
    the SAME filter from a MATERIALIZED block table — blockmax is per
    (token, blk), a build-time artifact that belongs in the postings
    index, not a query-time recomputation."""
    return _bmw_filter(p, _blocked_postings(p["imp"], block_b))


def _bmw_filter(p: dict, posted: DataFrame) -> DataFrame:
    """Block-max admission over pre-blocked postings: admit a posting
    of essential term t for query q iff blockmax(t, blk) ≥ θ_q −
    (tot_ub − UB(t)) (see _bmw_cand's safety chain)."""
    ess = (
        _essential(
            p["qs"].withColumn(
                "tot_ub", F.sum("ub").over(Window.partitionBy("query_id"))
            )
        )
        .withColumn(
            "min_bmax", F.col("theta") - F.col("tot_ub") + F.col("ub")
        )
        .select("query_id", "term", "min_bmax")
    )
    return (
        posted.join(F.broadcast(ess), F.col("token") == F.col("term"))
        .filter(F.col("bmax") >= F.col("min_bmax"))
        .select("query_id", "doc_id")
        .distinct()
    )


def retrieve(
    spark: SparkSession,
    sf_dir: str,
    *,
    scorer: str = "tfidf",
    pruning: str = "maxscore",
    source: str = "corpus",
    workload: str = "part",
) -> DataFrame:
    """Top-{RAG_TOPK} retrieval (query_id, doc_id, score, rnk), ties
    broken by doc_id — one cell of the grid every top-k key is a point
    of:

    - ``scorer``: "tfidf" (tf · integer idf) or "bm25" (exact integer
      BM25); the materialized tables of a scorer other than tf-idf
      carry its name as a prefix.
    - ``pruning``: "static" (score only the top-{RAG_IMPACT_L} impact
      lists — the declared algorithm is the truncated one),
      "maxscore" (safe-up-to-k MaxScore/WAND: exactly the exhaustive
      answer) or "bmw" (block-max WAND, blocks of {RAG_BMW_BLOCK}).
    - ``source``: "corpus" (postings computed from the documents scan,
      restricted to the query vocabulary) or "index" (the persisted
      token-bucketed index tables; the query-time plan never reads the
      corpus).
    - ``workload``: "part" (part-name tokens) or "derived" (the
      multi-matched-term workload, _derived_multi_qt).
    """
    pre = "" if scorer == "tfidf" else f"{scorer}_"
    derived = None
    if workload == "derived":
        derived = _derived_multi_qt(spark, sf_dir)
    if pruning == "static":
        qt = derived
        if derived is None:
            qt = _part_qt(load_table(spark, sf_dir, "part"))
        if source == "index":
            il = spark.table(_index_table(spark, sf_dir, pre + "impact_l"))
        else:
            docs = load_table(spark, sf_dir, "documents")
            terms = qt.select("term").distinct()
            il = _rank_impact_l(_postings(docs, scorer, terms))
        return _topk(_score(il, qt))
    imp = il = None
    if source == "index":
        imp = spark.table(_index_table(spark, sf_dir, pre + "postings"))
        il = spark.table(_index_table(spark, sf_dir, pre + "impact_l"))
    p = _wand_plan(spark, sf_dir, scorer, qt=derived, imp=imp, il=il)
    if pruning == "bmw":
        if source == "index":
            blk = f"{pre}postings_blk{RAG_BMW_BLOCK}"
            posted = spark.table(_index_table(spark, sf_dir, blk))
        else:
            posted = _blocked_postings(p["imp"], RAG_BMW_BLOCK)
        p = {**p, "cand": _bmw_filter(p, posted), "cand_tag": "bmw"}
    return _wand_topk(p)


@query("rag_topk_retrieval_wand", oracle=_topk_exhaustive_oracle())
def rag_topk_retrieval_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-{RAG_TOPK} retrieval under MaxScore/WAND dynamic
    pruning (r12 VERDICT item 4) — the other production answer to the
    quadratic fan-out, complementary to rag_topk_retrieval's static
    impact-L truncation: where the static cut CHANGES the declared
    algorithm (bounded candidates, approximate tail), dynamic pruning
    is SAFE-up-to-k — it must return exactly the exhaustive tf-idf
    answer, which is what the oracle checks (the untruncated SQL).
    Design follows the public MaxScore/WAND literature (Turtle &
    Flood, IPM 1995; Broder et al., CIKM 2003) re-expressed as set
    operations instead of document-at-a-time pointer movement:

    1. θ_q — an admissible per-query threshold: the k-th best score
       over the L-truncated impact lists (the static key's pass, here
       demoted from answer to bound; truncated scores are lower
       bounds, so θ_q ≤ the true k-th score — pruning is safe).
    2. Per-term upper bounds UB(t) = max impact in t's posting list
       (the WAND term statistic, vocabulary-sized).
    3. MaxScore split per query: the ascending-UB prefix of terms
       whose cumulative UB stays below θ_q is non-essential — a
       document matching only non-essential terms cannot reach θ_q.
    4. Candidates = documents with ≥1 essential-term posting; only
       those are scored EXACTLY (all their matched postings), then
       the per-query top-k window runs over this shrunken set.
    5. SINGLE-matched-term queries skip 3–4 entirely (the production
       fast path): their exact top-k is the head of the term's
       impact-ordered list — score = impact, identical (impact desc,
       doc_id) order — served straight from the θ seed's top-L lists
       (L = {RAG_IMPACT_L} ≥ k = {RAG_TOPK}, asserted). MaxScore can
       never prune a one-term query (its only term is always
       essential), so routing one through the candidate machinery
       pays ~3× the exhaustive cost for zero pruning — measured
       12.3 s vs 1.4 s for the static key at sf0.1, where every
       fixture query matches exactly one corpus term.

    Scale shape: one corpus scan (query vocabulary broadcast into the
    token stream before any exchange, df/UB from windows/aggregates
    over match-sized tf rows); θ_q's seed pass is the static key's
    bounded queries × terms × L shape; the candidate semi-join and
    final scoring are keyed doc_id then (query_id, doc_id) — both
    candidate-sized, which the MaxScore bound keeps well under the
    exhaustive queries × df fan-out (the lane receipt measures the
    shrink on the shared-vocab blow-up); single-term queries cost
    queries × k, list-serving. At 100 TB the essential-term filter
    is what keeps high-df noise terms (stopword-like) from fanning
    out: their UB is low, so they fall in the non-essential prefix
    everywhere θ_q is healthy.
    """
    return retrieve(spark, sf_dir)


def _topk_bm25_oracle() -> str:
    K, SC, L = RAG_TOPK, RAG_IDF_SCALE, RAG_IMPACT_L
    A, B_TF, B_FX, B_DL = BM25_NUM, BM25_DEN_TF, BM25_DEN_FIXED, BM25_DEN_DL
    return f"""
    WITH qt AS (
      SELECT DISTINCT p_partkey AS query_id,
             unnest({TH.sql_words('p_name')}) AS term
      FROM part
    ), terms AS (
      SELECT DISTINCT term FROM qt
    ), stats AS (
      SELECT CAST(sum(len({TH.sql_words('text')})) AS BIGINT)
               // CAST(count(*) AS BIGINT) AS avgdl
      FROM documents
    ), tok AS (
      SELECT doc_id,
             CAST(len({TH.sql_words('text')}) AS BIGINT) AS dl,
             unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), mtok AS (
      SELECT doc_id, dl, token FROM tok JOIN terms ON token = term
    ), tf AS (
      SELECT doc_id, token, max(dl) AS dl,
             CAST(count(*) AS BIGINT) AS tf
      FROM mtok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), il AS (
      SELECT tf.doc_id, tf.token,
             (({SC} // dfv.df) * {A} * tf.tf * stats.avgdl)
               // ({B_TF} * stats.avgdl * tf.tf
                   + {B_FX} * stats.avgdl + {B_DL} * tf.dl) AS impact,
             row_number() OVER (PARTITION BY tf.token
                 ORDER BY (({SC} // dfv.df) * {A} * tf.tf * stats.avgdl)
                   // ({B_TF} * stats.avgdl * tf.tf
                       + {B_FX} * stats.avgdl + {B_DL} * tf.dl) DESC,
                          tf.doc_id) AS pos
      FROM tf JOIN dfv USING (token) CROSS JOIN stats
    ), sc AS (
      SELECT qt.query_id, il.doc_id,
             CAST(sum(il.impact) AS BIGINT) AS score
      FROM il
      JOIN qt ON il.token = qt.term
      WHERE il.pos <= {L}
      GROUP BY qt.query_id, il.doc_id
    ), rk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= {K}
    """


@query("rag_topk_retrieval_bm25", oracle=_topk_bm25_oracle())
def rag_topk_retrieval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RAG_TOPK} retrieval under BM25 — the production-default
    ranking function (Robertson & Zaragoza 2009, "The Probabilistic
    Relevance Framework: BM25 and Beyond") completing the scorer
    family beside the tf-idf key: term frequency SATURATES (k1 = 1.2
    — a term's 20th occurrence adds almost nothing, where raw tf·idf
    keeps growing linearly) and documents are LENGTH-NORMALIZED
    (b = 0.75 — long documents stop winning on bulk). Both parameters
    are folded into one positive integer division per (doc, term)
    (see BM25_NUM.. — numerator and denominator pre-scaled by
    40·avgdl), with the suite's integer idf ({RAG_IDF_SCALE} div df),
    so every score is exact int64 on both engines and the key carries
    a full DuckDB value oracle.

    Shape is rag_topk_retrieval's IR shape exactly — query vocabulary
    broadcast into the token stream BEFORE any exchange, df as a
    window over match-sized tf rows (single corpus scan, plan-gated),
    impact-ordered list truncation at L={RAG_IMPACT_L} as the
    quadratic guard (BM25 impacts are doc-side-only, so the same
    static pruning applies; WindowGroupLimit keeps the top-L partial)
    — plus the two corpus scalars BM25 needs (avgdl, via one
    driver-side aggregate at plan-build time, the drift key's lo/hi
    pattern) and per-token document length carried through the
    explode (max(dl) per (doc, token) group: dl is functionally
    dependent on doc_id, the aggregate form both engines agree on).
    """
    return retrieve(spark, sf_dir, scorer="bm25", pruning="static")


def _bm25_exhaustive_oracle() -> str:
    """The untruncated BM25 top-k — rag_topk_retrieval_bm25's oracle
    with the impact-list cut removed (the WAND-safety oracle shape:
    MaxScore pruning must return exactly the exhaustive answer)."""
    K, SC = RAG_TOPK, RAG_IDF_SCALE
    A, B_TF, B_FX, B_DL = BM25_NUM, BM25_DEN_TF, BM25_DEN_FIXED, BM25_DEN_DL
    return f"""
    WITH qt AS (
      SELECT DISTINCT p_partkey AS query_id,
             unnest({TH.sql_words('p_name')}) AS term
      FROM part
    ), terms AS (
      SELECT DISTINCT term FROM qt
    ), stats AS (
      SELECT CAST(sum(len({TH.sql_words('text')})) AS BIGINT)
               // CAST(count(*) AS BIGINT) AS avgdl
      FROM documents
    ), tok AS (
      SELECT doc_id,
             CAST(len({TH.sql_words('text')}) AS BIGINT) AS dl,
             unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), mtok AS (
      SELECT doc_id, dl, token FROM tok JOIN terms ON token = term
    ), tf AS (
      SELECT doc_id, token, max(dl) AS dl,
             CAST(count(*) AS BIGINT) AS tf
      FROM mtok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), sc AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(sum((({SC} // dfv.df) * {A} * tf.tf * stats.avgdl)
               // ({B_TF} * stats.avgdl * tf.tf
                   + {B_FX} * stats.avgdl + {B_DL} * tf.dl))
               AS BIGINT) AS score
      FROM tf
      JOIN dfv USING (token)
      JOIN qt ON tf.token = qt.term
      CROSS JOIN stats
      GROUP BY qt.query_id, tf.doc_id
    ), rk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= {K}
    """


@query("rag_topk_retrieval_wand_bm25", oracle=_bm25_exhaustive_oracle())
def rag_topk_retrieval_wand_bm25(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT BM25 top-{RAG_TOPK} under MaxScore/WAND dynamic pruning —
    the two production pieces composed: the default scorer
    (rag_topk_retrieval_bm25's exact integer BM25) served through the
    safe-up-to-k candidate machinery (rag_topk_retrieval_wand's).
    MaxScore is scorer-agnostic — its safety argument needs only
    non-negative per-term impacts summed additively, which BM25's
    saturated length-normalized impacts are — so _wand_plan is shared
    verbatim with ``scorer="bm25"`` swapping the impact builder, and
    the oracle is the UNTRUNCATED BM25 SQL: one comparison proves the
    scores and the pruning's safety together. BM25 is also the
    scorer where MaxScore EARNS more: tf saturation caps every
    impact at idf·(k1+1), so high-df stopword-like terms have low,
    tightly-bounded UB and fall into the non-essential prefix
    earlier than under unbounded tf·idf.

    Scale shape: identical to rag_topk_retrieval_wand (one corpus
    scan, match-sized exchanges, candidate-sized scoring,
    queries × k single-term fast path) plus BM25's one build-time
    avgdl scalar."""
    return retrieve(spark, sf_dir, scorer="bm25")


def _sql_derived_qt() -> str:
    """DuckDB CTE chain producing the derived workload as qt(query_id,
    term) — must mirror _derived_multi_qt exactly (same sampling, same
    (tf desc, token) tie-break, same ≥2-distinct-token guard)."""
    Q, R = RAG_MULTI_QSTEP, RAG_MULTI_RESIDUE
    return f"""
    qtf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM (
        SELECT doc_id, unnest({TH.sql_words('text')}) AS token
        FROM documents WHERE doc_id % {Q} = {R}
      ) GROUP BY doc_id, token
    ), top2 AS (
      SELECT doc_id, token,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tf DESC, token) AS rn,
             count(*) OVER (PARTITION BY doc_id) AS ndt
      FROM qtf
    ), qt AS (
      SELECT doc_id AS query_id, token AS term
      FROM top2 WHERE rn <= 2 AND ndt >= 2
    )"""


def _multi_exhaustive_oracle() -> str:
    """Untruncated exhaustive tf-idf top-k over the DERIVED workload —
    the safety oracle for both dynamic-pruning keys on this workload
    (same shape as _topk_exhaustive_oracle, queries swapped)."""
    K, SC = RAG_TOPK, RAG_IDF_SCALE
    return f"""
    WITH {_sql_derived_qt()},
    terms AS (
      SELECT DISTINCT term FROM qt
    ), tok AS (
      SELECT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), mtok AS (
      SELECT doc_id, token FROM tok JOIN terms ON token = term
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM mtok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), sc AS (
      SELECT qt.query_id, tf.doc_id,
             CAST(sum(tf.tf * ({SC} // dfv.df)) AS BIGINT) AS score
      FROM tf
      JOIN dfv USING (token)
      JOIN qt ON tf.token = qt.term
      GROUP BY qt.query_id, tf.doc_id
    ), rk AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rnk
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
           CAST(rnk AS BIGINT) AS rnk
    FROM rk WHERE rnk <= {K}
    """


def _derived_multi_qt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-matched-term query workload (query_id, term): every
    RAG_MULTI_QSTEP-th document's top-2 tokens by (tf desc, token).

    Scale shape: the doc_id % sampling predicate sits directly on the
    scan (pushed down), so the derivation touches ~1/QSTEP of the
    corpus; both windows (row_number rank + distinct-token count)
    share the doc_id partitioning — one queries-sized exchange. This
    is a fixture-workload GENERATOR, not a serving path: production
    queries arrive from outside the corpus (the router's position);
    deriving them from documents is what lets DuckDB rebuild the
    identical workload for the value oracle."""
    Q, R = RAG_MULTI_QSTEP, RAG_MULTI_RESIDUE
    docs = load_table(spark, sf_dir, "documents")
    qtf = _tf(docs.filter(F.col("doc_id") % Q == R))
    wd = Window.partitionBy("doc_id")
    top2 = qtf.withColumn(
        "rn",
        F.row_number().over(wd.orderBy(F.col("tf").desc(), F.col("token"))),
    ).withColumn("ndt", F.count(F.lit(1)).over(wd))
    return top2.filter((F.col("rn") <= 2) & (F.col("ndt") >= 2)).select(
        F.col("doc_id").alias("query_id"), F.col("token").alias("term")
    )


@query("rag_topk_retrieval_wand_multi", oracle=_multi_exhaustive_oracle())
def rag_topk_retrieval_wand_multi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT top-{RAG_TOPK} under MaxScore/WAND on a workload where
    every query matches ≥2 corpus terms (r13 VERDICT item 3: the
    part-names fixture queries all match exactly one term, so the
    driver's value hashes only ever proved the single-term fast path;
    the candidate machinery had unit-test and lane evidence but no
    driver-green fixture row). Queries are derived from the corpus
    itself — every {RAG_MULTI_QSTEP}-th document's top-2 tokens by
    (tf desc, token) — so both terms are corpus terms by construction,
    qt_single is empty (runtime-asserted in tests/test_round14_ops),
    and every result row flows through essential-term selection,
    candidate generation, and exact candidate scoring. The oracle is
    the UNTRUNCATED exhaustive SQL on the same derived workload: one
    green row proves scores and pruning safety together.

    Scale shape: _wand_plan's (one match-filtered corpus scan for
    postings, match-sized exchanges, candidate-sized scoring) plus the
    workload generator's sampled scan — two documents scans total in
    the plan, the second ~1/{RAG_MULTI_QSTEP} of the corpus behind a
    pushed-down sampling predicate."""
    return retrieve(spark, sf_dir, workload="derived")


@query("rag_topk_retrieval_bmw", oracle=_multi_exhaustive_oracle())
def rag_topk_retrieval_bmw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-{RAG_TOPK} under BLOCK-MAX WAND (r13 VERDICT item 4)
    — the next rung on the pruning ladder above MaxScore: per-block
    upper bounds over the impact-ordered posting lists (blocks of
    {RAG_BMW_BLOCK} postings) replace the whole-list UB at candidate
    GENERATION time, so a posting whose block cannot reach θ_q even
    with full help from the query's other terms never becomes a
    candidate. Same safety argument as MaxScore (non-negative additive
    impacts; see _bmw_cand for the inequality chain), tighter bound —
    candidates shrink beyond MaxScore's exactly on deep high-df lists,
    where impact-ordered blockmax decays along the tail. Runs on the
    derived multi-matched-term workload (a one-matched-term query can
    never be pruned by ANY of these bounds — its only term is always
    essential and always block-admissible at the head), against the
    UNTRUNCATED exhaustive oracle: one green row proves scores and
    block-bound safety together; the wandprune bench lane receipts the
    candidate shrinkage vs plain MaxScore on the skewed-df workload.

    Scale shape: _wand_plan's one match-filtered corpus scan; the
    block table rides the SAME token-keyed window pass as the impact
    lists (no extra exchange — HashPartitioning(token) satisfies the
    (token, blk) clustering); essential bounds broadcast
    (queries-sized); generation and scoring are candidate-sized, with
    the candidate set ⊆ MaxScore's by construction."""
    return retrieve(spark, sf_dir, pruning="bmw", workload="derived")


def _index_oracle() -> str:
    """Full-vocabulary impact-L lists — rag_topk_retrieval's il CTE
    with the query-vocabulary filter removed: what a reusable
    materialized index must contain (it cannot know future queries)."""
    SC, L = RAG_IDF_SCALE, RAG_IMPACT_L
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), il AS (
      SELECT tf.doc_id, tf.token,
             tf.tf * ({SC} // dfv.df) AS impact,
             row_number() OVER (PARTITION BY tf.token
                                ORDER BY tf.tf * ({SC} // dfv.df) DESC,
                                         tf.doc_id) AS pos
      FROM tf JOIN dfv USING (token)
    )
    SELECT token, doc_id, CAST(impact AS BIGINT) AS impact,
           CAST(pos AS BIGINT) AS pos
    FROM il WHERE pos <= {L}
    """


@query("rag_index_build", oracle=_index_oracle())
def rag_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-index BUILD (r13 VERDICT item 2: the 100 TB
    serving story existed only as docstring prose — every retrieval
    key recomputed its impact lists from the raw corpus per run):
    the full-vocabulary impact-L posting lists — per token, the
    {RAG_IMPACT_L} highest-impact postings (tf · integer idf, ties by
    doc_id) with their list positions — value-oracled against DuckDB.
    rag_topk_from_index persists exactly this frame as the
    token-bucketed impact_l artifact and serves from it without
    touching the corpus (plan-gated). Unlike the serving keys' plans
    it deliberately pays the whole corpus once: an index cannot
    query-filter; it is built to be reused.

    Scale shape: one corpus scan, then one FULL (doc, token)
    partial-agg shuffle (this is the build — it pays the corpus ONCE
    so serving never does), df via window over the tf rows (no second
    scan), WindowGroupLimit top-L ahead of the token exchange. Output
    is vocabulary × L rows — the 31-token fixture vocabulary makes
    that 620 rows; a real corpus's vocabulary is millions of terms,
    still thousands of times smaller than its postings."""
    return _rank_impact_l(_postings(load_table(spark, sf_dir, "documents")))


def _bm25_meta_row(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """The base corpus's (Σ dl, n_docs): a 1-row read of the bm25_meta
    artifact."""
    tot, n = spark.table(_index_table(spark, sf_dir, "bm25_meta")).first()
    return int(tot), int(n)


def _bm25_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(total_dl, n_docs) of the BASE corpus, aggregated from the
    bm25_tfdl_state artifact. The scalars are ON-DISK index metadata
    beside the state (r15 VERDICT item 2: the python-dict memo had no
    staleness guard — a state rebuilt in-session under the same name
    silently served the old scalars); as a table they live and die
    with the index chain, and a fresh session recovers them with a
    1-row read instead of a state-sized aggregate."""
    state = spark.table(_index_table(spark, sf_dir, "bm25_tfdl_state"))
    return (
        state.groupBy("doc_id")
        .agg(F.max("dl").alias("dl"))
        .agg(
            F.sum("dl").cast("long").alias("total_dl"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )


def _bm25_base_il(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The base BM25 impact-L index under the BASE corpus's own avgdl —
    exactly what a deployed index holds when the delta arrives."""
    tot, n = _bm25_meta_row(spark, sf_dir)
    state = spark.table(_index_table(spark, sf_dir, "bm25_tfdl_state"))
    return _rank_impact_l(_impacts(state, "bm25", tot // n))


def _from(name: str, then):
    """Artifact build applying ``then`` to the artifact ``name`` at rest
    (one link of a chain)."""
    return lambda s, d: then(s.table(_index_table(s, d, name)))


#: every index artifact of the documents table: name -> (build(spark,
#: sf_dir), sort columns; None for the plain 1-row bm25_meta). The
#: base_*/state tables are the base corpus (no CDC delta), the
#: deployed index a delta key maintains; a chain (postings → impact-L,
#: state → base lists) reads its predecessor at rest, never the corpus.
_INDEX_ARTIFACTS: dict = {
    "impact_l": (rag_index_build, ["token", "pos"]),
    "postings": (
        lambda s, d: _postings(load_table(s, d, "documents")),
        ["token"],
    ),
    f"postings_blk{RAG_BMW_BLOCK}": (
        _from("postings", lambda df: _blocked_postings(df, RAG_BMW_BLOCK)),
        ["token", "blk"],
    ),
    "bm25_postings": (
        lambda s, d: _postings(load_table(s, d, "documents"), "bm25"),
        ["token"],
    ),
    "bm25_impact_l": (
        _from("bm25_postings", _rank_impact_l),
        ["token", "pos"],
    ),
    "manifest_state": (
        lambda s, d: _term_df(_cdc_docs(s, d, delta=False)),
        ["token"],
    ),
    "tf_state": (lambda s, d: _tf(_cdc_docs(s, d, delta=False)), ["token"]),
    "base_impact_l": (
        _from("tf_state", lambda df: _rank_impact_l(_impacts(df))),
        ["token", "pos"],
    ),
    "base_postings": (_from("tf_state", _impacts), ["token"]),
    "base_blocked": (
        _from("base_postings", lambda t: _blocked_postings(t, RAG_BMW_BLOCK)),
        ["token", "blk"],
    ),
    "bm25_tfdl_state": (
        lambda s, d: _tf(_cdc_docs(s, d, delta=False), dl=True),
        ["token"],
    ),
    "bm25_meta": (_bm25_meta, None),
    "bm25_base_il": (_bm25_base_il, ["token", "pos"]),
}


def _index_table(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Qualified name of the index artifact ``name`` over sf_dir's
    documents, built once per source content (artifacts.ensure_artifact).
    Bucketed by token into RAG_INDEX_SHARDS buckets — one per logical
    shard of the manifest story (production sizes it with
    suggest_bucket_count): term lookups prune to one bucket file per
    shard, and token-keyed merges (deltas, UB/stat side tables) plan
    shuffle-free against it (SMB)."""
    build, sort_by = _INDEX_ARTIFACTS[name]
    return ensure_artifact(
        spark,
        name,
        sf_dir,
        lambda: build(spark, sf_dir),
        bucket_by="token" if sort_by else None,
        sort_by=sort_by,
        n_buckets=RAG_INDEX_SHARDS,
    )


@query("rag_topk_from_index", oracle=_topk_retrieval_oracle())
def rag_topk_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RAG_TOPK} retrieval SERVED FROM THE MATERIALIZED INDEX —
    the runnable form of the 100 TB serving story (r13 VERDICT item
    2): the impact-L lists are persisted once as a token-bucketed
    table (the impact_l artifact) and the query-time plan reads ONLY
    that table plus the query workload — the raw corpus appears
    nowhere in it (plan-gated: zero documents.parquet scans in the
    returned plan). The oracle is rag_topk_retrieval's own SQL, so one
    green row proves materialized ≡ recomputed: joining the
    full-vocabulary index to the query terms yields exactly the
    match-filtered computation, because per-token tf/df/impact/pos
    are unchanged by dropping other tokens.

    Scale shape — the point of the key: query-time cost is
    queries × terms × L, INDEPENDENT of corpus size. The index scan
    is bucket-pruned by token at 100 TB (one bucket per term hash);
    the query side broadcasts; the score aggregate and top-k window
    are bounded by query rows × L. The corpus-sized work happened
    exactly once, at build time."""
    return retrieve(spark, sf_dir, pruning="static", source="index")


@query("rag_manifest_delta", oracle=_shard_manifest_oracle())
def rag_manifest_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL shard-manifest maintenance (SURVEY §7's round-14
    breadth candidate: manifest delta from a documents CDC feed) —
    the IVM pattern applied to the retrieval index's metadata: the
    base corpus's term-df state is materialized once (the
    manifest_state artifact, token-bucketed), a CDC delta of
    newly-arrived documents (doc_id % {RAG_CDC_MOD} ==
    {RAG_CDC_RESIDUE}, ~20% of the corpus) is aggregated to
    (token, df_delta), and the two merge with ONE token-keyed
    full-outer join + coalesced sum before the usual
    {RAG_INDEX_SHARDS}-row shard rollup. df is additive over disjoint
    doc sets, so incremental ≡ batch EXACTLY — which is what the
    oracle checks: it is rag_shard_manifest's own full-corpus SQL,
    so one green row proves the merged state reproduces the
    from-scratch manifest bit-for-bit (term counts, postings volume,
    df ceilings, lexicographic bounds). Term-level df — not the shard
    manifest — is the right IVM state: shard-level aggregates (max_df,
    token bounds) are not decomposable without the term level
    underneath.

    Scale shape — the reason a 100 TB index is maintained and not
    rebuilt: the returned plan scans ONLY the delta (one documents
    scan with the doc_id % predicate pushed down, plan-gated) plus
    the vocabulary-sized state table; the base corpus is never
    re-read. The merge is token-keyed against a state table bucketed
    on token, so the state side co-locates shuffle-free and only the
    delta aggregate crosses the wire; the shard rollup is
    {RAG_INDEX_SHARDS} rows. Per CDC batch the cost is
    delta-tokens + vocabulary — independent of corpus size."""
    tbl = _index_table(spark, sf_dir, "manifest_state")
    base = spark.table(tbl).select("token", F.col("df").alias("df_base"))
    delta = _term_df(_cdc_docs(spark, sf_dir, delta=True)).withColumnRenamed(
        "df", "df_delta"
    )
    merged = base.join(delta, "token", "full_outer").select(
        "token",
        (
            F.coalesce(F.col("df_base"), F.lit(0))
            + F.coalesce(F.col("df_delta"), F.lit(0))
        ).alias("df"),
    )
    return _shard_rollup(merged)


def _delta_tf(spark: SparkSession, sf_dir: str, dl: bool = False) -> DataFrame:
    """The CDC delta's (doc_id, token, tf[, dl]) rows, CACHED under
    ("rag_delta_tf", sf_dir, dl): _maintain reads them three times (the
    merge union and the affected-vocabulary semi + anti joins) and
    Catalyst does not share subplans — uncached, the delta was scanned
    and tokenized three times (3 documents scans, caught by the plan
    gate's first run). The tf-idf delta keys cache the identical plan,
    so they share the one key."""
    delta = _tf(_cdc_docs(spark, sf_dir, delta=True), dl=dl)
    return cache_frame(("rag_delta_tf", sf_dir, dl), delta)


def _maintain(
    spark: SparkSession, delta: DataFrame, state: str, base: str, rebuild
) -> DataFrame:
    """The one incremental-maintenance algebra of the delta keys: a
    delta moves df only for the tokens it contains, so only those
    tokens' rows of the at-rest table ``base`` change. They are rebuilt
    with ``rebuild`` from the per-posting ``state`` rows of those tokens
    ∪ the delta's own rows (raw base text is never re-read); every
    other token's rows pass through from ``base`` byte-identical (df
    and tf unchanged there). The delta's vocabulary broadcasts into
    both the semi join and the anti join."""
    affected = F.broadcast(
        delta.select("token").distinct().withColumnRenamed("token", "atok")
    )
    hit = F.col("token") == F.col("atok")
    merged = spark.table(state).join(affected, hit, "left_semi")
    passthrough = spark.table(base).join(affected, hit, "left_anti")
    return passthrough.unionByName(rebuild(merged.unionByName(delta)))


@query("rag_index_delta", oracle=_index_oracle())
def rag_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL impact-index maintenance — rag_manifest_delta's
    pattern applied to the posting lists themselves, completing the
    materialized-index lifecycle (build → serve → maintain): when a
    CDC delta of documents arrives, only the tokens the delta
    CONTAINS change (their df moves, which rescales every impact in
    their lists and can reshuffle top-L membership); every other
    token's list is provably byte-identical (df unchanged, tf rows
    unchanged) and passes through from the materialized base index
    untouched. The key rebuilds exactly the affected lists from the
    per-posting tf STATE (base tf rows for affected tokens, merged
    with the delta's own tf rows — raw base text is never re-read or
    re-tokenized), anti-joins the base index down to the unaffected
    lists, and unions (_maintain). The oracle is rag_index_build's own
    full-corpus SQL, so one green row proves incremental ≡ batch
    bit-for-bit — impacts, positions, truncation boundaries.

    Scale shape: one documents scan (the delta, doc_id % predicate
    pushed — plan-gated), plus the two token-bucketed state tables;
    the affected-token semi/anti joins broadcast the delta's
    vocabulary; re-ranking pays WindowGroupLimit top-L over affected
    postings only. Per CDC batch the cost is delta postings +
    affected-token postings — at 100 TB with Zipf vocabularies a
    delta touches a vanishing fraction of lists (the fixture's
    31-token vocabulary is the adversarial extreme: every token is
    affected, so this fixture proves semantics while the cost
    argument is structural)."""
    return _maintain(
        spark,
        _delta_tf(spark, sf_dir),
        _index_table(spark, sf_dir, "tf_state"),
        _index_table(spark, sf_dir, "base_impact_l"),
        lambda merged: _rank_impact_l(_impacts(merged)),
    )


@query("rag_wand_from_index", oracle=_topk_exhaustive_oracle())
def rag_wand_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-{RAG_TOPK} under MaxScore/WAND served ENTIRELY FROM
    MATERIALIZED TABLES — the serving stack composed end to end: the
    θ seed reads the impact-L index (rag_topk_from_index's table),
    candidate generation and exact scoring read the full postings
    table (the postings artifact: the exact-scoring side beside the
    top-L lists, tf-idf weights baked in at build time), per-term
    UB/df statistics aggregate over that same bucketed table
    (token-keyed, so the partial agg co-locates without an exchange),
    and the raw corpus appears NOWHERE in the query-time plan
    (plan-gated, the rag_topk_from_index contract extended to the
    dynamic-pruning path). _wand_plan's candidate machinery is shared
    verbatim via imp/il injection — same essential-term selection,
    same single-matched-term fast path, same safety argument — and the
    oracle is the UNTRUNCATED exhaustive SQL (the WAND keys'
    standard: one green row proves scores and pruning safety), valid
    because the full-vocabulary postings joined to the query terms
    are exactly the match-filtered computation.

    Scale shape — the production serving bound with the build cost
    amortized away: θ seed ∝ queries × terms × L from the top-L
    table; UB stats are a shuffle-free bucketed aggregate; candidate
    and scoring joins are candidate-sized over bucket-pruned postings;
    corpus-sized work happened once, at index-build time."""
    return retrieve(spark, sf_dir, source="index")


@query("rag_bm25_from_index", oracle=_bm25_exhaustive_oracle())
def rag_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT BM25 top-{RAG_TOPK} under MaxScore/WAND served ENTIRELY
    FROM MATERIALIZED TABLES (r14 VERDICT item 3: BM25 could not be
    served from the index — _wand_plan's injection path only ever
    received tf-idf tables): the production-default scorer
    (rag_topk_retrieval_bm25's exact integer BM25) through the
    materialized serving stack (rag_wand_from_index's contract). The
    lift is in the BUILD, not the plan: the bm25_postings artifact
    bakes tf saturation, length normalization, and the avgdl corpus
    scalar into final integer impacts at build time (and bm25_impact_l
    ranks those at-rest lists, never re-scanning the corpus), so the
    injected postings satisfy _wand_plan's pre-weighted-impacts
    contract as-is — θ seed from the BM25 impact-L table, candidates +
    exact scoring from the BM25 postings table, UB/df statistics as a
    bucketed aggregate, and the raw corpus (with its dl column and
    avgdl scalar) appears NOWHERE in the query-time plan
    (plan-gated). The oracle is the UNTRUNCATED exhaustive BM25 SQL:
    one green row proves the baked impacts, the pruning's safety,
    and materialized ≡ recomputed together.

    Why BM25 maintenance is harder than tf-idf's (r14 VERDICT's named
    asymmetry, implemented in rag_bm25_index_delta): a delta shifts
    avgdl, which appears in EVERY impact's denominator — when it
    moves, the whole index rescales, not just the delta's tokens'
    lists. The production policies are (a) keep raw (tf, dl) state
    beside the impacts and re-derive affected tokens + tolerate
    bounded avgdl staleness within a band, rebuilding impacts only
    when avgdl drifts past it, or (b) store avgdl-free partial impacts
    and fold avgdl at θ/score time; rag_bm25_index_delta implements
    (a)'s exact limit.

    Scale shape: identical to rag_wand_from_index — θ seed ∝
    queries × terms × L, shuffle-free bucketed UB aggregate,
    candidate-sized scoring over bucket-pruned postings, corpus-sized
    work paid once at build."""
    return retrieve(spark, sf_dir, scorer="bm25", source="index")


@query("rag_bmw_from_index", oracle=_multi_exhaustive_oracle())
def rag_bmw_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT top-{RAG_TOPK} under BLOCK-MAX WAND served FROM THE
    MATERIALIZED INDEX — the top rung of the pruning ladder
    (MaxScore → BMW) composed with the materialized serving stack
    (corpus-scanning → from-index), completing the 2×2
    (rag_topk_retrieval_bmw proved the bounds; rag_wand_from_index
    proved the tables; this key proves them together): θ seed from
    the impact-L table, per-block admission bounds from the BLOCKED
    postings table (the postings_blk artifact — blockmax is a
    build-time column, exactly where the skip-list literature keeps
    it; ranked from the at-rest postings, sorted (token, blk) so
    candidate generation bucket-prunes to the query's terms and reads
    blocks in order), exact scoring from the plain postings table.
    Runs on the derived multi-matched-term workload (one-term queries
    are unprunable by any of these bounds), so the single documents
    scan in the plan is the WORKLOAD DERIVATION (sampled, doc_id %
    predicate pushed — the query side, which production receives
    from outside the corpus), never the corpus side (plan-gated: one
    scan, behind the sampling filter). Oracle = the untruncated
    exhaustive SQL on the same workload: scores, block-bound safety,
    and materialized ≡ recomputed in one green row.

    Scale shape: rag_wand_from_index's serving bound with generation
    candidates ⊆ MaxScore's — the blocked table adds zero query-time
    window passes (bmax is at rest) and rides the same token
    bucketing, so admission is a broadcast-joined filter over
    bucket-pruned blocks."""
    return retrieve(
        spark, sf_dir, pruning="bmw", source="index", workload="derived"
    )


def _bm25_index_oracle() -> str:
    """Full-vocabulary BM25 impact-L lists — _topk_bm25_oracle's il
    CTE with the query-vocabulary filter removed (the BM25 analogue of
    _index_oracle): what a reusable materialized BM25 index contains."""
    SC, L = RAG_IDF_SCALE, RAG_IMPACT_L
    A, B_TF, B_FX, B_DL = BM25_NUM, BM25_DEN_TF, BM25_DEN_FIXED, BM25_DEN_DL
    return f"""
    WITH stats AS (
      SELECT CAST(sum(len({TH.sql_words('text')})) AS BIGINT)
               // CAST(count(*) AS BIGINT) AS avgdl
      FROM documents
    ), tok AS (
      SELECT doc_id,
             CAST(len({TH.sql_words('text')}) AS BIGINT) AS dl,
             unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, max(dl) AS dl,
             CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), il AS (
      SELECT tf.doc_id, tf.token,
             (({SC} // dfv.df) * {A} * tf.tf * stats.avgdl)
               // ({B_TF} * stats.avgdl * tf.tf
                   + {B_FX} * stats.avgdl + {B_DL} * tf.dl) AS impact,
             row_number() OVER (PARTITION BY tf.token
                 ORDER BY (({SC} // dfv.df) * {A} * tf.tf * stats.avgdl)
                   // ({B_TF} * stats.avgdl * tf.tf
                       + {B_FX} * stats.avgdl + {B_DL} * tf.dl) DESC,
                          tf.doc_id) AS pos
      FROM tf JOIN dfv USING (token) CROSS JOIN stats
    )
    SELECT token, doc_id, CAST(impact AS BIGINT) AS impact,
           CAST(pos AS BIGINT) AS pos
    FROM il WHERE pos <= {L}
    """


@query("rag_bm25_index_delta", oracle=_bm25_index_oracle())
def rag_bm25_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL BM25 index maintenance — the genuinely harder IVM
    case the tf-idf delta (rag_index_delta) does not face (r14
    VERDICT item 3's named asymmetry): a document delta shifts the
    corpus scalar avgdl, and avgdl sits in EVERY posting's impact —
    so when it moves, the entire index rescales, not just the
    delta-touched tokens' lists. The key implements the exact limit
    of the stale-band production policy (rag_bm25_from_index's note).
    Its state is per-posting (doc_id, token, tf, dl) — tf-idf
    maintenance keeps (doc_id, token, tf) only; length normalization
    makes every BM25 impact a function of its document's length AND
    avgdl:

    1. Recompute avgdl from materialized dl STATE plus the delta —
       the base (Σ dl, n) is a 1-row read of the bm25_meta artifact
       and the delta's own scalar aggregate is delta-sized (guide §5:
       the driver's eager work per maintenance round must be
       delta-sized, not state-sized); never a corpus re-scan.
    2. avgdl UNCHANGED (integer division absorbs small deltas — the
       common case under a drifting corpus): rag_index_delta's
       affected-token path applies verbatim (_maintain) — rebuild only
       the delta's tokens' lists from (tf, dl) state + delta rows,
       pass every other list through from the base index untouched
       (df and dl unchanged there, avgdl unchanged everywhere ⇒
       byte-identical impacts).
    3. avgdl MOVED: no passthrough is sound — every impact's
       denominator changed — so re-derive ALL lists from the (tf,
       dl) state ∪ delta under the new scalar. Still no corpus
       re-scan (that is what the state is for); the cost is one
       full-vocabulary re-rank, the irreducible price of a global
       scalar in the scoring function, paid only on band exit.

    Either branch, the oracle is the full-corpus BM25 index build
    SQL: incremental ≡ batch bit-for-bit — impacts, positions,
    truncation boundaries. Plan gate: ONE documents scan (the delta,
    pushed predicate) regardless of branch.

    Scale shape: branch 2 costs delta + affected lists (Zipf: a
    vanishing fraction); branch 3 costs a postings-state re-rank —
    ~vocabulary × mean list length rows through one window pass,
    still orders below the corpus scan+tokenize it replaces. The
    branch decision itself is two scalar aggregates."""
    st_tbl = _index_table(spark, sf_dir, "bm25_tfdl_state")
    il_tbl = _index_table(spark, sf_dir, "bm25_base_il")
    delta = _delta_tf(spark, sf_dir, dl=True)
    bt, bn = _bm25_meta_row(spark, sf_dir)
    delta_dl = delta.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    dt, dn = delta_dl.agg(F.sum("dl"), F.count(F.lit(1))).first()
    avgdl_new = (bt + int(dt)) // (bn + int(dn))

    def rebuild(state: DataFrame) -> DataFrame:
        return _rank_impact_l(_impacts(state, "bm25", avgdl_new))

    if avgdl_new == bt // bn:
        return _maintain(spark, delta, st_tbl, il_tbl, rebuild)
    # band exit: the scalar moved — full re-rank from state ∪ delta
    return rebuild(spark.table(st_tbl).unionByName(delta))


def _postings_oracle() -> str:
    """The UNTRUNCATED full-vocabulary postings with baked tf-idf
    impacts — what _ensure_postings_index materializes (rag_index
    _build's lists without the top-L cut): the exact-scoring side of
    the materialized WAND serving stack."""
    SC = RAG_IDF_SCALE
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    )
    SELECT tf.token, tf.doc_id,
           CAST(tf.tf * ({SC} // dfv.df) AS BIGINT) AS impact
    FROM tf JOIN dfv USING (token)
    """


@query("rag_postings_delta", oracle=_postings_oracle())
def rag_postings_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance for the FULL postings table — the last
    serving table without a delta path (SURVEY §7's r15 breadth
    candidate: rag_index_delta maintains the top-L lists;
    rag_wand_from_index's candidate generation and exact scoring read
    the UNTRUNCATED postings, which until now only a full rebuild
    refreshed). Same IVM algebra as the top-L case (_maintain), minus
    the rank: a delta moves df only for tokens it contains, so
    affected tokens' postings re-derive their impacts from the merged
    tf STATE (base tf rows for affected tokens ∪ the delta's own — one
    window, no WindowGroupLimit because nothing truncates), and every
    other posting passes through from the materialized base table
    (base_postings, derived from the tf state at rest) byte-identical.
    Oracle = the untruncated full-vocabulary postings SQL: incremental
    ≡ batch over every row of the serving table.

    Together with rag_index_delta (top-L), rag_manifest_delta (term
    df state), rag_bm25_index_delta (BM25 + avgdl), ann_index_delta
    (vector codes), and stream_index_delta (the streaming driver),
    every materialized table any serving key reads now has an
    incremental maintenance story.

    Scale shape: one documents scan (the delta, pushed predicate,
    cached one-deep per sf_dir) + the two token-bucketed state
    tables; the anti/semi joins broadcast the delta's vocabulary;
    cost per batch is delta postings + affected-token postings —
    and no ranking pass at all, so this is strictly cheaper than
    the top-L delta it complements."""
    return _maintain(
        spark,
        _delta_tf(spark, sf_dir),
        _index_table(spark, sf_dir, "tf_state"),
        _index_table(spark, sf_dir, "base_postings"),
        _impacts,
    )


def _blocked_postings_oracle() -> str:
    """The full blocked postings table — _postings_oracle's rows plus
    (pos, blk, bmax) at block width {RAG_BMW_BLOCK}: what
    _ensure_block_postings_index materializes for BMW serving."""
    SC, B = RAG_IDF_SCALE, RAG_BMW_BLOCK
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({TH.sql_words('text')}) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, token
    ), dfv AS (
      SELECT token, CAST(count(*) AS BIGINT) AS df
      FROM tf GROUP BY token
    ), post AS (
      SELECT tf.token, tf.doc_id,
             CAST(tf.tf * ({SC} // dfv.df) AS BIGINT) AS impact
      FROM tf JOIN dfv USING (token)
    ), ranked AS (
      SELECT token, doc_id, impact,
             CAST(row_number() OVER (PARTITION BY token
                                     ORDER BY impact DESC, doc_id)
                  AS BIGINT) AS pos
      FROM post
    ), blocked AS (
      SELECT token, doc_id, impact, pos,
             CAST((pos - 1) // {B} AS BIGINT) AS blk
      FROM ranked
    )
    SELECT token, doc_id, impact, pos, blk,
           CAST(max(impact) OVER (PARTITION BY token, blk) AS BIGINT)
             AS bmax
    FROM blocked
    """


@query("rag_blocked_delta", oracle=_blocked_postings_oracle())
def rag_blocked_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL maintenance for the BLOCKED postings table — the
    one derived serving table rag_postings_delta left rebuild-only
    (blockmax is per (token, blk): when a token's df or membership
    moves, its list RE-RANKS, so positions shift, block boundaries
    move, and every (blk, bmax) of that list is suspect — but ONLY of
    that list). Affected tokens re-block from merged tf state (the
    postings-delta impacts through the same two token-partitioned
    window passes the build uses — rank, then per-(token, blk) max);
    unaffected lists pass through with (pos, blk, bmax) intact,
    byte-identical because their posting sets, impacts, and hence
    ranks and block maxima are untouched by a delta that contains
    none of their postings. Oracle = the full-corpus blocked postings
    SQL: incremental ≡ batch over every column including the derived
    block geometry.

    Scale shape: one documents scan (the delta) + the tf-state and
    base-blocked tables; re-blocking pays two window passes over ONE
    token partitioning (no extra exchange — the build's own shape)
    restricted to affected postings. Block width is the table's
    build-time constant; changing it is a new index artifact, not a
    delta."""
    return _maintain(
        spark,
        _delta_tf(spark, sf_dir),
        _index_table(spark, sf_dir, "tf_state"),
        _index_table(spark, sf_dir, "base_blocked"),
        lambda merged: _blocked_postings(_impacts(merged), RAG_BMW_BLOCK),
    )
