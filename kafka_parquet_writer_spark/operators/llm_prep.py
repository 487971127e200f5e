"""LLM training-data curation operators: benchmark decontamination,
token-budget mixture sampling, and leakage-free train/val splitting.

These close the loop on the corpus pipeline (dedup → quality → chunk →
pack, operators/dedup.py / text.py / corpus_prep.py): before a corpus
ships to training, it must be scrubbed of eval-set overlap
(decontaminate), re-weighted to a target source/language mixture
(mixture_sample), and split so that duplicate content never straddles
train and validation (split_leakage_free). The reference engine stops
at parquet landing (`KafkaProtoParquetWriter.java:156-380`); this is
downstream-consumer surface over the landed tables. All three are pure
JVM expression pipelines with exact DuckDB oracles — sampling and
splitting use the portable integer-hash family (functions/texthash.py)
so both engines compute identical membership bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka_parquet_writer_spark.catalog import load_table
from kafka_parquet_writer_spark.functions import texthash as TH
from kafka_parquet_writer_spark.registry import query

# --- decontamination -------------------------------------------------------
#: every 50th doc_id plays the held-out benchmark/eval set (2% of corpus)
DECON_BENCH_MOD = 50
#: flag a training doc when it shares ≥ this many distinct 3-gram
#: shingles with the benchmark set (3-grams are distinctive: corpus
#: median overlap is 1; real n-gram decontamination pipelines use the
#: same shape with n=8..13 character or word grams)
DECON_MIN_SHARED = 3

# --- mixture sampling ------------------------------------------------------
#: target language mixture in basis points (sums to 10000)
MIX_TARGET_BP = {"en": 4000, "de": 1500, "es": 1500, "fr": 1500, "zh": 1500}
#: overall token budget as a percent of the corpus' total tokens
MIX_BUDGET_PCT = 50
#: fixed affine-permutation coefficients for the keep/drop hash
#: (embedded as literals in both engines; any (a, b) with a ∈ [1, P))
MIX_A, MIX_B = 48_271, 11

# --- leakage-free split ----------------------------------------------------
#: percent of content groups routed to the validation split
SPLIT_VAL_PCT = 10


def decon_oracle_sql() -> str:
    """Shared by the batch operator and its streaming re-formulation
    (`operators/streaming_queries.stream_decontaminate`) — the
    streaming result is proven equal to this one-shot computation."""
    return f"""
    WITH sh AS ({TH.sql_shingle_cte('documents', 'doc_id', 'text', 3)}),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc % {DECON_BENCH_MOD} = 0
    ),
    hits AS (
      SELECT s.doc AS doc_id, count(*) AS n_shared
      FROM sh s JOIN bench USING (shingle)
      WHERE s.doc % {DECON_BENCH_MOD} <> 0
      GROUP BY s.doc
    )
    SELECT doc_id, n_shared
    FROM hits
    WHERE n_shared >= {DECON_MIN_SHARED}
    """


@query("decontaminate_ngram", oracle=decon_oracle_sql())
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents that share ≥
    {DECON_MIN_SHARED} distinct word 3-grams with the held-out
    benchmark subset (doc_id % {DECON_BENCH_MOD} == 0) — the standard
    n-gram-overlap test-set-leak scrub an LLM corpus runs before
    training. Emits the contaminated doc ids with their overlap counts
    (the anti-join against this set is the "clean corpus").

    Scale shape: eval suites are tiny and fixed-size while the corpus
    is the 100 TB side, so the benchmark's distinct-shingle set is
    BROADCAST — the corpus side streams through a map-side hash
    semi-join with no corpus shuffle; the only shuffle is the per-doc
    overlap count over rows that actually matched (a tiny fraction).
    Shingling itself is a zero-shuffle per-row expression
    (functions/texthash.py word_shingles_expr — slice+zip_with, no
    explode until after the distinct).
    """
    docs = load_table(spark, sf_dir, "documents")
    return decon_flag(decon_matches(docs, bench_shingles(docs)))


def bench_shingles(docs: DataFrame) -> DataFrame:
    """The benchmark side: the distinct word 3-grams of the held-out
    documents (doc_id % DECON_BENCH_MOD == 0)."""
    return (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(F.explode(TH.word_shingles_expr("text", 3)).alias("shingle"))
        .distinct()
    )


def decon_matches(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """One (doc_id) row per training-document shingle found in the
    broadcast ``bench`` set: a per-row map and a map-side join, so it
    runs unchanged over a stream of documents."""
    corpus = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0).select(
        "doc_id", F.explode(TH.word_shingles_expr("text", 3)).alias("shingle")
    )
    return corpus.join(F.broadcast(bench), "shingle").select("doc_id")


def decon_flag(matches: DataFrame) -> DataFrame:
    """(doc_id, n_shared) for the documents with at least
    DECON_MIN_SHARED matched shingles."""
    return (
        matches.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECON_MIN_SHARED)
    )


def _mix_sql_rates() -> str:
    """DuckDB CTE body computing the per-language keep rate in basis
    points — ALL integer arithmetic so Spark reproduces it exactly."""
    target = " ".join(
        f"WHEN '{lang}' THEN {bp}" for lang, bp in MIX_TARGET_BP.items()
    )
    return f"""
    toks AS (
      SELECT doc_id, lang,
             CAST(len({TH.sql_words('text')}) AS BIGINT) AS tok
      FROM documents
    ),
    lang_tot AS (
      SELECT lang, sum(CAST(tok AS BIGINT)) AS tok_l,
             CASE lang {target} ELSE 0 END AS target_bp
      FROM toks GROUP BY lang
    ),
    budget AS (
      SELECT CAST(sum(tok) AS BIGINT) * {MIX_BUDGET_PCT} // 100 AS b
      FROM toks
    ),
    rates AS (
      -- CAST: sum() is HUGEINT in DuckDB and propagates through the
      -- // and LEAST chain into rate_bp; the driver's value hash is
      -- dtype-sensitive (HUGEINT != Spark bigint even for equal
      -- values), so pin the output column to BIGINT explicitly.
      SELECT lang,
             CAST(LEAST(10000,
                        (10000 * (b * target_bp // 10000)) // tok_l)
                  AS BIGINT) AS rate_bp
      FROM lang_tot, budget
      WHERE tok_l > 0
    )
    """


@query(
    "mixture_sample",
    oracle=f"""
    WITH {_mix_sql_rates()}
    SELECT t.doc_id, t.lang, t.tok, r.rate_bp
    FROM toks t JOIN rates r USING (lang)
    WHERE (t.doc_id * {MIX_A} + {MIX_B}) % {TH.MERSENNE_P} % 10000
          < r.rate_bp
    """,
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing: deterministically sample documents so each
    language's token share matches a target mixture
    ({MIX_TARGET_BP} in basis points) of an overall token budget
    ({MIX_BUDGET_PCT}% of corpus tokens) — the re-weighting step that
    turns a crawled corpus into a training mixture. Membership is an
    affine hash on doc_id against a per-language rate, so the sample is
    reproducible run-to-run and engine-to-engine (no rand()).

    All rate arithmetic is integer (div, not /): at 100 TB the
    token-count products exceed float53 precision, and a one-ULP
    disagreement would flip membership of boundary documents.

    Scale shape: one partial-agg shuffle for per-language token totals
    (|langs| rows), a broadcast scalar for the global budget, then a
    broadcast join of the rate table back onto the corpus — the corpus
    itself is never shuffled; keep/drop is a per-row expression.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(TH.words_expr("text")).cast("long").alias("tok"),
    )
    target_bp = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(bp))
            for lang, bp in MIX_TARGET_BP.items()
        ],
        F.lit(0),
    )
    lang_tot = toks.groupBy("lang").agg(F.sum("tok").alias("tok_l")).withColumn(
        "target_bp", target_bp
    )
    budget = toks.agg(
        F.expr(f"sum(tok) * {MIX_BUDGET_PCT} div 100").alias("b")
    )
    rates = (
        lang_tot.crossJoin(F.broadcast(budget))
        .filter(F.col("tok_l") > 0)
        .select(
            "lang",
            F.least(
                F.lit(10000),
                F.expr("(10000 * (b * target_bp div 10000)) div tok_l"),
            ).alias("rate_bp"),
        )
    )
    keep = (
        F.col("doc_id") * MIX_A + MIX_B
    ) % TH.MERSENNE_P % 10000 < F.col("rate_bp")
    return (
        toks.join(F.broadcast(rates), "lang")
        .filter(keep)
        .select("doc_id", "lang", "tok", "rate_bp")
    )


@query(
    "split_leakage_free",
    oracle=f"""
    SELECT doc_id,
           {TH.sql_portable_hash64('text')} AS content_key,
           CASE WHEN {TH.sql_portable_hash64('text')} % 100
                     < {SPLIT_VAL_PCT}
                THEN 'val' ELSE 'train' END AS split
    FROM documents
    """,
)
def split_leakage_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val split: route documents to splits by a
    hash of their CONTENT, not their id — exact duplicates (and any
    docs sharing a canonical form, if the key is computed post-
    normalization) always land in the same split, so the validation
    set can't be contaminated by a training-set twin.

    Scale shape: zero shuffles — the split is a stateless per-row
    expression (portable 60-bit md5 hash → mod-100 bucket), so it
    parallelizes with the scan and composes with any downstream
    partitioned write. Group-aware splitting by a heavier key (URL
    domain, near-dup cluster id from dedup_clusters) is the same
    expression over that column instead.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = TH.portable_hash64(F.col("text"))
    return docs.select(
        "doc_id",
        key.alias("content_key"),
        F.when(key % 100 < SPLIT_VAL_PCT, "val")
        .otherwise("train")
        .alias("split"),
    )


# --- dedup_span_exact -------------------------------------------------------

SPAN_L = 10  #: minimum duplicated span length, in tokens


def _span_oracle() -> str:
    ln = SPAN_L
    return f"""
    WITH w AS (
      SELECT doc_id, {TH.sql_words('text')} AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id,
             r.i AS st,
             r.i + {ln} - 1 AS en,
             {TH.sql_portable_hash64(
                 f"array_to_string(ws[r.i : r.i + {ln} - 1], ' ')")} AS gh
      FROM w, range(1, 1000000) AS r(i)
      WHERE r.i + {ln} - 1 <= len(ws)
    ),
    dup AS (
      SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1
    ),
    hits AS (
      SELECT g.doc_id, g.st, g.en FROM grams g JOIN dup d ON d.gh = g.gh
    ),
    marked AS (
      SELECT doc_id, st, en,
             CASE WHEN st > coalesce(max(en) OVER (
                      PARTITION BY doc_id ORDER BY st, en
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    spans AS (
      SELECT doc_id, min(st) AS span_start, max(en) AS span_end
      FROM (
        SELECT doc_id, st, en,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY st, en
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM marked)
      GROUP BY doc_id, grp
    )
    SELECT s.doc_id AS doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(s.span_end - s.span_start + 1) AS BIGINT) AS dup_tokens,
           CAST(len(w.ws) AS BIGINT) AS total_tokens,
           CAST(sum(s.span_end - s.span_start + 1) * 10000
                // len(w.ws) AS BIGINT) AS dup_frac_bp
    FROM spans s JOIN w ON w.doc_id = s.doc_id
    GROUP BY s.doc_id, len(w.ws)
    """


@query("dedup_span_exact", oracle=_span_oracle())
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-SPAN detection (the Lee et al. 2022
    "Deduplicating Training Data" ExactSubstr step, at token-{SPAN_L}gram
    granularity): every overlapping {SPAN_L}-token gram that occurs
    more than once in the corpus marks its positions; per document,
    overlapping/adjacent marked intervals merge into MAXIMAL duplicated
    spans. Doc- and line-level dedup (dedup_exact / text_line_dedup)
    miss duplication that crosses line boundaries or sits inside
    otherwise-unique documents — this is the operator that catches
    boilerplate paragraphs and licensing blocks. Emits per-doc span
    count, duplicated-token mass, and duplicated fraction (integer bp).

    Scale shape: gram emission is a per-row explode (|tokens| rows,
    only the 64-bit hash leaves the task); the duplicate-gram filter is
    ONE count-per-hash shuffle with map-side combine (the minhash
    profile-build shape); interval merge is one window per doc over
    HIT positions only (duplicated grams, a small fraction of all
    grams). Suffix-array ExactSubstr finds arbitrary-length matches;
    the fixed-gram form trades that for pure shuffle/window primitives
    with identical ≥{SPAN_L}-token guarantees. (Oracle bound: its
    range(1, 1e6) position generator assumes ≤1M tokens per document;
    the Spark side's sequence() has no such cap.)
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = TH.words_expr("text")
    w = docs.select("doc_id", ws.alias("ws"), F.size(ws).alias("n_tok"))
    grams = w.select(
        "doc_id",
        "n_tok",
        "ws",
        F.explode(
            F.when(
                F.col("n_tok") >= SPAN_L,
                F.sequence(F.lit(1), F.col("n_tok") - SPAN_L + 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("st"),
    ).select(
        "doc_id",
        "n_tok",
        "st",
        (F.col("st") + SPAN_L - 1).alias("en"),
        TH.portable_hash64(
            F.array_join(F.slice(F.col("ws"), F.col("st"), SPAN_L), " ")
        ).alias("gh"),
    ).cache()
    # ^ the gram emission (tokenize + explode + md5 hash per position)
    # is the dominant per-row work and has TWO consumers (the df
    # aggregate and the hit probe); uncached it executes twice per run
    # (2 documents scans in the before plan). Cached it runs once; the
    # cache holds only (doc_id, n_tok, st, en, gh) — ws never
    # materializes. At 100 TB this is MEMORY_AND_DISK working state ~the
    # size of one shuffle of the gram table — the same bytes the
    # alternative (a count-over-gh window) would shuffle.
    dup = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("c")).filter(
        F.col("c") > 1
    )
    hits = grams.join(dup.select("gh"), "gh").select(
        "doc_id", "n_tok", "st", "en"
    )
    win = W.partitionBy("doc_id").orderBy("st", "en")
    prev_max_en = F.max("en").over(
        win.rowsBetween(W.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "brk",
        F.when(
            F.col("st") > F.coalesce(prev_max_en, F.lit(0)) + 1, 1
        ).otherwise(0),
    ).withColumn(
        "grp", F.sum("brk").over(win.rowsBetween(W.unboundedPreceding, 0))
    )
    spans = marked.groupBy("doc_id", "n_tok", "grp").agg(
        F.min("st").alias("span_start"), F.max("en").alias("span_end")
    )
    return spans.groupBy("doc_id", "n_tok").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_tokens"
        ),
    ).select(
        "doc_id",
        "n_spans",
        "dup_tokens",
        F.col("n_tok").cast("long").alias("total_tokens"),
        F.expr("dup_tokens * 10000 div n_tok").alias("dup_frac_bp"),
    )


# --- dedup_span_variable ----------------------------------------------------

#: grams occurring in MORE than this many positions corpus-wide are
#: excluded from per-PAIR chaining (each such gram is global
#: boilerplate, already captured by dedup_span_exact's per-doc mass;
#: including it would materialize C(df,2) pairs per position — the
#: quadratic frequent-token blow-up every pair-expansion in this repo
#: caps or restructures away)
SPAN_PAIR_MAX_DF = 16


def _span_var_oracle() -> str:
    ln = SPAN_L
    return f"""
    WITH w AS (
      SELECT doc_id, {TH.sql_words('text')} AS ws FROM documents
    ),
    grams AS (
      SELECT doc_id,
             r.i AS st,
             {TH.sql_portable_hash64(
                 f"array_to_string(ws[r.i : r.i + {ln} - 1], ' ')")} AS gh
      FROM w, range(1, 1000000) AS r(i)
      WHERE r.i + {ln} - 1 <= len(ws)
    ),
    dup AS (
      SELECT gh FROM grams GROUP BY gh
      HAVING count(*) > 1 AND count(*) <= {SPAN_PAIR_MAX_DF}
    ),
    h AS (
      SELECT g.doc_id, g.st, g.gh FROM grams g JOIN dup d ON d.gh = g.gh
    ),
    p AS (
      SELECT a.doc_id AS d1, a.st AS s1, b.doc_id AS d2, b.st AS s2,
             a.st - b.st AS diag
      FROM h a JOIN h b ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    r AS (
      SELECT *, s1 - row_number() OVER (
               PARTITION BY d1, d2, diag ORDER BY s1) AS grp
      FROM p
    ),
    runs AS (
      SELECT d1, d2, diag, grp, count(*) + {ln} - 1 AS mlen
      FROM r GROUP BY d1, d2, diag, grp
    )
    SELECT d1, d2,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(max(mlen) AS BIGINT) AS max_len,
           CAST(sum(mlen) AS BIGINT) AS sum_len
    FROM runs GROUP BY d1, d2
    """


@query("dedup_span_variable", oracle=_span_var_oracle())
def dedup_span_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIABLE-LENGTH duplicated-span detection between document
    PAIRS — the gram-chaining approximation of Lee et al. 2022's
    suffix-array ExactSubstr, built entirely from shuffle/window
    primitives. dedup_span_exact reports per-DOC merged duplicated
    mass at a fixed {SPAN_L}-token floor; this operator recovers the
    pairwise structure AND the true match lengths: two docs sharing a
    maximal T-token verbatim span (T ≥ {SPAN_L}) produce exactly
    T − {SPAN_L} + 1 consecutive matching {SPAN_L}-grams on one
    (d1, d2, s1−s2) DIAGONAL, so chaining consecutive positions per
    diagonal reconstructs the match and its exact length
    (count + {SPAN_L} − 1). Emits per doc pair: number of maximal
    matches, longest match length, and summed match length — the
    evidence a curation pipeline ranks "which pairs share real
    passages" by, where Jaccard-style set overlap loses all
    positional/length information.

    Scale shape: gram emission is the dedup_span_exact explode (only
    8-byte hashes leave the task); the frequency filter is the same
    one count-per-hash shuffle; pair expansion joins hits-to-hits on
    gh with the corpus-wide frequency capped at {SPAN_PAIR_MAX_DF}
    occurrences (≤ C({SPAN_PAIR_MAX_DF},2) pairs per gram — grams
    above the cap are global boilerplate already summarized by
    dedup_span_exact, and uncapped expansion is the Σ df² blow-up);
    chaining is one window per (d1, d2, diagonal) over matched
    positions only, then two grouped aggregations. The consecutive-
    run trick (s1 − row_number) needs no iteration: maximal runs fall
    out of one sort per diagonal group.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = TH.words_expr("text")
    w = docs.select("doc_id", ws.alias("ws"), F.size(ws).alias("n_tok"))
    grams = w.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("n_tok") >= SPAN_L,
                F.sequence(F.lit(1), F.col("n_tok") - SPAN_L + 1),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("st"),
        "ws",
    ).select(
        "doc_id",
        "st",
        TH.portable_hash64(
            F.array_join(F.slice(F.col("ws"), F.col("st"), SPAN_L), " ")
        ).alias("gh"),
    ).cache()
    # ^ same fix as dedup_span_exact, worth double here: uncached, the
    # gram emission ran FOUR times per run (df-aggregate + hit probe,
    # then both AGAIN for the b-side of the pair self-join — 4
    # documents scans in the before plan). Cached it runs once.
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter((F.col("c") > 1) & (F.col("c") <= SPAN_PAIR_MAX_DF))
        .select("gh")
    )
    hits = grams.join(dup, "gh").cache()
    # ^ hits (duplicated low-df grams only, a small fraction of grams)
    # feeds both sides of the pair self-join; caching it keeps even the
    # cache-scan + broadcast-probe from running twice.
    a = hits.select(
        F.col("doc_id").alias("d1"), F.col("st").alias("s1"), "gh"
    )
    b = hits.select(
        F.col("doc_id").alias("d2"), F.col("st").alias("s2"), "gh"
    )
    pairs = (
        a.join(b, "gh")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "s1", "d2", "s2", (F.col("s1") - F.col("s2")).alias("diag"))
    )
    win = W.partitionBy("d1", "d2", "diag").orderBy("s1")
    runs = (
        pairs.withColumn("grp", F.col("s1") - F.row_number().over(win))
        .groupBy("d1", "d2", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(SPAN_L - 1)).alias("mlen"))
    )
    return runs.groupBy("d1", "d2").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("mlen").cast("long").alias("max_len"),
        F.sum("mlen").cast("long").alias("sum_len"),
    )


# --- mixture_dsir_weights ---------------------------------------------------

DSIR_BUCKETS = 1024  #: hashed unigram feature space
DSIR_TOPK = 100  #: selected docs reported


def _dsir_oracle() -> str:
    words = TH.sql_words("text")
    tid = TH.sql_portable_tid("tok")
    return f"""
    WITH w AS (
      SELECT doc_id, {words} AS ws,
             doc_id % {DECON_BENCH_MOD} = 0 AS is_t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, is_t, {tid} % {DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, is_t, unnest(ws) AS tok FROM w)
    ),
    cnt AS (
      SELECT b,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tb,
             sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS rb
      FROM tok GROUP BY b
    ),
    tot AS (SELECT sum(tb) AS tt, sum(rb) AS rt FROM cnt),
    lift AS (
      SELECT b,
             (tb + 1) * (rt + {DSIR_BUCKETS}) * 1000
               // ((rb + 1) * (tt + {DSIR_BUCKETS})) AS lm
      FROM cnt CROSS JOIN tot
    ),
    doc AS (
      SELECT t.doc_id, count(*) AS n_tok, sum(lm) AS s
      FROM tok t JOIN lift USING (b) WHERE NOT is_t GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(s // n_tok AS BIGINT) AS avg_lift_milli
    FROM doc ORDER BY avg_lift_milli DESC, doc_id LIMIT {DSIR_TOPK}
    """


@query("mixture_dsir_weights", oracle=_dsir_oracle())
def mixture_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    2023) in its hashed-unigram form: score every RAW-pool document
    by how target-like its token distribution is, using importance
    ratios between a target corpus (the benchmark stand-in, doc_id %
    {DECON_BENCH_MOD} == 0 — the same split decontaminate_ngram
    scrubs against) and the raw pool, over {DSIR_BUCKETS} hashed
    unigram buckets; report the top-{DSIR_TOPK} most-target-like raw
    docs. This is the data-SELECTION member of the curation family:
    mixture_sample re-weights by metadata, text_quality_classifier
    filters by intrinsic quality; DSIR selects by DISTRIBUTIONAL
    closeness to a target domain.

    Engine-exactness variant: the paper sums log importance ratios,
    but float log reassociation differs across engines, so the score
    is the SUM OF INTEGER MILLI-RATIOS (add-one smoothed, totals-
    normalized: (t_b+1)(R+B)·1000 div (r_b+1)(T+B)) — order-free
    int64 addition, same spirit (monotone in the per-bucket ratio),
    value-hash-exact. Per-doc score is length-normalized (integer
    avg). Bound: the t_b·R·1000 product stays in int64 to ~10^14
    token-count×corpus products; past that compute lifts in doubles
    and keep ranks (the BPE-lift caveat).

    Scale shape: one explode → one {DSIR_BUCKETS}-key count shuffle
    with map-side combine (the importance model is CONSTANT-size);
    the model broadcasts back onto the cached token stream (map-side
    join, no fact shuffle), one per-doc sum shuffle, and a
    TakeOrderedAndProject top-{DSIR_TOPK} — never a global sort. The
    token stream is cached across its two passes (model build,
    scoring), mirroring the k-means access pattern.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % DECON_BENCH_MOD == 0).alias("is_t"),
            F.explode(TH.words_expr("text")).alias("tok"),
        )
        .select(
            "doc_id",
            "is_t",
            (TH.portable_tid(F.col("tok")) % DSIR_BUCKETS).alias("b"),
        )
        .cache()
    )
    cnt = tok.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tb"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("rb"),
    )
    tot = cnt.agg(F.sum("tb").alias("tt"), F.sum("rb").alias("rt"))
    lift = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"(tb + 1) * (rt + {DSIR_BUCKETS}) * 1000"
            f" div ((rb + 1) * (tt + {DSIR_BUCKETS}))"
        ).alias("lm"),
    )
    doc = (
        tok.filter(~F.col("is_t"))
        .join(F.broadcast(lift), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), F.sum("lm").alias("s"))
    )
    return (
        doc.select(
            "doc_id",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.expr("s div n_tok").cast("long").alias("avg_lift_milli"),
        )
        .orderBy(F.col("avg_lift_milli").desc(), "doc_id")
        .limit(DSIR_TOPK)
    )


# --- mixture_dsir_bigram ------------------------------------------------------


def _dsir_bigram_oracle() -> str:
    words = TH.sql_words("text")
    tid = TH.sql_portable_tid("tok")
    return f"""
    WITH w AS (
      SELECT doc_id, {words} AS ws,
             doc_id % {DECON_BENCH_MOD} = 0 AS is_t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, is_t, {tid} % {DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, is_t, ws[g.i] || ' ' || ws[g.i + 1] AS tok
        FROM w, range(1, 1000000) AS g(i)
        WHERE g.i + 1 <= len(ws)
      )
    ),
    cnt AS (
      SELECT b,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tb,
             sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS rb
      FROM tok GROUP BY b
    ),
    tot AS (SELECT sum(tb) AS tt, sum(rb) AS rt FROM cnt),
    lift AS (
      SELECT b,
             (tb + 1) * (rt + {DSIR_BUCKETS}) * 1000
               // ((rb + 1) * (tt + {DSIR_BUCKETS})) AS lm
      FROM cnt CROSS JOIN tot
    ),
    doc AS (
      SELECT t.doc_id, count(*) AS n_big, sum(lm) AS s
      FROM tok t JOIN lift USING (b) WHERE NOT is_t GROUP BY t.doc_id
    )
    SELECT doc_id,
           CAST(n_big AS BIGINT) AS n_big,
           CAST(s // n_big AS BIGINT) AS avg_lift_milli
    FROM doc ORDER BY avg_lift_milli DESC, doc_id LIMIT {DSIR_TOPK}
    """


@query("mixture_dsir_bigram", oracle=_dsir_bigram_oracle())
def mixture_dsir_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR in the paper's actual feature space: Xie et al. 2023 use
    HASHED BIGRAMS (n = 2), not unigrams — bigram buckets capture
    collocational structure ("supreme court" vs the two words apart)
    that unigram ratios miss, which is what makes the importance model
    domain-discriminative. Identical engine-exact integer milli-ratio
    scoring and plan shape as `mixture_dsir_weights` (the unigram
    baseline kept for comparison); only the feature stream differs:
    each doc contributes its n−1 consecutive word pairs, hashed into
    the same {DSIR_BUCKETS}-bucket space.

    The `n >= 2` guard is load-bearing: Spark's `sequence(1, n-1)`
    DESCENDS for n < 2 ([1, 0]), which would fabricate a null-concat
    gram; short docs contribute no bigrams and drop out of scoring on
    both engines.

    Scale shape (same as unigram DSIR): one explode → one constant-size
    ({DSIR_BUCKETS}-key) count shuffle with map-side combine, model
    broadcast back onto the cached bigram stream, one per-doc sum
    shuffle, TakeOrderedAndProject top-{DSIR_TOPK}. Bigrams double
    neither shuffle: the model is still {DSIR_BUCKETS} rows and the
    stream carries one int64 bucket per bigram.
    """
    docs = load_table(spark, sf_dir, "documents")
    ws = TH.words_expr("text")
    w = docs.select(
        "doc_id",
        (F.col("doc_id") % DECON_BENCH_MOD == 0).alias("is_t"),
        ws.alias("ws"),
        F.size(ws).alias("n"),
    )
    tok = (
        w.select(
            "doc_id",
            "is_t",
            F.explode(
                F.when(
                    F.col("n") >= 2,
                    F.expr(
                        "transform(sequence(1, n - 1),"
                        " i -> ws[i - 1] || ' ' || ws[i])"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("tok"),
        )
        .select(
            "doc_id",
            "is_t",
            (TH.portable_tid(F.col("tok")) % DSIR_BUCKETS).alias("b"),
        )
        .cache()
    )
    cnt = tok.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("tb"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("rb"),
    )
    tot = cnt.agg(F.sum("tb").alias("tt"), F.sum("rb").alias("rt"))
    lift = cnt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"(tb + 1) * (rt + {DSIR_BUCKETS}) * 1000"
            f" div ((rb + 1) * (tt + {DSIR_BUCKETS}))"
        ).alias("lm"),
    )
    doc = (
        tok.filter(~F.col("is_t"))
        .join(F.broadcast(lift), "b")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_big"), F.sum("lm").alias("s"))
    )
    return (
        doc.select(
            "doc_id",
            F.col("n_big").cast("long").alias("n_big"),
            F.expr("s div n_big").cast("long").alias("avg_lift_milli"),
        )
        .orderBy(F.col("avg_lift_milli").desc(), "doc_id")
        .limit(DSIR_TOPK)
    )


# --- temperature-based mixture sampling --------------------------------------

#: temperature exponent alpha = 1/2 (sqrt smoothing): between alpha = 1
#: (corpus-proportional, ignores low-resource languages) and alpha -> 0
#: (uniform, over-samples tiny languages into repetition) — the
#: standard multilingual LM sampling family (XLM-R uses 0.7, mT5 0.3;
#: 1/2 admits EXACT integer arithmetic via isqrt, so the whole rate
#: computation is engine-portable without floats)
TEMP_BUDGET_PCT = 50
#: affine keep/drop hash coefficients (distinct from MIX_A/MIX_B so the
#: two mixture keys draw independent samples)
TEMP_A, TEMP_B = 16_807, 7


def _isqrt_sql(x: str) -> str:
    """Exact integer sqrt in portable SQL: float sqrt is correctly
    rounded but floor() of it can land one off at perfect-square
    boundaries and across engines; the two-sided CASE correction pins
    the TRUE isqrt in both engines regardless of the float seed.

    Overflow safety to the full int64 domain: the +1 probe's square
    would overflow for f = isqrt(2^63 − 1) = 3037000499, and neither
    engine guarantees short-circuit evaluation inside vectorized
    predicates — so the probe multiplies a LEAST-capped copy of f
    (safe under EAGER evaluation) and a separate conjunct decides
    whether the +1 branch applies (it never does at the cap: its
    square exceeds int64, hence exceeds x). f² itself is safe:
    f ≤ 3037000499 ⇒ f² < 2^63."""
    f = f"CAST(floor(sqrt(CAST({x} AS DOUBLE))) AS BIGINT)"
    g = f"(LEAST({f}, 3037000498) + 1)"
    return (
        f"CASE WHEN {f} * {f} > {x} THEN {f} - 1 "
        f"WHEN {f} <= 3037000498 AND {g} * {g} <= {x} THEN {f} + 1 "
        f"ELSE {f} END"
    )


def _temp_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len({TH.sql_words('text')}) AS BIGINT) AS tok
      FROM documents
    ),
    lt AS (
      -- NULL languages can never join back to the corpus, so exclude
      -- them from the totals too (and the explicit filter makes the
      -- Spark twin's two aggregate consumers share one exchange)
      SELECT lang, CAST(sum(tok) AS BIGINT) AS tok_l
      FROM toks WHERE lang IS NOT NULL GROUP BY lang
    ),
    sq AS (
      SELECT lang, tok_l, {_isqrt_sql('tok_l')} AS s_l
      FROM lt WHERE tok_l > 0
    ),
    tots AS (
      -- totals read off the tiny per-language table, NOT a second
      -- corpus scan (zero-token languages were filtered but contribute
      -- nothing to either sum)
      SELECT CAST(sum(s_l) AS BIGINT) AS s_tot,
             CAST(sum(tok_l) AS BIGINT) * {TEMP_BUDGET_PCT} // 100 AS b
      FROM sq
    ),
    rates AS (
      SELECT lang,
             CAST(LEAST(10000, (10000 * (b * s_l // s_tot)) // tok_l)
               AS BIGINT) AS rate_bp
      FROM sq, tots
    )
    SELECT t.doc_id, t.lang, t.tok, r.rate_bp
    FROM toks t JOIN rates r USING (lang)
    WHERE (t.doc_id * {TEMP_A} + {TEMP_B}) % {TH.MERSENNE_P} % 10000
          < r.rate_bp
    """


@query("mixture_temperature_sample", oracle=_temp_oracle())
def mixture_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling — `mixture_sample`'s sibling
    for when nobody hand-picks a target mixture: per-language keep
    rates derive from the DATA as p_l^alpha smoothing (alpha = 1/2,
    the XLM-R / mT5 multilingual-LM sampling family). Expected tokens
    from language l become budget · sqrt(tok_l) / Σ sqrt(tok_m) —
    high-resource languages are down-sampled, low-resource ones kept
    (up to the 10000 bp cap) — and membership is the usual
    reproducible affine hash on doc_id (distinct coefficients from
    mixture_sample, so the two samples are independent).

    ALL arithmetic is exact int64: sqrt enters only through an
    EXACT integer sqrt (floor(float sqrt) with a two-sided CASE
    correction — float sqrt is correctly rounded but its floor can sit
    one off at perfect-square boundaries, and a one-off s_l would shift
    every boundary document's membership), then rate_bp =
    min(10000, (10000 · (B·s_l div S)) div tok_l) exactly as written
    in both engines. Association note for 100 TB: B·s_l ≤ T^1.5 —
    compute (B·s_l div S) BEFORE the ·10000 (as here) and the product
    stays inside int64 up to ~10^12-token corpora; past that, divide B
    by S first at a precision cost of ≤ S ulps, or move to decimal.

    Scale shape (identical to mixture_sample): one partial-agg shuffle
    for per-language totals (|langs| rows), isqrt + share math on the
    tiny rate table, broadcast join back — the corpus itself is never
    shuffled; keep/drop is a per-row expression.
    """
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(TH.words_expr("text")).cast("long").alias("tok"),
    )
    lt = (
        toks.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.sum("tok").alias("tok_l"))
        .filter(F.col("tok_l") > 0)
    )
    sq = lt.withColumn("s_l", F.expr(_isqrt_sql("tok_l")))
    # both totals read off the tiny per-language table in ONE aggregate
    # — never an extra corpus-wide aggregate (a first cut recomputed
    # the budget with its own full sum(tok) pass). Catalyst still
    # materializes the lang aggregate subtree once per consumer (rates
    # + tots) absent a cache; both collapse map-side to |langs| rows,
    # and a production run over 100 TB would .cache() `toks` (or
    # persist lt) to make the corpus pay exactly one aggregate pass
    # plus the final broadcast join scan.
    tots = sq.agg(
        F.sum("s_l").alias("s_tot"),
        F.expr(f"sum(tok_l) * {TEMP_BUDGET_PCT} div 100").alias("b"),
    )
    rates = (
        sq.crossJoin(F.broadcast(tots))
        .select(
            "lang",
            F.least(
                F.lit(10000),
                F.expr("(10000 * ((b * s_l) div s_tot)) div tok_l"),
            ).alias("rate_bp"),
        )
    )
    keep = (
        F.col("doc_id") * TEMP_A + TEMP_B
    ) % TH.MERSENNE_P % 10000 < F.col("rate_bp")
    return (
        toks.join(F.broadcast(rates), "lang")
        .filter(keep)
        .select("doc_id", "lang", "tok", "rate_bp")
    )
