"""Scale-evidence lane: does each headline curation operator's runtime
grow the way its design claims when the corpus grows ×K?

The 100 TB argument for the bucketed paths (LSH dedup, IVF ANN dedup,
broadcast decontamination) is that cost grows ~linearly in corpus
size, while the exact all-pairs forms are Ω(n²) by definition. This
lane measures it instead of asserting it: the sf0.1 documents and
embeddings tables are blown up ×1/×2/×4 (×8 for the linear paths)
with per-copy DECORRELATED content — every word of copy i is prefixed
with a copy tag (so cross-copy shingles never collide) and embedding
arrays are rotated by i components (so cross-copy cosine ≈ 0). That
keeps the *duplicate structure per unit of data constant*: a blow-up
that copied text verbatim would grow near-dup cluster sizes with K and
measure cluster blow-up, not corpus scaling.

For each operator a power law t = c·K^e is fitted (least squares on
log t vs log K); the exponent e is the measured scaling. Fixed
per-query overhead (session, listing, codegen) biases e DOWNWARD at
this size, so linear-path exponents comfortably below ~1.3 and a clear
gap to the exact forms' exponents is the pass condition — exact values
are reported, not thresholded.

Writes ONE JSON line and BENCH_SCALE.json:
  {"metric": "scale_exponents", "exponents": {q: e}, "timings":
   {q: {K: sec}}, "ks": [...], "sf": 0.1}
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: keys whose design claims ~linear growth in corpus size
LINEAR = [
    "dedup_minhash_lsh",
    "dedup_embedding_ann",
    "decontaminate_ngram",
    "similarity_ivf",
    "text_quality",
    # round 11: end-anchored passage windowing — single-pass,
    # shuffle-free explode; the lane proves the ~n/S row multiplier
    # stays a constant factor, not a growing exponent
    "rag_passage_windows",
]
#: prefix-filter / banded joins: cost ∝ Σ df² over colliding tokens;
#: the decorrelated blow-up keeps per-token df constant, so these
#: should also measure ~linear — run at the shorter K ladder because
#: their absolute cost is higher
LINEAR_SHORT = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_simhash",
    "multimodal_phash_dedup",
    # round-5 additions whose ~linear claims need round-6 measurement:
    # span dedup is the gram-count shuffle + per-doc window; k-means is
    # a fixed number of fact passes with constant-size driver state
    "dedup_span_exact",
    "embedding_cluster_kmeans",
    # round 6: pair-chaining adds the df-capped gh self-join to the
    # span shape — the cap bounds pairs-per-gram, so still ~linear
    "dedup_span_variable",
    # round 9: the full BPE train+apply loop (shared _bpe_train with
    # apply_last) — per round one explode + one map-side-combined pair
    # count + a 1-row collect + a per-row rewrite, so ~linear with a
    # per-round fixed cost; encode exercises every traced merge
    "text_bpe_encode",
    # round 9: the batched trainer — same per-round shape (one explode
    # + one map-side-combined count + a bounded 64-row collect + ONE
    # chained-replace rewrite applying B merges), B x fewer rounds
    "text_bpe_batched",
]
#: exact all-pairs forms — Ω(n²) by nature; measured as the contrast
QUADRATIC = ["dedup_embedding"]
#: streaming state-store lane: k× distinct keys through the same
#: micro-batch timeline — state size scales, runtime should stay
#: ~linear (state ops are O(1) per row). Per-stream fixed overhead
#: (checkpoint dirs, store init, planning) is ~0.9 s and dominates at
#: fixture scale (measured: ×32 events cost +0.17 s over ×2), so a
#: power-law exponent would just fit the overhead; this lane instead
#: fits t = fixed + per_copy·k (affine) on an events-only blow-up and
#: reports the split — the linearity claim is the fit's residual, the
#: throughput claim is 1/per_copy.
STREAMING_SCALE = ["stream_window_tumbling", "stream_dedup"]
KS_STREAM = (2, 8, 32, 128)

KS_LINEAR = (1, 2, 4, 8)
KS_QUADRATIC = (1, 2, 4)
#: dedup_embedding_ann gets a deeper ladder: its r4 regression only
#: showed past the old 64-cell bank cap (saturation at ×4 of sf0.1 ⇒
#: super-linear ×4→×8), so the lane must reach well past where any
#: residual cap would saturate to prove the dynamic bank holds
KS_ANN = (1, 2, 4, 8, 16, 32)

#: doc_id / vec_id offset between copies — far above any fixture id
COPY_STRIDE = 100_000_000


def _docs_times_k(spark, k: int, tag_words: bool):
    """The ×k documents DataFrame every blow-up shares: doc_ids
    re-keyed by COPY_STRIDE; with ``tag_words``, every word of copy
    i > 0 gets a per-copy prefix so copies share NO vocabulary — the
    decorrelated mode (near-dup/pair/vocab structure per copy is the
    fixture's own, k times over); without it, copies keep the
    fixture's vocabulary — the shared_vocab mode. One definition
    (r11 review): three hand-rolled copies of this loop had to agree
    on COPY_STRIDE and the tag regex for lane receipts to compare."""
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    copies = []
    for i in range(k):
        c = docs.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * COPY_STRIDE)
        )
        if i > 0 and tag_words:
            c = c.withColumn(
                "text", F.regexp_replace("text", r"(\w+)", f"x{i}$1")
            )
        copies.append(c)
    blown = copies[0]
    for c in copies[1:]:
        blown = blown.unionByName(c)
    return blown


def docs_blowup_dir(spark, k: int, tag_words: bool, prefix: str) -> str:
    """Documents-only ×k staging dir: documents blown up, every other
    table symlinked (the bpedrift lane convention)."""
    from kafka_parquet_writer_spark.catalog import TABLES, table_path

    out = tempfile.mkdtemp(prefix=prefix)
    for t in TABLES:
        if t == "documents":
            continue
        os.symlink(table_path(SF_DIR, t), table_path(out, t))
    _docs_times_k(spark, k, tag_words).write.mode("overwrite").parquet(
        table_path(out, "documents")
    )
    return out


def build_blowup(spark, k: int) -> str:
    """Materialize an sf-dir with documents/embeddings blown up ×k
    (decorrelated per copy), all other tables symlinked."""
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.catalog import (
        TABLES,
        load_table,
        table_path,
    )

    out = tempfile.mkdtemp(prefix=f"kpws_scale_x{k}_")
    for t in TABLES:
        if t in ("documents", "embeddings", "events"):
            continue
        os.symlink(table_path(SF_DIR, t), table_path(out, t))

    # events ×k with re-keyed ids/users (feeds the z-order skip lane)
    _blow_events(load_table(spark, SF_DIR, "events"), k).write.mode(
        "overwrite"
    ).parquet(table_path(out, "events"))

    _docs_times_k(spark, k, tag_words=True).write.mode(
        "overwrite"
    ).parquet(table_path(out, "documents"))

    emb = load_table(spark, SF_DIR, "embeddings")
    copies = []
    for i in range(k):
        c = emb.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i * COPY_STRIDE)
        )
        if i > 0:
            # rotate components: same norm, cross-copy cosine ≈ 0 for
            # the synthetic vectors — IVF cell sizes stay uniform
            r = i % 64
            c = c.withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {r + 1}, 64 - {r}), "
                    f"slice(embedding, 1, {r}))"
                ),
            )
        copies.append(c)
    blown = copies[0]
    for c in copies[1:]:
        blown = blown.unionByName(c)
    blown.write.mode("overwrite").parquet(table_path(out, "embeddings"))
    return out


def _blow_events(ev, k: int):
    """events ×k with re-keyed event/user ids, explode-based (a k-way
    union plan gets expensive to analyze at k=128; one generator
    column is flat-cost at any k). Constant 32-file output layout so
    source parallelism never varies with k (x1 = 1 file / 1 read task
    vs x4 = 128 files / 32-way read measured as an INVERTED streaming
    scaling curve before this was pinned)."""
    from pyspark.sql import functions as F

    return (
        ev.withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1)))
        )
        .withColumn(
            "event_id",
            F.col("event_id")
            + F.col("i").cast("long") * F.lit(COPY_STRIDE).cast("long"),
        )
        .withColumn(
            "user_id",
            F.col("user_id")
            + F.col("i").cast("long") * F.lit(COPY_STRIDE).cast("long"),
        )
        .drop("i")
        .repartition(32)
    )


def build_embeddings_blowup(spark, k: int) -> str:
    """Embeddings-only ×k dir for the deep ANN ladder (other tables
    symlinked — the ANN key reads only embeddings). Same per-copy
    decorrelation (component rotation) as build_blowup; generator-
    based like _blow_events so a ×32 build is one flat plan, and
    written as 32 files so source parallelism is constant across k."""
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.catalog import (
        TABLES,
        load_table,
        table_path,
    )

    out = tempfile.mkdtemp(prefix=f"kpws_ascale_x{k}_")
    for t in TABLES:
        if t == "embeddings":
            continue
        os.symlink(table_path(SF_DIR, t), table_path(out, t))
    emb = load_table(spark, SF_DIR, "embeddings")
    (
        emb.withColumn(
            "i", F.explode(F.sequence(F.lit(0), F.lit(int(k) - 1)))
        )
        .withColumn(
            "vec_id",
            F.col("vec_id")
            + F.col("i").cast("long") * F.lit(COPY_STRIDE).cast("long"),
        )
        .withColumn("r", F.col("i") % 64)
        .withColumn(
            "embedding",
            F.expr(
                "concat(slice(embedding, r + 1, 64 - r), "
                "slice(embedding, 1, r))"
            ),
        )
        .drop("i", "r")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(table_path(out, "embeddings"))
    )
    return out


def build_events_blowup(spark, k: int) -> str:
    """Events-only ×k dir for the streaming lane (other tables
    symlinked from the base fixture — the streaming keys read only
    events). Constant 32-file layout at every k."""
    from kafka_parquet_writer_spark.catalog import (
        TABLES,
        load_table,
        table_path,
    )

    out = tempfile.mkdtemp(prefix=f"kpws_sscale_x{k}_")
    for t in TABLES:
        if t == "events":
            continue
        os.symlink(table_path(SF_DIR, t), table_path(out, t))
    _blow_events(load_table(spark, SF_DIR, "events"), k).write.mode(
        "overwrite"
    ).parquet(table_path(out, "events"))
    return out


def zorder_skip_lane(spark, dirs: dict[int, str]) -> dict:
    """Data-skipping at scale: events ×k land fragmented (16·k files),
    OPTIMIZE ZORDER rewrites them, then a fixed 2-D slice
    (user_id ∈ [3,7] of the base key range, vc ∈ [5000,15000]) is
    answered through the log's file pruning. The claim under test: the
    PRUNED FRACTION stays ~constant as the table grows — skipping is
    scale-invariant, so slice cost grows with the slice, not the
    table. Records per-k file totals, per-dimension candidates, and
    slice-read wall time. The table build + slice go through the SAME
    helpers as the driver-verified `table_zorder_compact` key."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.catalog import load_table
    from kafka_parquet_writer_spark.functions.portable import cents
    from kafka_parquet_writer_spark.operators.table_queries import (
        zorder_slice_read,
        zorder_slice_stats,
    )

    out: dict[str, dict] = {"files": {}, "candidates": {}, "slice_sec": {}}
    for k in sorted(dirs):
        ev = load_table(spark, dirs[k], "events").select(
            "event_id", "user_id", cents(F.col("value")).alias("vc")
        )
        t, st = zorder_slice_stats(
            spark, ev, n_frag=16 * k, n_files=16 * k
        )
        t0 = time.time()
        zorder_slice_read(spark, t).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.time() - t0, 3)
        out["files"][str(k)] = st["total"]
        out["candidates"][str(k)] = {
            "user_id": st["cand_u"], "vc": st["cand_v"],
        }
        out["slice_sec"][str(k)] = dt
        print(
            f"zorder x{k}: files={st['total']} cand_u={st['cand_u']} "
            f"cand_v={st['cand_v']} slice={dt}s",
            file=sys.stderr,
        )
        shutil.rmtree(t.dir, ignore_errors=True)
    return out


def fit_affine(points: dict[int, float]) -> dict:
    """Least-squares t = fixed + per_copy·k; returns the split plus
    R² of the affine model (linearity evidence)."""
    ks = sorted(points)
    xs = [float(k) for k in ks]
    ys = [points[k] for k in ks]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    b = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    a = my - b * mx
    ss_res = sum((y - (a + b * x)) ** 2 for x, y in zip(xs, ys))
    ss_tot = sum((y - my) ** 2 for y in ys) or 1e-12
    return {
        "fixed_sec": round(a, 3),
        "per_copy_sec": round(b, 5),
        "r2": round(1 - ss_res / ss_tot, 4),
    }


def fit_exponent(points: dict[int, float]) -> float:
    xs = [math.log(k) for k in sorted(points)]
    ys = [math.log(points[k]) for k in sorted(points)]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return round(num / den, 3)


def build_random_embeddings(spark, n: int) -> str:
    """Synthetic isotropic embeddings table with n rows for the IMI
    ceiling lane. NOT a blow-up of the fixture: the fixture rotation
    trick decorrelates only 64 copies (copies i and i+64 would be
    bit-identical ⇒ every vector gains ~n/640k exact duplicates and
    the verify measures duplicate explosion, not scaling). 64 uniform
    [-0.5, 0.5) draws per row, JVM-side, normalized by the operator's
    own _unit_vectors pass; random-pair cosine concentrates at
    ±1/√64, so the 0.4 threshold keeps output sparse."""
    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark.catalog import table_path

    out = tempfile.mkdtemp(prefix=f"kpws_imiscale_n{n}_")
    (
        spark.range(n)
        .repartition(32)
        .select(
            F.col("id").alias("vec_id"),
            F.array(
                *[(F.rand(seed=i) - F.lit(0.5)).cast("float") for i in range(64)]
            ).alias("embedding"),
        )
        .write.mode("overwrite")
        .parquet(table_path(out, "embeddings"))
    )
    return out


def build_clustered_embeddings(
    spark, n_base: int, n_dup: int, clusters: int, sigma: float, eps: float
) -> tuple[str, list[tuple[int, int]]]:
    """Synthetic CLUSTERED embeddings corpus + planted near-dup pairs.

    Every committed ANN lane so far ran on isotropic vectors — the one
    regime where a seeded random centroid bank cannot skew. Real
    embedding corpora cluster (crawl snapshots, version families,
    topical modes), which is exactly the regime the dedup docstrings
    invoke; this builder makes that corpus deterministically:

    - `clusters` unit cluster centers (seeded randn, d=64), with
      ZIPF-ISH SIZES: point i belongs to cluster ⌊C·(i/n)²⌋, so the
      head cluster holds ~10% of the corpus and the tail ~0.5% — real
      corpora have head topics, and the head is where a seeded bank's
      hot-cell quadratic bites;
    - base point i = normalize(center + sigma·g_i) with g_i from a
      per-row Philox keyed by vec_id. NOTE sigma is PER-DIMENSION:
      the noise VECTOR norm is sigma·√64, so pairwise intra-cluster
      cosine ≈ 1/(1+64σ²) — sigma = 1/16 puts it ≈ 0.80, tight
      real-corpus geometry below the lane's dup threshold (the first
      cut of this lane used sigma = 1/3 thinking in vector norms and
      produced a nearly isotropic corpus);
    - `n_dup` planted dups: vec_id n_base+j copies base (37·j mod
      n_base) plus eps-noise (again per-dim; eps = 0.0125 → dup
      cosine ≈ 1/(1+64ε²) ≈ 0.990, above the threshold). The
      (base, dup) list is the ground truth for recall.

    Generation is distributed (mapInPandas over spark.range) and
    keyed by vec_id, so any partitioning yields the same corpus.
    """
    import numpy as np

    from kafka_parquet_writer_spark.catalog import table_path

    rng = np.random.RandomState(777)
    centers = rng.randn(clusters, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def gen(batches, centers=centers):
        import pandas as pd

        def base_vec(i: int):
            g = np.random.Generator(np.random.Philox(key=int(i)))
            cl = min(clusters - 1, int(clusters * (i / n_base) ** 2))
            x = centers[cl] + sigma * g.standard_normal(64)
            return x / np.linalg.norm(x)

        for pdf in batches:
            out = []
            ids = pdf["id"].to_numpy(dtype=np.int64)
            for i in ids:
                if i < n_base:
                    v = base_vec(i)
                else:
                    b = base_vec((37 * (i - n_base)) % n_base)
                    g = np.random.Generator(np.random.Philox(key=int(i)))
                    v = b + eps * g.standard_normal(64)
                    v = v / np.linalg.norm(v)
                out.append(v.astype(np.float32))
            yield pd.DataFrame({"vec_id": ids, "embedding": out})

    out_dir = tempfile.mkdtemp(prefix=f"kpws_skew_n{n_base + n_dup}_")
    (
        spark.range(n_base + n_dup)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<float>")
        .write.mode("overwrite")
        .parquet(table_path(out_dir, "embeddings"))
    )
    planted = [
        ((37 * j) % n_base, n_base + j) for j in range(n_dup)
    ]
    return out_dir, planted


def clustered_skew_lane() -> None:
    """Opt-in lane (`python bench_scale.py skew`): measure seeded vs
    TRAINED centroid banks on a CLUSTERED corpus — the one untested
    assumption in the 100 TB dedup story (r6 verdict): every committed
    bank is seeded isotropic randn, and no lane had measured
    cell-population skew where the data actually clusters.

    For each bank the lane reports, at the operator's own geometry
    (m = n/target cells, probe-1 Voronoi populations + the probe-4
    populations the verify actually runs on):
      max_cell, Σcell² (the verify's pair budget), and
      max_cell²/Σcell² (hot-cell concentration — the fraction of all
      pairwise work sitting in the single largest cell);
      wall time of the full assignment+verify+distinct pipeline at a
      0.95 threshold (clustered corpora verify at tight thresholds;
      0.4 on cos≈0.9 clusters would emit every intra-cluster pair);
      recall of the planted near-dup pairs.
    The trained bank is train_centroid_bank's 5 Lloyd passes from the
    SAME seeded bank (train time reported separately — at 100 TB the
    trainer runs on a sample). Merged into BENCH_SCALE.json under
    "clustered_skew"."""
    import shutil

    for var in (
        "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"
    ):
        os.environ.setdefault(var, "1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.operators import dedup as D

    N_BASE, N_DUP, CLUSTERS = 100_000, 2_000, 100
    # sigma/eps are PER-DIMENSION (see build_clustered_embeddings):
    # intra-cluster cos ≈ 1/(1+64σ²) ≈ 0.80, planted-dup cos ≈ 0.99,
    # threshold between them with margin on both sides
    # 10 rounds: split-reseeding needs ~log2(816/100) ≈ 4 rounds just
    # to activate the bank on a 100-mode corpus; the remaining rounds
    # are the actual Lloyd refinement (5 rounds measured: hot-share
    # improved 3.7x but Σcell² only 16% — unconverged)
    SIGMA, EPS, THRESHOLD, ROUNDS = 1.0 / 16.0, 0.0125, 0.95, 10

    spark = get_spark("bench_scale_skew")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    d, planted = build_clustered_embeddings(
        spark, N_BASE, N_DUP, CLUSTERS, SIGMA, EPS
    )
    out: dict[str, object] = {
        "n": N_BASE + N_DUP,
        "clusters": CLUSTERS,
        "sigma": round(SIGMA, 4),
        "eps": EPS,
        "threshold": THRESHOLD,
        "planted_pairs": N_DUP,
        "train_rounds": ROUNDS,
    }
    try:
        emb = D._unit_vectors(spark, d)
        n_total = N_BASE + N_DUP
        m = max(D.ANN_DEDUP_CELLS, n_total // D.ANN_DEDUP_TARGET_PER_CELL)
        out["m"] = m
        seeded = D._dedup_centroids(m)
        t0 = time.time()
        trained = D.train_centroid_bank(emb, seeded, ROUNDS)
        out["train_sec"] = round(time.time() - t0, 3)
        print(f"trained {m} cells in {out['train_sec']}s", file=sys.stderr)

        planted_df = spark.createDataFrame(planted, "v1 long, v2 long")
        verify = D._make_verifier(THRESHOLD)

        def pairs_for(bank):
            return (
                emb.mapInPandas(
                    D._make_assigner(bank),
                    "vec_id long, u array<double>, cell int",
                )
                .groupBy("cell")
                .applyInPandas(verify, "v1 long, v2 long, cos double")
                .distinct()
            )

        modes = (("seeded", seeded), ("trained", trained))
        results: dict[str, dict] = {tag: {} for tag, _ in modes}
        for tag, bank in modes:
            stats = results[tag]
            for probe, pfx in ((1, "p1"), (D.ANN_DEDUP_PROBE, "p4")):
                pops = [
                    r["count"]
                    for r in emb.mapInPandas(
                        D._make_assigner(bank, probe=probe),
                        "vec_id long, u array<double>, cell int",
                    )
                    .groupBy("cell")
                    .count()
                    .collect()
                ]
                sumsq = float(sum(p * p for p in pops))
                stats[f"{pfx}_max_cell"] = max(pops)
                stats[f"{pfx}_sumsq"] = sumsq
                stats[f"{pfx}_hot_share"] = round(
                    max(pops) ** 2 / sumsq, 4
                )
                stats[f"{pfx}_cells_used"] = len(pops)
        # one untimed warm-up (python worker pool + codegen), then the
        # two modes INTERLEAVED min-of-2 — the first cut timed seeded
        # first and charged it the whole pool fork cost
        run(pairs_for(seeded))
        for _pass in range(2):
            for tag, bank in modes:
                t0 = time.time()
                run(pairs_for(bank))
                dt = time.time() - t0
                prev = results[tag].get("pairs_sec")
                results[tag]["pairs_sec"] = round(
                    dt if prev is None else min(prev, dt), 3
                )
        for tag, bank in modes:
            pairs = pairs_for(bank)
            results[tag]["pairs_out"] = pairs.count()
            found = planted_df.join(
                pairs, ["v1", "v2"], "left_semi"
            ).count()
            results[tag]["recall"] = round(found / N_DUP, 4)
            out[tag] = results[tag]
            print(f"{tag}: {results[tag]}", file=sys.stderr)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["clustered_skew"] = out
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"clustered_skew": out}))


def imi_ceiling_lane() -> None:
    """Opt-in lane (`python bench_scale.py imi`): measure the ANN dedup
    operator PAST the 64k-cell flat-assignment ceiling — the scale the
    committed ladder (×32 of sf0.1 = 160k vectors, m = 1280) never
    reaches. Three synthetic points 2.0625M / 4.125M / 8.25M vectors;
    the 8.25M point needs m = 66 000 > ANN_DEDUP_MAX_LITERAL_CELLS, so
    the UNMODIFIED operator takes its two-level IMI handoff there. The
    two smaller points run twice: their natural flat path (the n·m
    gemm whose cost is ∝ n²/target — the term the IMI removes) and the
    IMI path forced via the module ceiling, giving the IMI curve's own
    doubling exponents plus a flat-vs-IMI contrast at equal n. One
    timed pass per point (the points are minutes each; cross-pass
    noise is small relative to the doubling signal). Merges results
    into BENCH_SCALE.json under "imi_ceiling" without touching the
    main lanes."""
    import shutil

    # BLAS thread pinning BEFORE the JVM forks its python daemon: with
    # 32 workers each defaulting to all-core OpenBLAS, the flat
    # point's gemms ran 1024 threads and made zero progress in 8 min.
    # One thread per worker is the right shape on local[32].
    for var in (
        "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"
    ):
        os.environ.setdefault(var, "1")
    # keep glibc from mmap/munmap-ing the assigners' large score
    # buffers every batch (the 32-worker page-fault storm): big
    # allocations stay on the heap and get reused
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.operators import dedup as D
    from kafka_parquet_writer_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    spark = get_spark("bench_scale_imi")
    # The flat contrast at m = 16.5k/33k cells would otherwise build a
    # (10000 × m) float64 score matrix per Arrow batch per worker
    # (1.3-2.6 GB × 32 workers — memory thrash, the second half of the
    # zero-progress stall). 2048-row batches bound it at ~270-540 MB
    # per worker; the IMI batches are tiny either way.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    n8 = 8_250_000
    points = [n8 // 4, n8 // 2, n8]
    out: dict[str, dict] = {"flat_sec": {}, "imi_sec": {}, "cells": {}}
    for n in points:
        d = build_random_embeddings(spark, n)
        try:
            m = max(
                D.ANN_DEDUP_CELLS, n // D.ANN_DEDUP_TARGET_PER_CELL
            )
            out["cells"][str(n)] = m
            if m <= D.ANN_DEDUP_MAX_LITERAL_CELLS:
                t0 = time.time()
                run(QUERIES["dedup_embedding_ann"](spark, d))
                out["flat_sec"][str(n)] = round(time.time() - t0, 3)
                print(
                    f"flat n={n} m={m}: {out['flat_sec'][str(n)]}s",
                    file=sys.stderr,
                )
            old = D.ANN_DEDUP_MAX_LITERAL_CELLS
            D.ANN_DEDUP_MAX_LITERAL_CELLS = 1  # force the IMI path
            try:
                t0 = time.time()
                run(QUERIES["dedup_embedding_ann"](spark, d))
                out["imi_sec"][str(n)] = round(time.time() - t0, 3)
            finally:
                D.ANN_DEDUP_MAX_LITERAL_CELLS = old
            forced = " (natural handoff)" if m > old else " (forced)"
            print(
                f"imi  n={n} m={m}: {out['imi_sec'][str(n)]}s{forced}",
                file=sys.stderr,
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)
    imi = {int(k): v for k, v in out["imi_sec"].items()}
    out["imi_exponent"] = fit_exponent(
        {k // (n8 // 4): v for k, v in imi.items()}
    )
    ks = sorted(imi)
    out["imi_last_doubling_exponent"] = round(
        math.log(imi[ks[-1]] / imi[ks[-2]]) / math.log(2), 3
    )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["imi_ceiling"] = out
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"imi_ceiling": out}))


def _completed_stages(spark) -> dict[tuple[int, int], dict]:
    """Per-stage metrics from the session's own status REST API
    (local UI, no event-log parsing): (stageId, attemptId) ->
    {name, wall_sec, cpu_sec, shuffle_read_mb, shuffle_write_mb,
    input_mb, tasks}. Keyed by attempt too (r7 ADVICE): a retried
    stage reports one record per attempt and keying by stageId alone
    would overwrite the first attempt's task/cpu receipts."""
    import datetime as dt
    import urllib.request

    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.loads(r.read().decode())

    def ts(s):
        try:
            return dt.datetime.strptime(
                s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
            ).timestamp()
        except (ValueError, AttributeError):
            return None

    out = {}
    for st in stages:
        if st.get("status") != "COMPLETE":
            continue
        sub, comp = ts(st.get("submissionTime")), ts(st.get("completionTime"))
        out[(st["stageId"], st.get("attemptId", 0))] = {
            "name": st.get("name", "")[:80],
            "wall_sec": round(comp - sub, 2) if sub and comp else None,
            # task-OCCUPANCY seconds (includes blocking on python
            # workers and I/O) vs actual JVM CPU seconds — the gap is
            # time the executor thread spent WAITING
            "task_sec": round(st.get("executorRunTime", 0) / 1000.0, 1),
            "jvm_cpu_sec": round(
                st.get("executorCpuTime", 0) / 1e9, 1
            ),
            "gc_sec": round(st.get("jvmGcTime", 0) / 1000.0, 1),
            "shuffle_write_sec": round(
                st.get("shuffleWriteTime", 0) / 1e9, 1
            ),
            "shuffle_read_mb": round(
                st.get("shuffleReadBytes", 0) / 1e6, 1
            ),
            "shuffle_write_mb": round(
                st.get("shuffleWriteBytes", 0) / 1e6, 1
            ),
            "input_mb": round(st.get("inputBytes", 0) / 1e6, 1),
            "tasks": st.get("numTasks", 0),
        }
    return out


def imi_stage_receipts_lane() -> None:
    """Opt-in lane (`python bench_scale.py imistages`): per-STAGE
    receipts for the IMI ceiling points. The r6 lane measured a 1.244
    doubling exponent for the IMI path and SURVEY attributed the
    super-linearity to the probe shuffle + Arrow ser/de against one
    box's page cache (assignment flops being ~1 s) — a plausible
    decomposition but not a measurement (r6 verdict). This lane runs
    the 4.125M and 8.25M IMI points once each and records every
    stage's wall/cpu/shuffle-bytes from the status API, so the claim
    becomes a table: whichever stage's wall time doubles
    super-linearly IS the bottleneck. Merged into BENCH_SCALE.json
    under "imi_stage_receipts"."""
    import shutil

    for var in (
        "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"
    ):
        os.environ.setdefault(var, "1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.operators import dedup as D
    from kafka_parquet_writer_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    # the status REST API needs the UI server, which sessions normally
    # disable; its overhead is irrelevant next to minutes-long points.
    # The 2048-row Arrow batch clamp was inherited from the imi_ceiling
    # lane (where it protects the FLAT path's giant score matrices) and
    # then MEASURED for the IMI path itself: at Spark's default 10k
    # batches the same points run 373.0/684.3 s vs 316.8/441.2 s
    # clamped (batch_size_experiment in BENCH_SCALE.json) — the bigger
    # per-batch object arrays and temporaries cost more than the saved
    # per-batch overhead (the malloc/page-cache wall again), so the
    # clamp stays, now by receipt rather than inheritance.
    spark = get_spark(
        "bench_scale_imistages",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    n8 = 8_250_000
    out: dict[str, object] = {}
    # warm-up: one small IMI pass first — forks the full python worker
    # pool and touches every code path, so the first measured point
    # does not carry the fork/allocation cold-start (the 5-run
    # protocols measure run 1 at ~2.5x steady state; r6's imi lane was
    # implicitly warmed by the flat run preceding it at the same n)
    wd = build_random_embeddings(spark, 500_000)
    try:
        old = D.ANN_DEDUP_MAX_LITERAL_CELLS
        D.ANN_DEDUP_MAX_LITERAL_CELLS = 1
        try:
            run(QUERIES["dedup_embedding_ann"](spark, wd))
        finally:
            D.ANN_DEDUP_MAX_LITERAL_CELLS = old
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    for n in (n8 // 2, n8):
        d = build_random_embeddings(spark, n)
        try:
            before = set(_completed_stages(spark))
            old = D.ANN_DEDUP_MAX_LITERAL_CELLS
            D.ANN_DEDUP_MAX_LITERAL_CELLS = 1  # force the IMI path
            try:
                t0 = time.time()
                run(QUERIES["dedup_embedding_ann"](spark, d))
                total = round(time.time() - t0, 2)
            finally:
                D.ANN_DEDUP_MAX_LITERAL_CELLS = old
            after = _completed_stages(spark)
            stages = [
                {"stageId": sid, "attemptId": att, **after[(sid, att)]}
                for sid, att in sorted(set(after) - before)
            ]
            out[str(n)] = {"total_sec": total, "stages": stages}
            print(f"imi n={n}: {total}s", file=sys.stderr)
            for st in stages:
                print(f"  {st}", file=sys.stderr)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["imi_stage_receipts"] = out
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"imi_stage_receipts": out}))


def verify_ab_lane() -> None:
    """Opt-in lane (`python bench_scale.py verifyab`): SAME-BOX-STATE
    interleaved comparison of the two surviving large-corpus verify
    plans at the 4.125M IMI point — per-cell groupBy("cell")
    applyInPandas (shipped) vs bucketed groupBy(cell % 1024) with a
    multi-cell verifier per group.

    Why interleaved: the first round-7 comparison ran the three
    verify forms in SEPARATE lane invocations ~25 min apart, and the
    box degraded monotonically between them (khugepaged THP
    compaction climbing to ~60% of a core after a day of heavy JVM
    churn — the per-cell plan re-measured 3× its own committed
    receipt on IDENTICAL code). Sequential cross-run comparisons on
    this box are load-noise-dominated; A/B/A/B within one session on
    one shared dataset is the only trustworthy ordering. Records
    per-run wall, the verify stage's task/cpu/gc seconds, and the
    1-min loadavg before each run, under "verify_ab_experiment"."""
    import shutil

    for var in (
        "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"
    ):
        os.environ.setdefault(var, "1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")

    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.catalog import load_table
    from kafka_parquet_writer_spark.operators import dedup as D
    from kafka_parquet_writer_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    spark = get_spark(
        "bench_scale_verifyab",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm-up: small forced-IMI pass through the shipped operator
    wd = build_random_embeddings(spark, 500_000)
    try:
        old = D.ANN_DEDUP_MAX_LITERAL_CELLS
        D.ANN_DEDUP_MAX_LITERAL_CELLS = 1
        try:
            run(QUERIES["dedup_embedding_ann"](spark, wd))
        finally:
            D.ANN_DEDUP_MAX_LITERAL_CELLS = old
    finally:
        shutil.rmtree(wd, ignore_errors=True)

    n = int(os.environ.get("SPARK_GRAFT_VERIFYAB_N", 4_125_000))
    d = build_random_embeddings(spark, n)

    def probes():
        # the IMI branch's own assignment (raw float32 input form),
        # rebuilt per run so each variant pays identical upstream cost
        m = max(D.ANN_DEDUP_CELLS, n // D.ANN_DEDUP_TARGET_PER_CELL)
        side = int(math.ceil(math.sqrt(m)))
        raw = load_table(spark, d, "embeddings").select(
            "vec_id", F.col("embedding").alias("u")
        )
        return raw.mapInPandas(
            D._make_imi_assigner(side, side, normalize=True, raw_u=True),
            "vec_id long, u array<float>, cell long",
        )

    def percell(p):
        # the superseded per-cell form, kept lane-local so the A/B
        # stays reproducible after the operator shipped the winner
        return (
            p.groupBy("cell")
            .applyInPandas(
                D._make_verifier(normalize=True),
                "v1 long, v2 long, cos double",
            )
            .distinct()
        )

    def bucketed(p):
        # the shipped plan (dedup.py::_raw_verify), sized like the
        # IMI branch sizes it
        m = max(D.ANN_DEDUP_CELLS, n // D.ANN_DEDUP_TARGET_PER_CELL)
        side = int(math.ceil(math.sqrt(m)))
        return D._raw_verify(p, cells=side * side)

    out: list[dict] = []
    try:
        for label, plan in (
            ("percell", percell),
            ("bucket", bucketed),
            ("percell", percell),
            ("bucket", bucketed),
        ):
            load1 = open("/proc/loadavg").read().split()[0]
            before = set(_completed_stages(spark))
            t0 = time.time()
            run(plan(probes()))
            total = round(time.time() - t0, 2)
            after = _completed_stages(spark)
            new = [
                {"stageId": sid, "attemptId": att, **after[(sid, att)]}
                for sid, att in sorted(set(after) - before)
            ]
            # the verify stage is the one that reads the probe shuffle;
            # if the REST snapshot caught no new COMPLETE stage (r7
            # ADVICE), record nulls instead of crashing the lane
            ver = (
                max(new, key=lambda s: s["shuffle_read_mb"])
                if new
                else None
            )
            rec = {
                "variant": label,
                "total_sec": total,
                "loadavg_before": float(load1),
                "verify_wall_sec": ver["wall_sec"] if ver else None,
                "verify_task_sec": ver["task_sec"] if ver else None,
                "verify_jvm_cpu_sec": ver["jvm_cpu_sec"] if ver else None,
                "verify_gc_sec": ver["gc_sec"] if ver else None,
            }
            out.append(rec)
            print(json.dumps(rec), file=sys.stderr)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    prev = blob.get("verify_ab_experiment", {})
    if "runs" in prev:  # legacy single-point shape -> re-key by its n
        prev = {str(prev["n"]): prev["runs"]}
    prev[str(n)] = out
    blob["verify_ab_experiment"] = prev
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"verify_ab_experiment": {str(n): out}}))


def subseq_prune_lane() -> None:
    """Opt-in lane (`python bench_scale.py subseq`): does LB-style
    prefix pruning pay for the subsequence-search family in a Spark
    codegen scan? The production key uses L = 8, where the distance is
    8 flops/row and pruning can only add branching; the question is
    whether a LONGER query length (L = 64, the UCR-benchmark regime)
    flips the verdict. Two plans over the same per-user window
    explode (events ×16 of the bench fixture):

      full    — z-normalize, accumulate all L distance terms, filter
                d2 < TH at the end.
      pruned  — accumulate the first 8 terms; only rows whose prefix
                (itself a LOWER BOUND of d2 — terms are non-negative)
                stays below TH evaluate the remaining L−8 terms
                (CASE WHEN branches lazily per row in codegen).

    The mean/std pass is O(L) either way, so pruning bounds the save
    to the distance fraction; the threshold is set selective (most
    windows exceed it within the prefix) — the regime pruning was
    invented for. Regime caveat, measured before trusting: the lane
    uses the array + higher-order-function form (slice/zip_with/
    aggregate) a long-L implementation would ship — HOF lambdas are
    INTERPRETED, not codegen (~7 µs/term measured), which is exactly
    why per-term work is expensive enough here for pruning to matter;
    the production L = 8 key uses flat lag columns in codegen, where
    the whole distance costs less than one lambda call. Merged into
    BENCH_SCALE.json under "subseq_prune_experiment": per (L, variant)
    min-of-2 wall seconds and the (identical) match counts as a
    correctness cross-check."""
    import shutil

    import numpy as np

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.catalog import load_table

    spark = get_spark("subseq_lane")
    k = 4
    d = build_events_blowup(spark, k)
    out: dict = {"k": k, "points": []}
    try:
        from pyspark.sql import functions as F

        ev = (
            load_table(spark, d, "events")
            .filter(F.col("value").isNotNull())
            .select(
                "user_id",
                F.unix_micros("ts").alias("tu"),
                "event_id",
                F.floor(F.col("value") * 100.0 + F.lit(0.5))
                .cast("long")
                .alias("vc"),
            )
        )
        # cache the mined series OUTSIDE the timed region: the
        # experiment measures the window+distance scan (where pruning
        # acts), not the shared groupBy+collect_list mining both
        # variants pay identically
        series = ev.groupBy("user_id").agg(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(tu, event_id, vc))), x -> x.vc)"
            ).alias("vs")
        ).cache()
        out["n_series"] = series.count()

        def plans(L: int, th: float, q: list):
            qlit = "array(" + ", ".join(f"{v}D" for v in q) + ")"
            base = series.filter(F.size("vs") >= L).select(
                F.expr(
                    f"explode(transform(sequence(1, size(vs) - {L} + 1),"
                    f" i -> slice(vs, i, {L})))"
                ).alias("win")
            ).select(
                "win",
                (
                    F.expr("aggregate(win, 0L, (a, x) -> a + x)")
                    / F.lit(float(L))
                ).alias("mn"),
            ).select(
                "win",
                "mn",
                F.sqrt(
                    F.expr(
                        "aggregate(win, 0D, (a, x) -> a + (x - mn) *"
                        " (x - mn))"
                    )
                    / F.lit(float(L))
                ).alias("sd"),
            ).filter(F.col("sd") > 0)
            def zq(win_e: str, q_e: str) -> str:
                # term arrays are built from PRE-SLICED inputs so the
                # pruned plan never materializes the tail terms for
                # rows the prefix already rejected
                return (
                    f"zip_with({win_e}, {q_e}, (x, q) -> "
                    f"((x - mn) / sd - q) * ((x - mn) / sd - q))"
                )

            full = base.select(
                F.expr(
                    f"aggregate({zq('win', qlit)}, 0D, (a, t) -> a + t)"
                ).alias("d2")
            ).filter(F.col("d2") < th)
            pre_zq = zq(f"slice(win, 1, 8)", f"slice({qlit}, 1, 8)")
            rest_zq = zq(
                f"slice(win, 9, {L} - 8)", f"slice({qlit}, 9, {L} - 8)"
            )
            pruned = base.select(
                F.expr(
                    f"aggregate({pre_zq}, 0D, (a, t) -> a + t)"
                ).alias("pre"),
                "win",
                "mn",
                "sd",
            ).select(
                F.when(F.col("pre") >= th, F.lit(None).cast("double"))
                .otherwise(
                    F.col("pre")
                    + F.expr(
                        f"aggregate({rest_zq}, 0D, (a, t) -> a + t)"
                    )
                )
                .alias("d2")
            ).filter(F.col("d2") < th)
            return {"full": full, "pruned": pruned}

        rng = np.random.RandomState(7)
        for L, th in ((8, 4.0), (64, 8.0)):
            walk = np.cumsum(rng.randn(L))
            z = (walk - walk.mean()) / walk.std()
            q = [round(float(v), 6) for v in z]
            rec: dict = {"L": L, "thresh": th}
            for label, df in plans(L, th, q).items():
                best, n = None, None
                for _ in range(2):
                    t0 = time.time()
                    n = df.count()
                    dt = time.time() - t0
                    best = dt if best is None else min(best, dt)
                rec[label + "_sec"] = round(best, 3)
                rec[label + "_matches"] = int(n)
                print(f"L={L} {label}: {best:.3f}s ({n} matches)",
                      file=sys.stderr)
            rec["speedup"] = round(rec["full_sec"] / rec["pruned_sec"], 3)
            out["points"].append(rec)
    finally:
        shutil.rmtree(d, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["subseq_prune_experiment"] = out
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"subseq_prune_experiment": out}))


def bpe_drift_lane() -> None:
    """Opt-in lane (`python bench_scale.py bpedrift`): scale receipts
    for stream_bpe_vocab_drift's two claims — wall-clock is ~affine in
    corpus size (streaming fixed overhead + per-copy work, the
    STREAMING_SCALE convention), and the state-store footprint is
    O(distinct pairs × epochs), bounded by VOCABULARY, not corpus.
    Two blow-up modes separate those:

      decorrelated — every copy's words are tagged per copy (the
        build_blowup convention), so distinct pairs grow ∝ k: the
        honest WORST case, state must grow linearly.
      shared_vocab — copies keep the fixture's vocabulary (doc_ids
        re-keyed only), so distinct pairs stay ~constant while the
        token stream grows ∝ k: the typical-corpus case the
        "state bounded by observed-vocab²" docstring claim rests on.

    Per (mode, k): min-of-2 end-to-end wall of the declared key, plus
    batch-computed receipts (state rows = distinct (epoch, a, b),
    distinct pairs, token count). Merged into BENCH_SCALE.json under
    "bpe_drift_experiment"."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.catalog import load_table
    from kafka_parquet_writer_spark.functions import texthash as TH
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    spark = get_spark("bpe_drift_lane")
    B = SQ.BPE_DRIFT_EPOCHS
    # warm up codegen + the python worker pool + streaming machinery
    # once, outside any timed point (the first streaming run pays
    # several seconds of one-time setup that poisoned the x1 point and
    # the affine fit in the first cut of this lane)
    SQ.stream_bpe_vocab_drift(spark, SF_DIR).count()

    def build_docs(k: int, tag_words: bool) -> str:
        return docs_blowup_dir(
            spark, k, tag_words, prefix=f"kpws_bpedrift_x{k}_"
        )

    out: dict = {"epochs": B, "points": []}
    walls: dict[str, dict[int, float]] = {}
    # Build every dir up front, then time in INTERLEAVED passes over
    # all (mode, k) points — this box degrades monotonically under JVM
    # churn (khugepaged THP compaction), so back-to-back per-point
    # timing loads the later points unfairly; min over interleaved
    # passes is the bench.py convention. Pass 1 additionally pays each
    # point's one-time stage split; min-of-3 absorbs it.
    points = [
        (mode, k)
        for mode in ("decorrelated", "shared_vocab")
        for k in (1, 2, 4, 8)
    ]
    dirs = {
        (mode, k): build_docs(k, tag_words=(mode == "decorrelated"))
        for mode, k in points
    }
    best: dict[tuple, float] = {}
    n_outs: dict[tuple, int] = {}
    for _pass in range(3):
        for p in points:
            t0 = time.time()
            n_outs[p] = SQ.stream_bpe_vocab_drift(spark, dirs[p]).count()
            dt = time.time() - t0
            best[p] = min(best.get(p, dt), dt)
            print(
                f"{p[0]} x{p[1]}: {dt:.3f}s (pass {_pass + 1})",
                file=sys.stderr,
            )
    for mode, k in points:
        d = dirs[(mode, k)]
        try:
            lo, hi = (
                load_table(spark, d, "documents")
                .agg(F.min("doc_id"), F.max("doc_id"))
                .first()
            )
            span = (hi - lo + B) // B
            w = (
                load_table(spark, d, "documents")
                .select(
                    F.expr(f"(doc_id - {lo}) div {span}").alias("epoch"),
                    TH.words_expr("text").alias("ws"),
                )
                .filter(F.size("ws") >= 2)
            )
            pairs = w.select(
                "epoch",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ws) - 1),"
                        " i -> struct(ws[i - 1] AS a, ws[i] AS b))"
                    )
                ).alias("p"),
            ).select("epoch", "p.a", "p.b")
            state_rows = (
                pairs.groupBy("epoch", "a", "b").count().count()
            )
            distinct_pairs = (
                pairs.select("a", "b").distinct().count()
            )
            tokens = (
                load_table(spark, d, "documents")
                .agg(F.sum(F.size(TH.words_expr("text"))))
                .first()[0]
            )
            rec = {
                "mode": mode,
                "k": k,
                "wall_sec": round(best[(mode, k)], 3),
                "rows_out": int(n_outs[(mode, k)]),
                "state_rows": int(state_rows),
                "distinct_pairs": int(distinct_pairs),
                "tokens": int(tokens),
            }
            walls.setdefault(mode, {})[k] = rec["wall_sec"]
            out["points"].append(rec)
            print(
                f"{mode} x{k}: {rec['wall_sec']:.3f}s, "
                f"state={state_rows}, pairs={distinct_pairs}, "
                f"tokens={tokens}",
                file=sys.stderr,
            )
        finally:
            # drop the cached stage split (keyed by sf_dir) AND the
            # blow-up; both are per-k temp dirs
            staged = SQ._ranged_stages.pop(
                ("documents", d, SQ.DEDUP_STREAM_BATCHES), None
            )
            if staged:
                shutil.rmtree(staged[0], ignore_errors=True)
            shutil.rmtree(d, ignore_errors=True)
    out["wall_affine"] = {m: fit_affine(t) for m, t in walls.items()}
    # the vocabulary-bound claim reads off DISTINCT PAIRS (the state's
    # per-epoch replication is geometry of how copies land in epochs,
    # not corpus growth): decorrelated copies grow pairs ∝ k by
    # construction (worst case), shared-vocab copies hold them flat
    # while tokens grow ∝ k (the typical-corpus case)
    for field in ("distinct_pairs", "state_rows", "tokens"):
        by_mode: dict[str, dict[int, int]] = {}
        for rec in out["points"]:
            by_mode.setdefault(rec["mode"], {})[rec["k"]] = rec[field]
        out[f"{field}_growth_x8_over_x1"] = {
            m: round(t[8] / t[1], 3) for m, t in by_mode.items()
        }

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["bpe_drift_experiment"] = out
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"bpe_drift_experiment": out}))


# Every lane name this file can itself write (opt-in sub-commands
# included). _carry_forward preserves unknown lanes too — deleting
# receipts is worse than keeping a renamed one — but stamps them and
# warns, so a renamed/obsolete lane's receipt cannot silently read as
# current evidence forever (r8 ADVICE).
KNOWN_LANES = frozenset({
    "metric", "exponents", "streaming_affine", "timings",
    "ks_linear", "ks_ann", "ks_quadratic", "linear_short_keys",
    "streaming_keys", "ks_stream", "zorder_skip", "sf",
    "imi_ceiling", "clustered_skew", "imi_stage_receipts",
    "imi_stage_receipts_percell", "probe_rejoin_experiment",
    "batch_size_experiment", "bucket_verify_experiment",
    "stream_verify_experiment", "verify_ab_experiment",
    "jaccard_repin", "subseq_prune_experiment",
    "bpe_drift_experiment", "ann_x32_receipt",
    "containment_affine_receipt", "wand_prune_receipt",
    "bmw_prune_receipt", "index_serve_receipt",
    "bpe_drift_rocksdb_point",
})


def _carry_forward(result: dict, path: str) -> None:
    """Merge EVERY key of the existing BENCH_SCALE.json that ``result``
    does not itself produce (imi_ceiling, clustered_skew, the
    *_experiment receipts, jaccard_repin, ...). r7 ADVICE: the previous
    three-lane allowlist silently deleted the experiment receipts that
    dedup.py docstrings and SURVEY.md cite as evidence whenever someone
    re-ran the default ladder.

    r8 ADVICE follow-up: each carried lane gets a ``carried_receipts``
    provenance entry recording the ``sf`` the PREVIOUS file was written
    at (preserved from the lane's FIRST carry, i.e. closest to its
    measurement) and whether the lane name is still in ``KNOWN_LANES``;
    unknown lanes additionally warn on stderr so a rename shows up the
    next time the ladder runs instead of never."""
    try:
        with open(path) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return
    if not isinstance(prev, dict):
        return
    prev_meta = prev.get("carried_receipts")
    if not isinstance(prev_meta, dict):
        prev_meta = {}
    meta: dict[str, dict] = {}
    for lane, blob in prev.items():
        if lane == "carried_receipts" or lane in result:
            continue
        result[lane] = blob
        entry = dict(prev_meta.get(lane) or {"sf": prev.get("sf")})
        entry["known"] = lane in KNOWN_LANES
        if lane not in KNOWN_LANES:
            print(
                f"bench_scale: carrying forward UNKNOWN lane {lane!r} "
                "(renamed or obsolete? its receipt may predate the "
                "file's current sf) — see KNOWN_LANES",
                file=sys.stderr,
            )
        meta[lane] = entry
    if meta:
        result["carried_receipts"] = meta


def main() -> None:
    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.registry import (
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    spark = get_spark("bench_scale")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    ks = sorted(set(KS_LINEAR) | set(KS_QUADRATIC))
    dirs = {k: build_blowup(spark, k) for k in ks}
    import atexit
    import shutil

    for d in dirs.values():  # ~15x the fixture per run otherwise
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    # warm up codegen + python workers on the smallest blow-up
    run(QUERIES["text_quality"](spark, dirs[1]))

    sdirs = {k: build_events_blowup(spark, k) for k in KS_STREAM}
    for d in sdirs.values():
        atexit.register(shutil.rmtree, d, ignore_errors=True)

    # deep ANN ladder: reuse the full dirs where they exist, build
    # embeddings-only dirs for the ×16/×32 extension
    adirs = {k: dirs[k] for k in KS_ANN if k in dirs}
    for k in KS_ANN:
        if k not in adirs:
            adirs[k] = build_embeddings_blowup(spark, k)
            atexit.register(shutil.rmtree, adirs[k], ignore_errors=True)

    timings: dict[str, dict[int, float]] = {}
    for _pass in range(2):
        for name in LINEAR + LINEAR_SHORT + QUADRATIC + STREAMING_SCALE:
            if name in STREAMING_SCALE:
                for k in KS_STREAM:
                    t0 = time.time()
                    run(QUERIES[name](spark, sdirs[k]))
                    dt = time.time() - t0
                    cur = timings.setdefault(name, {})
                    cur[k] = round(min(cur.get(k, dt), dt), 3)
                    print(
                        f"{name} x{k}: {dt:.3f}s (pass {_pass + 1})",
                        file=sys.stderr,
                    )
                continue
            if name == "dedup_embedding_ann":
                klist, kdirs = KS_ANN, adirs
            elif name in LINEAR or name == "dedup_containment":
                # containment graduated to the full ladder in r6: its
                # ×4 point was the repo's steepest lane curve, so the
                # positional-filter fix is proven (or refuted) at ×8
                klist, kdirs = KS_LINEAR, dirs
            else:
                klist, kdirs = KS_QUADRATIC, dirs
            for k in klist:
                spark.catalog.clearCache()
                t0 = time.time()
                run(QUERIES[name](spark, kdirs[k]))
                dt = time.time() - t0
                spark.catalog.clearCache()
                cur = timings.setdefault(name, {})
                cur[k] = round(min(cur.get(k, dt), dt), 3)
                print(
                    f"{name} x{k}: {dt:.3f}s (pass {_pass + 1})",
                    file=sys.stderr,
                )

    zorder = zorder_skip_lane(spark, {k: dirs[k] for k in KS_LINEAR})

    result = {
        "metric": "scale_exponents",
        "exponents": {
            q: fit_exponent(t)
            for q, t in timings.items()
            if q not in STREAMING_SCALE
        },
        "streaming_affine": {
            q: fit_affine(timings[q])
            for q in STREAMING_SCALE
            if q in timings
        },
        "timings": {
            q: {str(k): v for k, v in t.items()} for q, t in timings.items()
        },
        "ks_linear": list(KS_LINEAR),
        "ks_ann": list(KS_ANN),
        "ks_quadratic": list(KS_QUADRATIC),
        "linear_short_keys": LINEAR_SHORT,
        "streaming_keys": STREAMING_SCALE,
        "ks_stream": list(KS_STREAM),
        "zorder_skip": zorder,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    _carry_forward(result, path)
    line = json.dumps(result)
    print(line)
    with open(path, "w") as f:
        f.write(line + "\n")


def affine_receipt_lane() -> None:
    """Opt-in lane (`python bench_scale.py affine`): fixed-vs-marginal
    receipts for the two r11 VERDICT lane items.

    1. `ann_x32_receipt` — the r11 lane's dedup_embedding_ann ×32
       point read 6.77 s against a 2.2–2.4 s plateau through ×16 with
       no committed cause. This lane re-measures the FULL ladder in an
       isolated session (3 passes, best-of) and fits t = fixed +
       per_copy·k. The algorithmic candidates are ruled out by
       geometry: ×32 of sf0.1 is n = 64k vectors → m = n/125 = 512
       active cells, 128× below ANN_DEDUP_MAX_LITERAL_CELLS, and the
       imi_ceiling lane locates the flat-IVF crossover at n ≈ 2–4 M —
       so a clean affine fit here attributes the r11 point to
       measurement conditions (the ×32 point runs LAST in the default
       ladder, in a long-lived JVM holding ~15× the fixture in tmp
       blow-up dirs), not to the operator.

    2. `containment_affine_receipt` — the containment lane exponent
       drifted 0.76 → 0.809 across rounds, approaching the linear edge
       of its band; the sub-linearity reading depends on how much of
       each point is fixed cost, which the power-law fit cannot
       separate. This lane adds FRACTIONAL points (documents sampled
       to 1/8, 1/4, 1/2 of sf0.1 by doc_id mod — the k→0 limit pins
       the fixed floor) ahead of the ×1..×8 decorrelated blow-ups and
       fits the affine split directly. The claim to check is not
       "sub-linear forever" (prefix-filter joins are ~linear in
       postings volume by design) but that the MARGINAL cost is
       ~proportional to corpus size with a large fixed floor — i.e.
       the r11 0.809 exponent reads as affine-with-floor, not as a
       super-linear blow-up.
    """
    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.catalog import (
        TABLES,
        load_table,
        table_path,
    )
    from kafka_parquet_writer_spark.registry import (
        QUERIES,
        load_all_operators,
    )
    from pyspark.sql import functions as F

    load_all_operators()
    spark = get_spark("bench_scale_affine")

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    import atexit
    import shutil

    def docs_fraction_dir(denom: int) -> str:
        """documents sampled to 1/denom by doc_id mod (deterministic),
        other tables symlinked — the k < 1 points of the ladder."""
        out = tempfile.mkdtemp(prefix=f"kpws_frac_{denom}_")
        for t in TABLES:
            if t == "documents":
                continue
            os.symlink(table_path(SF_DIR, t), table_path(out, t))
        load_table(spark, SF_DIR, "documents").filter(
            F.col("doc_id") % denom == 0
        ).coalesce(8).write.mode("overwrite").parquet(
            table_path(out, "documents")
        )
        return out

    # --- ann ladder -------------------------------------------------------
    ks_ann = KS_ANN
    adirs = {k: build_embeddings_blowup(spark, k) for k in ks_ann}
    for d in adirs.values():
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    run(QUERIES["dedup_embedding_ann"](spark, adirs[1]))  # warm
    ann_best: dict[int, float] = {}
    for _pass in range(3):
        for k in ks_ann:
            spark.catalog.clearCache()
            t0 = time.time()
            run(QUERIES["dedup_embedding_ann"](spark, adirs[k]))
            dt = time.time() - t0
            ann_best[k] = round(min(ann_best.get(k, dt), dt), 3)
            print(f"ann x{k}: {dt:.3f}s (pass {_pass + 1})", file=sys.stderr)

    # --- containment ladder with fractional floor points ------------------
    frac = {0.125: docs_fraction_dir(8), 0.25: docs_fraction_dir(4),
            0.5: docs_fraction_dir(2)}
    full = {k: docs_blowup_dir(spark, k, tag_words=True,
                               prefix=f"kpws_cont_x{k}_")
            for k in (1, 2, 4, 8)}
    cdirs = {**frac, **full}
    for d in cdirs.values():
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    run(QUERIES["dedup_containment"](spark, cdirs[0.125]))  # warm
    cont_best: dict[float, float] = {}
    for _pass in range(3):
        for k in sorted(cdirs):
            spark.catalog.clearCache()
            t0 = time.time()
            run(QUERIES["dedup_containment"](spark, cdirs[k]))
            dt = time.time() - t0
            cont_best[k] = round(min(cont_best.get(k, dt), dt), 3)
            print(
                f"containment x{k}: {dt:.3f}s (pass {_pass + 1})",
                file=sys.stderr,
            )

    with open("/proc/loadavg") as f:
        load = f.read().split()[0]
    out = {
        "ann_x32_receipt": {
            "timings": {str(k): v for k, v in ann_best.items()},
            "affine": fit_affine(ann_best),
            "exponent": fit_exponent(ann_best),
            "cells_at_x32": 64_000 // 125,
            "flat_ceiling_cells": 65536,
            "loadavg_end": load,
            "note": (
                "isolated re-measure of the full ladder; the r11 6.77s "
                "x32 point does not reproduce (see lane docstring)"
            ),
        },
        "containment_affine_receipt": {
            "timings": {str(k): v for k, v in cont_best.items()},
            "affine": fit_affine(cont_best),
            "exponent_full_ladder": fit_exponent(
                {k: v for k, v in cont_best.items() if k >= 1}
            ),
            "loadavg_end": load,
            "note": (
                "fractional points pin the fixed floor; marginal cost "
                "is the per-k slope (see lane docstring)"
            ),
        },
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob.update(out)
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps(out))


def wand_prune_lane() -> None:
    """Opt-in lane (`python bench_scale.py wandprune`): receipt for
    rag_topk_retrieval_wand's claim — MaxScore/WAND pruning shrinks
    the scored candidate set while staying EXACT. The real fixtures
    cannot show this (their query workload matches a single document
    token, and a one-term query is never prunable), so the lane
    builds the workload shape the pruning exists for, at scale:
    every doc carries a stopword-like term (df = n, impact floor),
    75% also carry one of n/100 rare terms with tf 3 (df ~ 75 fixed
    as n grows — the Zipf tail); 500 queries mix the stopword with
    two rare terms. Per ×k: min-of-3 wall for the WAND key, the WAND
    candidate count, the static-L truncated candidate count
    (rag_topk_retrieval's bound — WAND should be in its vicinity
    while returning the exhaustive answer, not the truncated one),
    and the exhaustive score-row fan-out Σ_t qf(t)·df(t) it avoids.
    Merged into BENCH_SCALE.json as "wand_prune_receipt"."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.operators import rag_prep as RP

    spark = get_spark("wand_prune_lane")

    def skewed_dir(k: int) -> str:
        n, r_vocab, n_q = 20_000 * k, 200 * k, 500
        out = tempfile.mkdtemp(prefix=f"kpws_wand_x{k}_")
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("zz "),
                F.when(
                    F.col("id") < int(0.75 * n),
                    F.concat(
                        F.lit("rare"),
                        (F.col("id") % r_vocab).cast("string"),
                        F.lit(" rare"),
                        (F.col("id") % r_vocab).cast("string"),
                        F.lit(" rare"),
                        (F.col("id") % r_vocab).cast("string"),
                    ),
                ).otherwise(F.lit("tail")),
                F.lit(" filler"),
                (F.col("id") % 7).cast("string"),
            ).alias("text"),
        )
        docs.write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        qs = spark.range(1, n_q + 1).select(
            F.col("id").alias("p_partkey"),
            F.concat(
                F.lit("zz rare"),
                (F.col("id") % r_vocab).cast("string"),
                F.lit(" rare"),
                ((F.col("id") + 1) % r_vocab).cast("string"),
            ).alias("p_name"),
        )
        qs.write.mode("overwrite").parquet(
            os.path.join(out, "part.parquet")
        )
        return out

    ks = (1, 2, 4, 8)
    dirs = {k: skewed_dir(k) for k in ks}
    best: dict[int, float] = {}
    for _pass in range(3):
        for k in ks:
            spark.catalog.clearCache()
            t0 = time.time()
            RP.rag_topk_retrieval_wand(spark, dirs[k]).count()
            dt = time.time() - t0
            best[k] = min(best.get(k, dt), dt)
            print(f"wand x{k}: {dt:.3f}s (pass {_pass + 1})", file=sys.stderr)

    out: dict = {"points": [], "topk": RP.RAG_TOPK, "queries": 500}
    for k in ks:
        spark.catalog.clearCache()
        p = RP._wand_plan(spark, dirs[k])
        wand_cand = p["cand"].count()
        # exhaustive fan-out the pruning avoids: score rows
        exhaustive_rows = (
            p["qt"]
            .join(p["tstats"], F.col("term") == F.col("token"))
            .agg(F.sum("df"))
            .first()[0]
        )
        # static-L candidates: distinct (q, d) over truncated lists
        static_cand = (
            RP._rank_impact_l(p["imp"]).join(
                F.broadcast(p["qt"]), F.col("token") == F.col("term")
            )
            .select("query_id", "doc_id")
            .distinct()
            .count()
        )
        # scorer comparison on the same workload: BM25's saturated
        # impacts tighten every UB (capped at idf·(k1+1)), so its
        # essential split should prune at least as hard as tf-idf's
        spark.catalog.clearCache()
        pb = RP._wand_plan(spark, dirs[k], scorer="bm25")
        bm25_cand = pb["cand"].count()
        rec = {
            "k": k,
            "wall_sec": round(best[k], 3),
            "wand_candidates": int(wand_cand),
            "wand_bm25_candidates": int(bm25_cand),
            "static_L_candidates": int(static_cand),
            "exhaustive_score_rows": int(exhaustive_rows),
            "shrink_vs_exhaustive": round(
                wand_cand / max(1, exhaustive_rows), 5
            ),
        }
        out["points"].append(rec)
        print(json.dumps(rec), file=sys.stderr)
        spark.catalog.clearCache()
        shutil.rmtree(dirs[k], ignore_errors=True)
    out["wall_affine"] = fit_affine(best)

    # ---- block-max sub-receipt (r13 VERDICT item 4) -----------------
    # BMW needs impacts that DECAY along a list to beat MaxScore (the
    # main corpus's rare tf is flat 3 — blockmax is constant there, so
    # block bounds add nothing, correctly). Variant corpus: rare tf =
    # 1 + (id div r_vocab) % 5, queries = (zz, rare_i) pairs. Worked
    # bound: θ ≈ 5·idf(rare) (the tf-5 docs own the truncated top-k),
    # UB(zz) is an n-df floor ⇒ a rare posting is admitted only where
    # blockmax ≥ θ − UB(zz) ≈ 5·idf — true for the head block only,
    # so BMW keeps ~block_b of each ~75-posting essential list where
    # MaxScore keeps all of it. Exactness is asserted in-lane (BMW
    # top-k ≡ MaxScore top-k row-for-row).
    def decaying_dir(k: int) -> str:
        n, r_vocab, n_q = 20_000 * k, 200 * k, 500
        out_d = tempfile.mkdtemp(prefix=f"kpws_bmw_x{k}_")
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("zz"),
                F.when(
                    F.col("id") < int(0.75 * n),
                    F.repeat(
                        F.concat(
                            F.lit(" rare"),
                            (F.col("id") % r_vocab).cast("string"),
                        ),
                        (
                            F.lit(1)
                            + (F.col("id") / r_vocab).cast("long") % 5
                        ).cast("int"),
                    ),
                ).otherwise(F.lit(" tail")),
                F.lit(" filler"),
                (F.col("id") % 7).cast("string"),
            ).alias("text"),
        )
        docs.write.mode("overwrite").parquet(
            os.path.join(out_d, "documents.parquet")
        )
        qs = spark.range(1, n_q + 1).select(
            F.col("id").alias("p_partkey"),
            F.concat(
                F.lit("zz rare"), (F.col("id") % r_vocab).cast("string")
            ).alias("p_name"),
        )
        qs.write.mode("overwrite").parquet(
            os.path.join(out_d, "part.parquet")
        )
        return out_d

    # NOTE on block size: this receipt runs block_b=16 — FINER than the
    # shipped key's RAG_BMW_BLOCK=64 — because the synthetic decaying
    # lists are ~75 postings long (at 64 a list is 1-2 blocks and the
    # bound barely refines; production lists are millions long, where
    # 64-128 is the literature's regime). The committed shrink number
    # is therefore for the finer block and must not be quoted as the
    # shipped constant's (r14 VERDICT item 6).
    bmw_block = 16
    bout: dict = {
        "points": [],
        "block_b": bmw_block,
        "shipped_block_b": RP.RAG_BMW_BLOCK,
        "queries": 500,
    }
    for k in ks:
        d = decaying_dir(k)
        spark.catalog.clearCache()
        p = RP._wand_plan(spark, d)
        ms_cand = p["cand"].count()
        bmw = RP._bmw_cand(p, block_b=bmw_block)
        bmw_cand = bmw.count()
        exact = RP._wand_topk(p)
        pruned = RP._wand_topk({**p, "cand": bmw})
        matches = (
            exact.exceptAll(pruned).count() == 0
            and pruned.exceptAll(exact).count() == 0
        )
        # symmetric timing (r14 ADVICE: the old wall timed one warm
        # rebuild after the frames had just been counted — not
        # comparable to the MaxScore lane's min-of-N): BOTH top-k
        # paths under the same clearCache + min-of-3 discipline. Each
        # timed run rebuilds its full plan from _wand_plan so neither
        # rides the other's cache.
        ms_wall = bmw_wall = float("inf")
        for _pass in range(3):
            spark.catalog.clearCache()
            t0 = time.time()
            RP._wand_topk(RP._wand_plan(spark, d)).count()
            ms_wall = min(ms_wall, time.time() - t0)
            spark.catalog.clearCache()
            t0 = time.time()
            p2 = RP._wand_plan(spark, d)
            RP._wand_topk(
                {**p2, "cand": RP._bmw_cand(p2, block_b=bmw_block)}
            ).count()
            bmw_wall = min(bmw_wall, time.time() - t0)
        rec = {
            "k": k,
            "maxscore_candidates": int(ms_cand),
            "bmw_candidates": int(bmw_cand),
            "shrink_vs_maxscore": round(bmw_cand / max(1, ms_cand), 4),
            "bmw_matches_exact": bool(matches),
            "maxscore_wall_sec": round(ms_wall, 3),
            "bmw_wall_sec": round(bmw_wall, 3),
        }
        bout["points"].append(rec)
        print(json.dumps(rec), file=sys.stderr)
        spark.catalog.clearCache()
        shutil.rmtree(d, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["wand_prune_receipt"] = out
    blob["bmw_prune_receipt"] = bout
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"wand_prune_receipt": out}))



def index_serve_lane() -> None:
    """Opt-in lane (`python bench_scale.py idxserve`): receipt for the
    materialized-index serving claim (rag_wand_from_index /
    rag_topk_from_index docstrings) — query-time cost must be
    corpus-INDEPENDENT once the build is amortized, where the
    corpus-scanning WAND key re-pays the scan+tokenize every run. Per
    ×k on the wandprune lane's decorrelated skewed corpus: the
    one-time index build wall (postings + impact-L tables), then
    min-of-2 serve walls for the materialized key vs the
    corpus-scanning key on the same 500-query workload. Merged into
    BENCH_SCALE.json as "index_serve_receipt"."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.operators import rag_prep as RP

    spark = get_spark("index_serve_lane")

    def skewed_dir(k: int) -> str:
        n, r_vocab, n_q = 20_000 * k, 200 * k, 500
        out = tempfile.mkdtemp(prefix=f"kpws_idxserve_x{k}_")
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("zz "),
                F.when(
                    F.col("id") < int(0.75 * n),
                    F.concat(
                        F.lit("rare"),
                        (F.col("id") % r_vocab).cast("string"),
                        F.lit(" rare"),
                        (F.col("id") % r_vocab).cast("string"),
                        F.lit(" rare"),
                        (F.col("id") % r_vocab).cast("string"),
                    ),
                ).otherwise(F.lit("tail")),
                F.lit(" filler"),
                (F.col("id") % 7).cast("string"),
            ).alias("text"),
        )
        docs.write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )
        qs = spark.range(1, n_q + 1).select(
            F.col("id").alias("p_partkey"),
            F.concat(
                F.lit("zz rare"),
                (F.col("id") % r_vocab).cast("string"),
                F.lit(" rare"),
                ((F.col("id") + 1) % r_vocab).cast("string"),
            ).alias("p_name"),
        )
        qs.write.mode("overwrite").parquet(
            os.path.join(out, "part.parquet")
        )
        return out

    out: dict = {"points": [], "queries": 500}
    for k in (1, 2, 4, 8):
        d = skewed_dir(k)
        spark.catalog.clearCache()
        t0 = time.time()
        RP._index_table(spark, d, "postings")
        RP._index_table(spark, d, "impact_l")
        build = time.time() - t0
        # r15: the BM25 pair beside the tf-idf pair — the serving
        # claim must hold for the production-default scorer too (its
        # build additionally folds dl/avgdl; its serve plan reads
        # neither)
        t0 = time.time()
        RP._index_table(spark, d, "bm25_impact_l")
        bm25_build = time.time() - t0
        serve = scan = bserve = bscan = None
        for _pass in range(2):
            spark.catalog.clearCache()
            t0 = time.time()
            RP.rag_wand_from_index(spark, d).count()
            dt = time.time() - t0
            serve = dt if serve is None else min(serve, dt)
            spark.catalog.clearCache()
            t0 = time.time()
            RP.rag_topk_retrieval_wand(spark, d).count()
            dt = time.time() - t0
            scan = dt if scan is None else min(scan, dt)
            spark.catalog.clearCache()
            t0 = time.time()
            RP.rag_bm25_from_index(spark, d).count()
            dt = time.time() - t0
            bserve = dt if bserve is None else min(bserve, dt)
            spark.catalog.clearCache()
            t0 = time.time()
            RP.rag_topk_retrieval_wand_bm25(spark, d).count()
            dt = time.time() - t0
            bscan = dt if bscan is None else min(bscan, dt)
        rec = {
            "k": k,
            "index_build_sec": round(build, 3),
            "serve_from_index_sec": round(serve, 3),
            "serve_corpus_scan_sec": round(scan, 3),
            "bm25_build_sec": round(bm25_build, 3),
            "bm25_serve_from_index_sec": round(bserve, 3),
            "bm25_serve_corpus_scan_sec": round(bscan, 3),
        }
        out["points"].append(rec)
        print(json.dumps(rec), file=sys.stderr)
        spark.catalog.clearCache()
        shutil.rmtree(d, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["index_serve_receipt"] = out
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"index_serve_receipt": out}))


def bpe_drift_rocksdb_lane() -> None:
    """Opt-in lane (`python bench_scale.py bpedriftrocks`): one
    decorrelated blow-up point through the RocksDB state-store
    provider (r12 VERDICT item 6). The provider-invariance test pins
    value equality on the fixture; this receipts the HAND-OFF CLAIM
    itself — the exact complete-mode drift aggregate runs on the
    disk-backed store at the worst-case state growth mode
    (decorrelated ×8: distinct pairs ∝ corpus) and returns the same
    rows as the default in-memory provider at the same point. Merged
    into BENCH_SCALE.json as "bpe_drift_rocksdb_point"."""
    import shutil

    from kafka_parquet_writer_spark import get_spark
    from kafka_parquet_writer_spark.operators import streaming_queries as SQ

    spark = get_spark("bpe_drift_rocksdb_lane")
    SQ.stream_bpe_vocab_drift(spark, SF_DIR).count()  # warm

    k = 8
    d = docs_blowup_dir(spark, k, tag_words=True, prefix="kpws_bpedrocks_")
    try:
        default_rows = {
            tuple(r)
            for r in SQ.stream_bpe_vocab_drift(spark, d).collect()
        }
        best = None
        rocks_rows = None
        for _pass in range(2):
            t0 = time.time()
            rocks_rows = {
                tuple(r)
                for r in SQ.stream_bpe_vocab_drift(
                    spark, d, state_store="rocksdb"
                ).collect()
            }
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
            print(f"rocksdb x{k}: {dt:.3f}s", file=sys.stderr)
        out = {
            "mode": "decorrelated",
            "k": k,
            "wall_sec_rocksdb": round(best, 3),
            "rows_out": len(rocks_rows),
            "equals_default_provider": rocks_rows == default_rows,
        }
    finally:
        staged = SQ._ranged_stages.pop(
            ("documents", d, SQ.DEDUP_STREAM_BATCHES), None
        )
        if staged:
            shutil.rmtree(staged[0], ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALE.json"
    )
    try:
        with open(path) as f:
            blob = json.load(f)
    except (OSError, ValueError):
        blob = {}
    blob["bpe_drift_rocksdb_point"] = out
    with open(path, "w") as f:
        f.write(json.dumps(blob) + "\n")
    print(json.dumps({"bpe_drift_rocksdb_point": out}))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "imi":
        imi_ceiling_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "skew":
        clustered_skew_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "imistages":
        imi_stage_receipts_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "verifyab":
        verify_ab_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "subseq":
        subseq_prune_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "bpedrift":
        bpe_drift_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "affine":
        affine_receipt_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "wandprune":
        wand_prune_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "bpedriftrocks":
        bpe_drift_rocksdb_lane()
    elif len(sys.argv) > 1 and sys.argv[1] == "idxserve":
        index_serve_lane()
    else:
        main()
