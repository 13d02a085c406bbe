"""Approximate nearest-neighbor search over embedding columns
(array<float>) — training-data pipeline operator.

Baseline: brute-force cosine top-k as a broadcast join + window (exact,
oracle-checkable). Scale path: random-hyperplane LSH bucketing — queries
and corpus hash to sign-pattern buckets (multi-probe via bit flips), then
the exact cosine runs only inside colliding buckets. All distance math is
Column expressions (zip_with/aggregate, JVM codegen); the only Python is
the hyperplane signature UDF (vectorized numpy matmul per Arrow batch).
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .storage import cache


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> F.Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
            f"0.0D, (acc, v) -> acc + v)"
        )
    )


def cosine_topk_brute(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: crossJoin(broadcast(corpus)) + window.
    (query_id, neighbor_id, cosine, sim_rank); self-pairs excluded."""
    from .join import spread_small_input

    # norms hoisted to once-per-ROW before the cross join (they were an
    # interpreted HOF fold re-run per PAIR — n_q x n_c times); the cosine
    # is the identical expression on identical values, so results are
    # bit-equal: norm(v) evaluated upstream is the same double, and
    # dot / (qn * cn) is the same op sequence
    q = spread_small_input(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        ),
        F.col("query_id"),
    ).withColumn("_qn", _norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("_cn", _norm("cv"))
    sim = _dot("qv", "cv") / (F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        q.crossJoin(F.broadcast(c))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", sim)
        .withColumn("sim_rank", F.row_number().over(w))
        .where(F.col("sim_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "sim_rank")
    )


@lru_cache(maxsize=None)
def make_hyperplane_sig_udf(dim: int | None, n_planes: int = 16, seed: int = 11):
    """Hyperplane-sign signature pandas UDF. With dim=None the plane matrix
    is generated lazily inside each worker from the first batch's vector
    length — the rng is seeded, so every worker derives the IDENTICAL
    matrix and no plan-build-time Spark job is needed to sniff dim."""
    state: dict[int, np.ndarray] = {}

    def planes_for(d: int) -> np.ndarray:
        if d not in state:
            state[d] = np.random.default_rng(seed).standard_normal((d, n_planes))
        return state[d]

    if dim is not None:
        planes_for(dim)

    @pandas_udf("long")
    def _sig(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy())
        signs = (m.astype(np.float64) @ planes_for(m.shape[1])) > 0
        weights = (1 << np.arange(n_planes, dtype=np.int64))[None, :]
        return pd.Series((signs * weights).sum(axis=1).astype(np.int64))

    return _sig


def make_centroid_assign_udf(centroids: np.ndarray, n_probe: int = 1):
    """pandas_udf vec -> array<int> of the n_probe nearest centroid ids
    (cosine). One matmul per Arrow batch."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @pandas_udf("array<int>")
    def _assign(vec: pd.Series) -> pd.Series:
        m = np.stack(vec.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ c.T
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return _assign


def auto_n_centroids(
    corpus: DataFrame,
    sample_cap: int = 4096,
    assumed_row_bytes: int = 300,
) -> int:
    """Codebook sizing rule: n_centroids ~ sqrt(n) — inverted lists and
    the codebook then both hold ~sqrt(n) entries, and query cost
    n_probe * n/n_centroids is minimized at fixed total memory (the
    standard IVF heuristic). 10^6 vectors -> ~1,000 cells; 10^9 -> ~32k
    cells (raise ``sample_cap`` proportionally — seeding needs a sample
    several times larger than the codebook, so auto clamps to
    sample_cap/8; log-scale accuracy is all that matters here, the sqrt
    halves any row-estimate error in log terms).

    Row count comes from plan statistics (no job; parquet size /
    ``assumed_row_bytes``, sized for embedding rows ~ dim floats +
    overhead — within ~15% of sqrt(n) on the parquet fixtures); a
    stat-less source pays one count() — the build is already a multi-job
    operation, so sizing from truth beats guessing. Non-file sources
    (in-memory relations, spark.range projections) report synthetic tiny
    sizes and so UNDER-size the codebook — conservative (more exact work
    per probe, never wrong results); pass n_centroids explicitly there."""
    from .gates import estimated_rows

    rows = estimated_rows(corpus, assumed_row_bytes=assumed_row_bytes)
    if rows is None:
        rows = corpus.count()
    import math

    return int(max(16, min(round(math.sqrt(rows)), sample_cap // 8)))


def kmeans_pp_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    sample_cap: int = 4096,
    local_iters: int = 3,
) -> np.ndarray:
    """Deterministic spherical k-means++ codebook from a bounded sample.

    Distributed-seeding shape (k-means|| style): ONE Spark job collects a
    pseudo-random sample — the first ``sample_cap`` corpus vectors ordered
    by xxhash64(id) (deterministic, uniformly shuffled, independent of
    physical layout) — then the driver runs k-means++ seeding plus a few
    local Lloyd iterations on that sample. The collect is bounded at
    sample_cap * dim doubles (~2 MB at 4096x64) no matter the corpus size;
    codebook quality comes from the follow-up DISTRIBUTED Lloyd pass over
    the full corpus (refine_centroids_lloyd). All randomness flows from
    ``seed`` so the codebook — and every IVF result built on it — is
    reproducible run to run."""
    sample = (
        corpus.orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_cap)
        .select(vec_col)
        .toPandas()[vec_col]
    )
    u = np.stack(sample.to_numpy()).astype(np.float64)
    u = u / np.maximum(np.linalg.norm(u, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    # k-means++ seeding with cosine distance d = max(0, 1 - best_sim)
    cent = [u[int(rng.integers(len(u)))]]
    best = u @ cent[0]
    for _ in range(n_centroids - 1):
        d = np.maximum(1.0 - best, 0.0)
        tot = d.sum()
        if tot <= 0:  # degenerate sample (all identical): spread uniformly
            pick = int(rng.integers(len(u)))
        else:
            pick = int(rng.choice(len(u), p=d / tot))
        cent.append(u[pick])
        best = np.maximum(best, u @ cent[-1])
    c = np.stack(cent)
    for _ in range(local_iters):  # local Lloyd on the sample only
        a = np.argmax(u @ c.T, axis=1)
        for j in range(n_centroids):
            sel = u[a == j]
            if len(sel):
                c[j] = sel.mean(axis=0)
        c = c / np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    return c


def refine_centroids_lloyd(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    iters: int = 1,
) -> np.ndarray:
    """Distributed Lloyd iterations over the corpus: assign each vector to
    its nearest centroid (Arrow-batched matmul), mean per (cell, dim) via
    posexplode + groupBy (map-side partial agg, one shuffle of
    n_centroids x dim cells), collect only the tiny codebook. Empty cells
    keep their previous centroid."""
    n_centroids, dim = centroids.shape
    for _ in range(iters):
        assign1 = make_centroid_assign_udf(centroids, 1)
        agg = (
            corpus.select(F.col(vec_col).alias("v"))
            .withColumn("cell", F.element_at(assign1(F.col("v")), 1))
            .select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("m"))
            .toPandas()  # <= n_centroids * dim rows — bounded codebook
        )
        new = centroids.copy()
        for c, sub in agg.groupby("cell"):
            new[int(c)] = sub.sort_values("pos")["m"].to_numpy()
        centroids = new
    return centroids


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | str = 16,
    n_probe: int = 3,
    refine_iters: int = 0,
    n_assign: int = 1,
    seed: int = 7,
) -> DataFrame:
    """IVF-style ANN over a spherical k-means codebook.
    ``n_centroids='auto'`` sizes the codebook ~sqrt(n) from plan stats
    (see :func:`auto_n_centroids` for the rule and its clamps).

    Codebook: deterministic k-means++ seeding on a bounded sample
    (kmeans_pp_centroids — one small collect regardless of corpus size),
    optionally refined with ``refine_iters`` DISTRIBUTED Lloyd iterations
    over the full corpus (refine_centroids_lloyd; the plan shape is
    unchanged). Corpus vectors land in their ``n_assign`` nearest cells
    (redundant assignment — index is n_assign x larger, every probe sees
    proportionally more of each query's true neighborhood); queries probe
    their ``n_probe`` nearest cells; exact cosine + window top-k runs only
    inside colliding cells, after pair-level dedup so a (query, neighbor)
    pair colliding in several probed cells is scored once.

    Approximate for n_probe < n_centroids — recall is a measured, tunable
    contract: on the structure-free isotropic bench fixture, single
    assignment tops out near 0.59 recall@3 at n_probe=4/16 no matter how
    good the codebook (measured: 10 full Lloyd iterations reach 0.585), so
    the scale lever is redundancy, not seeding — n_assign=3 reaches ~0.88
    at the same probe budget (curve in BENCH.md). EXACT for
    n_probe == n_centroids with n_assign=1 (every cell probed — the
    oracle-certified configuration).

    One-shot convenience over build_ivf_index + cosine_topk_ivf_prebuilt —
    at scale, build the index once, persist it (write bucketed by cell),
    and run query batches against it without repaying the codebook."""
    centroids, indexed = build_ivf_index(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col,
        refine_iters=refine_iters, n_assign=n_assign, seed=seed,
    )
    return cosine_topk_ivf_prebuilt(
        queries, centroids, indexed, k, id_col=id_col, vec_col=vec_col,
        n_probe=n_probe, dedup=n_assign > 1,
    )


def build_ivf_index(
    corpus: DataFrame,
    n_centroids: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 2,
    n_assign: int = 1,
    seed: int = 7,
    sample_cap: int = 4096,
) -> tuple[np.ndarray, DataFrame]:
    """Pay the IVF build once: (codebook, indexed corpus).

    ``n_centroids='auto'`` applies the sqrt(n) sizing rule
    (:func:`auto_n_centroids`) from plan-statistics row estimates —
    the default 16 is sandbox-sized; a 10^9-vector corpus wants ~32k
    cells, which nobody should have to know by heart.

    The codebook is k-means++ sample-seeded + ``refine_iters`` distributed
    Lloyd passes; the returned DataFrame is (neighbor_id, cv, cell) with
    each corpus vector in its ``n_assign`` nearest cells. Persist it
    partitioned/bucketed by ``cell`` so every later query batch equi-joins
    against co-located inverted lists with no build-side shuffle; store the
    tiny codebook alongside (np.save / a 2-column table)."""
    if n_centroids == "auto":
        n_centroids = auto_n_centroids(corpus, sample_cap=sample_cap)
    centroids = kmeans_pp_centroids(
        corpus, n_centroids, id_col=id_col, vec_col=vec_col, seed=seed,
        sample_cap=sample_cap,
    )
    if refine_iters > 0:
        centroids = refine_centroids_lloyd(corpus, centroids, vec_col,
                                           refine_iters)
    assignA = make_centroid_assign_udf(centroids, n_assign)
    # NOT spread (unlike the join/kNN probe sides): the assignment kernel
    # is a bounded fanout-free matmul over the scan, and the first consumer
    # exchange re-parallelizes everything downstream — an extra exchange
    # here costs a full AQE stage per build and buys nothing (measured
    # +~1.7 s per bench rep across the ivf phases at sf0.1)
    indexed = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cell", F.explode(assignA(F.col("cv"))))
    return centroids, indexed


def cosine_topk_ivf_prebuilt(
    queries: DataFrame,
    centroids: np.ndarray,
    indexed: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 3,
    dedup: bool = True,
) -> DataFrame:
    """ANN query batch against a prebuilt IVF index (build_ivf_index or a
    re-read persisted copy). Set ``dedup=False`` only when the index was
    built with n_assign=1 (no pair can collide twice)."""
    assignP = make_centroid_assign_udf(centroids, n_probe)
    # norms hoisted to once-per-row (query side pre-explode, index side
    # pre-join) — they were interpreted HOF folds re-run per candidate
    # PAIR; bit-identical results (same expression, same values, then the
    # same dot / (qn * cn) op sequence)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("_qn", _norm("qv")).withColumn(
        "cell", F.explode(assignP(F.col("qv")))
    )
    indexed = indexed.withColumn("_cn", _norm("cv"))
    sim = _dot("qv", "cv") / (F.col("_qn") * F.col("_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    # dedup BEFORE scoring (NOT the §2.3 narrow-then-shuffle shape): the
    # cosine is an interpreted higher-order-function fold over dim
    # elements, so scoring pre-dedup pairs costs collision-factor x more
    # CPU than the vector-carrying exchange saves (measured +1.1 s per
    # bench rep at sf0.1 the other way around)
    pairs = q.join(indexed, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    if dedup:  # a pair can collide in several probed cells
        pairs = pairs.dropDuplicates(["query_id", "neighbor_id"])
    return (
        pairs.withColumn("cosine", sim)
        .withColumn("sim_rank", F.row_number().over(w))
        .where(F.col("sim_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "sim_rank")
    )


def hashed_tf_vectors(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
) -> DataFrame:
    """Deterministic document -> dense TF embedding (id, embedding):
    every whitespace token lands in bucket md5-prefix % dim and
    embedding[k] = count of tokens in bucket k. Pure Column expressions
    (explode + one groupBy with dim conditional sums, whole-stage codegen,
    no UDF) with an exact DuckDB twin (sql_hashed_tf) — the featurizer both
    engines share for the embedding-cosine near-dup oracle."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("_tok").cast("binary")), 1, 8), 16, 10)
        .cast("long") % dim
    )
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("_tok"),
    ).withColumn("_b", bucket)
    return toks.groupBy("doc").agg(
        F.array(
            *[
                F.sum(F.when(F.col("_b") == k, 1).otherwise(0))
                .cast("double")
                for k in range(dim)
            ]
        ).alias("embedding")
    )


def sql_hashed_tf(dim: int = 64, id_col: str = "doc_id",
                  text_col: str = "text", table: str = "documents") -> str:
    """DuckDB twin of hashed_tf_vectors (same md5-bucket, same counts)."""
    sums = ", ".join(
        f"CAST(sum(CASE WHEN b = {k} THEN 1 ELSE 0 END) AS DOUBLE)"
        for k in range(dim)
    )
    return f"""
        SELECT doc, [{sums}] AS embedding FROM (
          SELECT {id_col} AS doc,
                 CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) % {dim} AS b
          FROM {table}, unnest(string_split({text_col}, ' ')) AS t(tok)
        ) GROUP BY doc
    """


def near_dup_prefix_index(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc, d) inverted-index rows for the COMPLETE suffix-norm prefix
    filter (the AllPairs/L2AP family adapted to a symmetric self-join).

    Rule: unit-normalize each vector, sort its dims by |weight| ascending,
    and drop (leave unindexed) the maximal bottom set whose squared mass
    stays within (t/2)^2 — i.e. index the minimal HEAVY prefix whose
    excluded suffix has l2 norm <= t/2 (with a 1e-9 slack for float
    rounding). Completeness: if a pair (x, y) shares NO indexed dim, every
    dim is unindexed on at least one side, so splitting the dot product by
    x's prefix/suffix and applying Cauchy-Schwarz twice gives
    dot(x, y) <= ||x_suffix|| + ||y_suffix|| <= t * (1 - 1e-9) < t —
    a qualifying pair (cosine >= t) MUST collide. No nonnegativity needed
    (Cauchy-Schwarz is sign-free), unlike the flat per-dim cut this
    replaces — and it is never less selective: the flat cut's suffix
    {dims: |w| < t/(2*sqrt(d))} has squared mass < d * t^2/(4d) = (t/2)^2,
    so the flat-cut prefix is one feasible solution and the minimal prefix
    is a subset of it.

    Cost: posexplode + one window (cumulative suffix mass per doc) — a
    single shuffle on doc, linear in nonzeros. Pruning power scales with
    weight skew: TF / vocab-hashed vectors index a handful of dims; even
    fully dense Zipf-weighted vectors keep only their few heavy dims. The
    adversarial flat-spectrum case (all weights equal) degrades toward
    indexing most dims — see dense_candidate_bound for the loud guard.
    """
    budget2 = (threshold / 2.0) ** 2 * (1.0 - 1e-9)
    v = vectors.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v"))
    v = v.withColumn("_nrm", _norm("v"))
    unit = F.expr("transform(v, x -> CAST(x AS DOUBLE) / _nrm)")
    w = (
        Window.partitionBy("doc")
        .orderBy(F.abs(F.col("w")).asc(), F.col("d").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        v.withColumn("_u", unit)
        .select("doc", F.posexplode("_u").alias("d", "w"))
        .withColumn("_cum", F.sum(F.col("w") * F.col("w")).over(w))
        .where(F.col("_cum") > budget2)
        .select("doc", "d")
    )


def dense_candidate_bound(index: DataFrame) -> tuple[int, int]:
    """(n_docs, candidate-pair upper bound Sum_d n_d*(n_d-1)/2) for a
    prefix index — two tiny aggregate jobs. Compare the bound against
    n_docs*(n_docs-1)/2 to detect the flat-spectrum degeneration where the
    complete prefilter approaches all-pairs (then cosine_near_dup_pairs,
    the measured-recall LSH path, is the pragmatic choice)."""
    n_docs = index.select("doc").distinct().count()
    row = (
        index.groupBy("d")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("b"))
        .first()
    )
    return n_docs, int(row["b"] or 0)


def cosine_near_dup_exact(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    dense_guard: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with a PROVABLY complete prefilter
    — recall 1.0 by mathematics at every scale, unlike any LSH
    configuration. Candidates come from the suffix-norm prefix index
    (near_dup_prefix_index: minimal heavy prefix per vector with excluded
    l2 mass <= t/2, complete by Cauchy-Schwarz); the exact cosine verifies
    each collision. The candidate join ships only (doc, dim) pairs; the
    wide arrays are joined back AFTER pair-level dedup, so they never ride
    the exploded shuffle.

    ``dim`` is accepted for backward compatibility and ignored — the
    suffix-norm rule needs no dimensionality, so plan construction no
    longer triggers a Spark job. ``dense_guard=True`` spends two small
    aggregate jobs at build time to measure the candidate-pair upper bound
    and WARNS loudly when the prefilter has degenerated past half of
    all-pairs (flat weight spectra) — correctness is unaffected either
    way; the warning points dense-flat inputs at cosine_near_dup_pairs."""
    buckets = near_dup_prefix_index(vectors, threshold, id_col, vec_col)
    # CACHED: the self-join's two branches (and the dense guard's two
    # aggregates) would otherwise EACH recompute the index's posexplode +
    # cumulative-mass window. Same storage trade as the LSH builders'
    # signature caches: one narrow (doc, d) block per call, released by an
    # enclosing storage.scope().
    buckets = cache(buckets)
    if dense_guard:
        import warnings

        n_docs, bound = dense_candidate_bound(buckets)
        all_pairs = n_docs * (n_docs - 1) / 2
        if all_pairs > 0 and bound >= 0.5 * all_pairs:
            warnings.warn(
                f"cosine_near_dup_exact: prefix filter is non-selective on "
                f"this input (candidate bound {bound} vs {int(all_pairs)} "
                f"all-pairs) — flat weight spectrum; result stays exact but "
                f"consider cosine_near_dup_pairs (LSH, measured recall) at "
                f"scale",
                stacklevel=2,
            )
    cand = (
        buckets.alias("l")
        .join(buckets.alias("r"), "d")
        .where(F.col("l.doc") < F.col("r.doc"))
        .select(F.col("l.doc").alias("doc1"), F.col("r.doc").alias("doc2"))
        .dropDuplicates(["doc1", "doc2"])
    )
    # norms hoisted to once-per-ROW on the attach side — they were
    # interpreted HOF folds re-run per candidate PAIR (3 folds x dim per
    # pair -> 1 dot fold + a multiply); bit-identical cosine (the same
    # norm expression on the same values, then the same op sequence)
    sim = _dot("v1", "v2") / (F.col("_n1") * F.col("_n2"))
    vv = vectors.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("v")
    ).withColumn("_n", _norm("v"))
    return (
        cand.join(vv.select(F.col("doc").alias("doc1"),
                            F.col("v").alias("v1"),
                            F.col("_n").alias("_n1")), "doc1")
        .join(vv.select(F.col("doc").alias("doc2"),
                        F.col("v").alias("v2"),
                        F.col("_n").alias("_n2")), "doc2")
        .withColumn("cosine", sim)
        .where(F.col("cosine") >= threshold)
        .select("doc1", "doc2", F.round("cosine", 6).alias("cosine"))
    )


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 12,
    probe_bits: int = 1,
    seed: int = 11,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id1 < id2, cosine >= t).

    Scale path: random-hyperplane sign buckets on both sides; the left side
    multi-probes its bucket plus all single-bit flips, so any pair whose
    sign patterns differ in <= probe_bits planes collides — near-identical
    vectors (the near-dup regime) almost never disagree on a hyperplane.
    The exact cosine (zip_with/aggregate Columns, JVM codegen) runs only on
    colliding pairs; no all-pairs join ever materializes. Recall at the
    certification threshold is measured (tests + oracle gate), like the
    SimHash block prefilter. ``dim`` may stay None — the hyperplane UDF
    derives its plane matrix lazily per worker from the seeded rng, so no
    plan-build-time job runs."""
    from .join import spread_small_input

    sig = make_hyperplane_sig_udf(dim, n_planes, seed)
    # spread a narrow scan before the signature kernel and CACHE the signed
    # slice: the probe/build branches below would otherwise each rerun the
    # hyperplane UDF (same pattern as the text LSH builders; one narrow
    # cached block per call). The per-row norm rides along so the exact
    # verify pays one dot fold per pair instead of three (bit-identical).
    base = cache(spread_small_input(
        vectors.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("v")),
        F.col("doc"),
    ).withColumn("bucket0", sig(F.col("v"))).withColumn("_n", _norm("v")))
    masks = [0]
    if probe_bits >= 1:
        masks += [1 << i for i in range(n_planes)]
    if probe_bits >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    probes = F.array(*[F.col("bucket0").bitwiseXOR(F.lit(m)) for m in masks])
    l = (
        base.withColumn("bucket", F.explode(probes))
        .select(F.col("doc").alias("doc1"), F.col("v").alias("v1"),
                F.col("_n").alias("_n1"), "bucket")
    )
    r = base.select(
        F.col("doc").alias("doc2"), F.col("v").alias("v2"),
        F.col("_n").alias("_n2"), F.col("bucket0").alias("bucket"),
    )
    sim = _dot("v1", "v2") / (F.col("_n1") * F.col("_n2"))
    return (
        l.join(r, "bucket")
        .where(F.col("doc1") < F.col("doc2"))
        .dropDuplicates(["doc1", "doc2"])
        .withColumn("cosine", sim)
        .where(F.col("cosine") >= threshold)
        .select("doc1", "doc2", F.round("cosine", 6).alias("cosine"))
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    probe_bits: int = 1,
) -> DataFrame:
    """LSH-bucketed ANN: equi-join on hyperplane sign bucket with multi-probe
    (explode query bucket plus all single-bit flips). Approximate — recall
    measured in tests, not guaranteed exact. ``dim`` may stay None (lazy
    seeded plane matrix per worker; no plan-build job)."""
    sig = make_hyperplane_sig_udf(dim, n_planes)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("bucket", sig(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).withColumn("bucket0", sig(F.col("qv")))
    if probe_bits >= 1:
        probes = F.array(
            F.col("bucket0"),
            *[
                F.col("bucket0").bitwiseXOR(F.lit(1 << i))
                for i in range(n_planes)
            ],
        )
    else:
        probes = F.array(F.col("bucket0"))
    q = q.withColumn("bucket", F.explode(probes)).drop("bucket0")
    sim = _dot("qv", "cv") / (_norm("qv") * _norm("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cosine", sim)
        .withColumn("sim_rank", F.row_number().over(w))
        .where(F.col("sim_rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "sim_rank")
    )


def dedup_embeddings(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keeper_order: list | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """One-call EMBEDDING corpus dedup — the semantic arm of the dedup
    suite, twin of clusters.dedup_documents / images.dedup_images:
    exact cosine near-dup pairs (cosine_near_dup_exact — the provably
    complete suffix-norm prefilter, recall 1.0 by mathematics) ->
    connected components -> deterministic keeper. Returns vectors +
    (cluster_id, is_keeper); ``.where("is_keeper")`` is the semantically
    deduplicated corpus. Every stage is the corresponding certified
    operator, just wired together."""
    from .clusters import dedup_clusters

    pairs = cosine_near_dup_exact(
        vectors, threshold, id_col=id_col, vec_col=vec_col
    )
    return dedup_clusters(
        vectors, pairs, id_col=id_col, id1="doc1", id2="doc2",
        keeper_order=keeper_order, max_iter=max_iter,
    )
