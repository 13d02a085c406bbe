"""Training-data text operators: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard), language-ID heuristic, quality scoring, token counting,
document fingerprinting.

Design: everything shuffle-bearing is expressed as DataFrame ops on compact
integer/hash keys; Python appears only in vectorized pandas UDFs computing
per-document signatures (Arrow-batched numpy). At 100 TB the LSH band join
is the scale path: candidate pairs come from an equi-join on (band, bucket)
— never a cross join.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .storage import cache

MERSENNE = (1 << 61) - 1


_SHINGLE_BASE = np.uint64(1099511628211)


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Polynomial hash (mod 2^64) of char k-shingles -> unique uint64 array.
    Vectorized: sliding windows x precomputed base powers, wrap-around
    uint64 arithmetic (identical values to a rolling-hash formulation)."""
    data = text.encode("utf-8", "ignore")
    if len(data) < k:
        data = data + b" " * (k - len(data))
    arr = np.frombuffer(data, dtype=np.uint8)
    win = np.lib.stride_tricks.sliding_window_view(arr, k).astype(np.uint64)
    with np.errstate(over="ignore"):
        pows = np.empty(k, dtype=np.uint64)
        pows[-1] = 1
        for j in range(k - 2, -1, -1):
            pows[j] = pows[j + 1] * _SHINGLE_BASE
        h = (win * pows[None, :]).sum(axis=1, dtype=np.uint64)
    return np.unique(h)


def _minhash_sigs_from_flat(
    flat: np.ndarray, lens: np.ndarray, a: np.ndarray, b: np.ndarray
) -> np.ndarray:
    """Segment-min MinHash over a flat item-hash array (uint64) with
    per-document lengths — one vectorized pass per hash function."""
    num_hashes = len(a)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    sigs = np.empty((len(lens), num_hashes), dtype=np.int64)
    with np.errstate(over="ignore"):
        for j in range(num_hashes):  # num_hashes rows, each fully vectorized
            vals = (a[j] * flat + b[j]) % np.uint64(MERSENNE)
            sigs[:, j] = np.minimum.reduceat(vals, starts).astype(np.int64)
    return sigs


@lru_cache(maxsize=None)
def _minhash_coeffs(num_hashes: int, seed: int):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE - 1, num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE - 1, num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


@lru_cache(maxsize=None)
def make_minhash_udf(num_hashes: int = 64, shingle_k: int = 5, seed: int = 7):
    """pandas_udf text -> array<long> MinHash signature over char shingles."""
    a, b = _minhash_coeffs(num_hashes, seed)

    @pandas_udf("array<long>")
    def _sig(text: pd.Series) -> pd.Series:
        # one vectorized pass per Arrow batch: concatenate every document's
        # shingle set, apply all hash functions to the flat array, then
        # segment-min back per document with minimum.reduceat
        shingles = [
            _shingle_hashes(t or "", shingle_k) & np.uint64((1 << 32) - 1)
            for t in text
        ]
        if not shingles:
            return pd.Series([], dtype=object)
        lens = np.array([len(s) for s in shingles], dtype=np.int64)
        flat = np.concatenate(shingles)
        return pd.Series(list(_minhash_sigs_from_flat(flat, lens, a, b)))

    return _sig


def word_hashes_expr(text_col: str = "text"):
    """JVM-side item hashes of the distinct word set — codegen'd
    ``transform(array_distinct(split(text,' ')), x -> xxhash64(x))`` masked
    to 32 bits. Feeds the *-from_hashes signature UDFs so the LSH item space
    is IDENTICAL to the word-set-Jaccard verify stage."""
    return F.expr(
        f"transform(array_distinct(split(coalesce({text_col}, ''), ' ')), "
        f"x -> xxhash64(x) & 4294967295)"
    )


def _flat_from_hash_arrays(items: pd.Series):
    arrs = [np.asarray(x, dtype=np.int64).astype(np.uint64) for x in items]
    if not arrs:
        return None, None
    lens = np.array([max(len(x), 1) for x in arrs], dtype=np.int64)
    arrs = [x if len(x) else np.zeros(1, np.uint64) for x in arrs]
    return np.concatenate(arrs), lens


@lru_cache(maxsize=None)
def make_minhash_from_hashes_udf(num_hashes: int = 64, seed: int = 7):
    """pandas_udf array<long> item hashes -> array<long> MinHash signature
    (no Python string processing: items are hashed JVM-side)."""
    a, b = _minhash_coeffs(num_hashes, seed)

    @pandas_udf("array<long>")
    def _sig(items: pd.Series) -> pd.Series:
        flat, lens = _flat_from_hash_arrays(items)
        if flat is None:
            return pd.Series([], dtype=object)
        return pd.Series(list(_minhash_sigs_from_flat(flat, lens, a, b)))

    return _sig


_BIT_WEIGHTS = (np.uint64(1) << np.arange(64, dtype=np.uint64))[None, :]


def _simhash_from_flat(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """SimHash over a flat item-hash array with per-doc lengths: expand the
    bit matrix once, segment-sum per document with add.reduceat, then pack
    the per-bit majority signs with a single weighted sum — no per-document
    or per-bit Python loops."""
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    bits = (
        (flat[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)
    ).astype(np.int64)
    counts = np.add.reduceat(bits, starts, axis=0)  # (B, 64)
    score = 2 * counts - lens[:, None]  # sum of (2*bit - 1) per position
    packed = ((score > 0).astype(np.uint64) * _BIT_WEIGHTS).sum(
        axis=1, dtype=np.uint64
    )
    return packed.astype(np.int64)


def simhash_batch(texts, shingle_k: int = 5) -> np.ndarray:
    """Vectorized SimHash of a batch of texts -> int64[B]."""
    if len(texts) == 0:
        return np.empty(0, dtype=np.int64)
    shingles = [_shingle_hashes(t or "", shingle_k) for t in texts]
    lens = np.array([len(s) for s in shingles], dtype=np.int64)
    return _simhash_from_flat(np.concatenate(shingles), lens)


@lru_cache(maxsize=None)
def make_simhash_udf(shingle_k: int = 5):
    """pandas_udf text -> int64 SimHash (sign of per-bit sums)."""

    @pandas_udf("long")
    def _sim(text: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(list(text), shingle_k))

    return _sim


@lru_cache(maxsize=None)
def make_simhash_from_hashes_udf():
    """pandas_udf array<long> item hashes -> int64 SimHash. Hashes are
    re-avalanched through a splitmix64 round first: raw 32-bit-masked
    xxhash64 values have zeroed high bits, which would freeze half the
    simhash bit positions."""

    @pandas_udf("long")
    def _sim(items: pd.Series) -> pd.Series:
        flat, lens = _flat_from_hash_arrays(items)
        if flat is None:
            return pd.Series([], dtype="int64")
        with np.errstate(over="ignore"):
            z = flat + np.uint64(0x9E3779B97F4A7C15)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            z = z ^ (z >> np.uint64(31))
        return pd.Series(_simhash_from_flat(z, lens))

    return _sim


def fingerprint_expr(text_col) -> "F.Column":
    """64-bit-ish content fingerprint -> int64: first 15 hex chars of the
    md5 digest parsed as an integer (60 bits, always positive). Pure Column
    expression (whole-stage codegen, no Python) with an exact DuckDB twin:
    ``CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)``."""
    return F.conv(
        F.substring(F.md5(F.col(text_col).cast("binary") if isinstance(text_col, str)
                          else text_col.cast("binary")), 1, 15),
        16, 10,
    ).cast("long")


def band_bucket_expr(bands: int, rows: int, sig_col: str = "sig"):
    """Exploded (band, bucket) struct array over a MinHash signature —
    ANSI-safe xxhash64 fold per band. Single definition shared by every
    banding caller so the bucket hashing (and hence the recall-certified
    candidate sets) cannot drift between code paths."""
    return F.explode(
        F.expr(
            f"transform(sequence(0, {bands - 1}), "
            f"b -> struct(b AS band, "
            f"aggregate(slice({sig_col}, b * {rows} + 1, {rows}), CAST(b AS BIGINT), "
            f"(acc, x) -> xxhash64(acc, x)) AS bucket))"
        )
    )


def block_split_expr(block_bits: int, hash_col: str = "simhash"):
    """Exploded (blk, val) struct array splitting a 64-bit hash into
    64/block_bits exact blocks (pigeonhole candidate generation)."""
    nblocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    return F.explode(
        F.expr(
            f"transform(sequence(0, {nblocks - 1}), "
            f"b -> struct(b AS blk, "
            f"shiftright({hash_col}, b * {block_bits}) & {mask} AS val))"
        )
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups via content hash (hash-groupBy: map-side
    partial agg, one shuffle on the 128-bit digest)."""
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def hash_bucket(id_col: str, salt: str) -> Column:
    """Content-stable uniform [0,1) bucket: md5(salt||id) first 8 hex
    digits mod 1e6. md5 (not xxhash64) so ANY engine — the DuckDB oracle
    included — reproduces the value bit-exactly; the salt keys independent
    bucketings. Shared by hash_split and stratified_sample.

    NULL ids produce a NULL bucket (SQL semantics on both engines):
    stratified_sample drops such rows (NULL < f is not true);
    hash_split lands them in the LAST split name (every when() is NULL).
    Deduplicate/validate ids upstream if that matters."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))
                      .cast("binary")),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 1_000_000
    ) / 1_000_000.0


def sql_hash_bucket(id_col: str, salt: str) -> str:
    """DuckDB twin of :func:`hash_bucket` (same md5 prefix, modulus)."""
    return (
        f"((CAST(('0x' || substr(md5('{salt}' || CAST({id_col} AS VARCHAR)), "
        f"1, 8)) AS BIGINT) % 1000000) / 1000000.0e0)"
    )


def hash_split(
    docs: DataFrame,
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    id_col: str = "doc_id",
    salt: str = "geoeng-split-v1",
) -> DataFrame:
    """Deterministic train/val/test assignment — the standard
    training-pipeline split, done content-stably so reruns, backfills and
    late-arriving shards land every row in the SAME split (a random()
    split is not reproducible and leaks across epochs/backfills).

    bucket = md5(salt || id) mod 10^6 mapped through the cumulative
    weights. md5 (not xxhash64) so any engine — the DuckDB oracle
    included — reproduces the assignment bit-exactly; the salt keys the
    split so two pipelines with different salts get independent splits.
    Pure Column expression: no shuffle, no UDF, fully codegen."""
    _check_split_spec(weights, names)
    cum, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        cum.append(acc)
    bucket = hash_bucket(id_col, salt)
    expr = F.lit(names[-1])
    for name, edge in zip(reversed(names[:-1]), reversed(cum)):
        expr = F.when(bucket < edge, F.lit(name)).otherwise(expr)
    return docs.withColumn("split", expr)


def _check_split_spec(
    weights: tuple[float, ...], names: tuple[str, ...], eps: float = 1e-6
) -> None:
    """A silently-mismatched spec mis-assigns rows (the last name absorbs
    all residual mass) — fail loudly at entry instead."""
    if len(weights) != len(names):
        raise ValueError(
            f"hash_split: {len(weights)} weights for {len(names)} names"
        )
    if not names:
        raise ValueError("hash_split: empty split spec")
    if any(w < 0 for w in weights) or abs(sum(weights) - 1.0) > eps:
        raise ValueError(
            f"hash_split: weights must be >=0 and sum to 1.0, got {weights}"
        )


def sql_hash_split(
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    id_col: str = "doc_id",
    salt: str = "geoeng-split-v1",
) -> str:
    """DuckDB twin of hash_split's bucket expression (same md5 prefix,
    same modulus, same boundaries)."""
    from .exprs import sql_double as dlit

    _check_split_spec(weights, names)
    bucket = sql_hash_bucket(id_col, salt)
    cum, acc = [], 0.0
    for w in weights[:-1]:
        acc += w
        cum.append(acc)

    case = f"'{names[-1]}'"
    for name, edge in zip(reversed(names[:-1]), reversed(cum)):
        case = f"CASE WHEN {bucket} < {dlit(edge)} THEN '{name}' ELSE {case} END"
    return case


def stratified_sample(
    docs: DataFrame,
    fractions,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "geoeng-sample-v1",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-group sampling — the training-MIX reweighting op
    (keep 90% of one domain, 10% of another). ``fractions`` is either a
    ``dict[group_value -> keep_fraction]`` or a Column computing the
    per-row keep fraction. Rows keep iff their content-stable
    :func:`hash_bucket` (md5-salted, uniform [0,1)) falls below the
    fraction — so reruns, backfills and late shards keep the SAME rows
    (``df.sample()`` is not reproducible across retries/partitionings),
    and a row kept at fraction f stays kept at any fraction > f (nested
    samples for scaling-law runs). Pure Column: no shuffle, no UDF."""
    if isinstance(fractions, Column):
        frac = fractions
    else:
        frac = F.lit(float(default_fraction))
        for g, f in fractions.items():
            if not (0.0 <= f <= 1.0):
                raise ValueError(f"fraction for {g!r} out of [0,1]: {f}")
            frac = F.when(F.col(group_col) == g, F.lit(float(f))).otherwise(frac)
    return docs.where(hash_bucket(id_col, salt) < frac)


def cap_per_group(
    docs: DataFrame,
    k: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most k rows per group (deterministic order) — the standard
    per-domain/per-source cap that stops one crawler domain from dominating
    a training mix. One window shuffle on the group key; at 100 TB the
    group cardinality is huge (domains), so partitions stay balanced, and
    hot groups cost only their own partition's sort. ``id_col`` is the
    final tie-break so a non-unique ``order_col`` still yields a
    deterministic keep-set."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(order_col).asc(), F.col(id_col).asc()
    )
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int = 512,
    group_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contiguous greedy sequence packing — the LLM-training op that
    concatenates documents into ~budget-token bins. Within each group the
    docs accumulate in deterministic order and bin id = exclusive prefix
    token sum // budget (a doc straddling a boundary starts the next bin's
    overflow — the contiguous approximation pipelines use at scale, since
    exact bin packing is NP-hard and inherently sequential). One window
    shuffle on the group key; token counts are the whitespace rule shared
    with token_count so the DuckDB oracle reproduces every bin id."""
    n_tokens = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), " ", "")) + 1
    ).cast("long")
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(n_tokens).over(w)
    return docs.withColumn(
        "bin", F.floor((cum - n_tokens) / budget_tokens).cast("long")
    ).withColumn("n_tokens", n_tokens)


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    shingle_k: int = 5,
) -> DataFrame:
    """MinHash + LSH banding: signature -> band buckets -> equi-join on
    (band, bucket) -> estimated-Jaccard filter. No cross join anywhere;
    the band join shuffles on a 64-bit bucket hash (scale path)."""
    from .join import spread_small_input

    rows = num_hashes // bands
    sig = make_minhash_udf(num_hashes, shingle_k)
    with_sig = cache(  # self-joined below: compute the signature UDF once
        # spread a narrow scan first: the shingling/MinHash Arrow kernel
        # otherwise runs single-task on a one-row-group file (guide §2.2)
        spread_small_input(
            docs.select(F.col(id_col).alias("doc"), F.col(text_col)),
            F.col("doc"),
        )
        .withColumn("sig", sig(F.col(text_col)))
        .drop(text_col)
    )

    banded = with_sig.select(
        "doc",
        "sig",
        band_bucket_expr(bands, rows).alias("bb"),
    ).select("doc", "sig", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    left = banded.alias("l")
    right = banded.alias("r")
    est = F.expr(
        "aggregate(zip_with(sig1, sig2, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        "0, (acc, v) -> acc + v)"
    ) / F.lit(float(num_hashes))
    # estimate + threshold BEFORE the dedup exchange: duplicates of a pair
    # carry identical signatures (identical estimate), so filter-then-dedup
    # == dedup-then-filter — but doing it first shrinks the shuffle to the
    # surviving pairs and to 3 narrow columns instead of two 64-long
    # signatures per row (guide §2.3)
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("doc1"),
            F.col("r.doc").alias("doc2"),
            F.col("l.sig").alias("sig1"),
            F.col("r.sig").alias("sig2"),
        )
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("doc1", "doc2", "est_jaccard")
        .dropDuplicates(["doc1", "doc2"])
    )


def hash_near_dup_pairs(
    df: DataFrame,
    hash_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 6,
    block_bits: int = 16,
) -> DataFrame:
    """Generic 64-bit-hash near-dup via block pigeonhole — works on ANY
    int64 signature column (simhash of text, phash of images, ...). Split
    the hash into 64/block_bits exact blocks; a pair within hamming<=k
    MUST share >=1 unchanged block whenever k < 64/block_bits (pigeonhole
    — exact recall in that regime; wider k is recall-bounded) -> equi-join
    per (block index, block value), exact popcount filter. Never an
    all-pairs plan: candidates come from the block equi-join.

    Output: (id1, id2, hamming), id1 < id2, each pair once.

    The (id, hash) projection is CACHED before the self-join: the two join
    branches would otherwise each re-execute the (possibly expensive)
    signature stage — a pandas-UDF simhash or a decode+DCT phash — since a
    broadcast build side is not exchange-reused. Same protection (and
    cache-block trade) as minhash_near_dup_pairs' signature cache; the
    cached slice is two compact columns, released by an enclosing
    :func:`storage.scope` once the pairs are materialized."""
    from .join import spread_small_input

    d = cache(spread_small_input(
        df.select(F.col(id_col).alias("doc"), F.col(hash_col).alias("_h64")),
        F.col("doc"),
    ))
    blocked = d.select(
        "doc",
        "_h64",
        block_split_expr(block_bits, "_h64").alias("bb"),
    ).select("doc", "_h64", "bb.blk", "bb.val")
    l, r = blocked.alias("l"), blocked.alias("r")
    # popcount + threshold BEFORE the dedup exchange (duplicates of a pair
    # carry identical hashes, so the hamming filter commutes with the
    # dedup): the shuffle then moves only the surviving (doc1, doc2,
    # hamming) rows — guide §2.3
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("doc1"),
            F.col("r.doc").alias("doc2"),
            F.bit_count(
                F.col("l._h64").bitwiseXOR(F.col("r._h64"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc1", "doc2"])
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    block_bits: int = 16,
) -> DataFrame:
    """SimHash near-dup via block permutation: split the 64-bit hash into
    4 x 16-bit blocks; pairs within hamming<=k must share >=1 exact block
    (pigeonhole for k<=3 with 4 blocks; wider k accepted as recall-bounded)
    -> equi-join per block, exact popcount filter."""
    from .join import spread_small_input

    sim = make_simhash_udf()
    d = spread_small_input(
        docs.select(F.col(id_col), F.col(text_col)), F.col(id_col)
    ).withColumn("simhash", sim(F.col(text_col))).drop(text_col)
    return hash_near_dup_pairs(
        d, "simhash", id_col=id_col,
        max_hamming=max_hamming, block_bits=block_bits,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    threshold: float = 0.3,
    max_group_rows: int | None = None,
) -> DataFrame:
    """Exact word-set Jaccard within candidate groups (blocked self-join) —
    the exact-verification stage after an LSH prefilter.

    SCALE WARNING: this is QUADRATIC within each ``group_col`` group (the
    self-join emits |g|^2/2 candidate rows per group). That is the point
    when the groups are LSH buckets or otherwise pre-blocked candidates —
    but calling it directly on a raw corpus column with a hot group (one
    crawler domain with 10^7 docs) materializes ~10^14 pairs. At corpus
    scale use :func:`lsh_verified_jaccard_pairs`, which generates
    candidates by MinHash banding / SimHash blocks first and runs this
    exact test only on collisions. ``max_group_rows`` makes the footgun
    loud: when set, one cheap groupBy-count pass raises if any group
    exceeds it (pay a small extra scan to refuse a runaway join)."""
    if max_group_rows is not None:
        hot = (
            docs.groupBy(F.col(group_col))
            .agg(F.count("*").alias("_n"))
            .where(F.col("_n") > max_group_rows)
            .orderBy(F.col("_n").desc())
            .limit(3)
            .collect()
        )
        if hot:
            worst = ", ".join(f"{r[0]!r}:{r['_n']}" for r in hot)
            raise ValueError(
                f"ngram_jaccard_pairs: group(s) over max_group_rows="
                f"{max_group_rows} would go quadratic ({worst}); use "
                "lsh_verified_jaccard_pairs for un-blocked corpora"
            )
    d = docs.select(
        F.col(id_col).alias("doc"),
        F.col(group_col).alias("grp"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("words"),
    )
    l, r = d.alias("l"), d.alias("r")
    inter = F.size(F.array_intersect(F.col("l.words"), F.col("r.words")))
    uni = (
        F.size(F.col("l.words")) + F.size(F.col("r.words")) - inter
    )
    return (
        l.join(
            r,
            (F.col("l.grp") == F.col("r.grp")) & (F.col("l.doc") < F.col("r.doc")),
        )
        .withColumn("jaccard", inter.cast("double") / uni.cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col("l.doc").alias("doc1"),
            F.col("r.doc").alias("doc2"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


def _minhash_band_candidates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(doc1 < doc2) candidate pairs = any band-bucket collision (no
    estimated-Jaccard filter — recall belongs to band tuning, precision to
    the exact verify stage downstream). Signs the distinct word set (the
    same item space the exact word-Jaccard verify measures)."""
    from .join import spread_small_input

    rows = num_hashes // bands
    sig_col = make_minhash_from_hashes_udf(num_hashes)(
        word_hashes_expr(text_col)
    )
    # spread BEFORE the signature kernel (single-row-group files otherwise
    # run it single-task — and that one task would also own the whole
    # band-collision join fanout); cache so the self-join's two branches
    # compute the signature stage once, mirroring minhash_near_dup_pairs
    with_sig = cache(
        spread_small_input(
            docs.select(F.col(id_col).alias("doc"), F.col(text_col)),
            F.col("doc"),
        )
        .withColumn("sig", sig_col)
        .drop(text_col)
    )
    banded = with_sig.select(
        "doc",
        band_bucket_expr(bands, rows).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc1"), F.col("r.doc").alias("doc2"))
        .dropDuplicates(["doc1", "doc2"])
    )


def _simhash_block_candidates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    block_bits: int,
) -> DataFrame:
    """(doc1 < doc2) candidate pairs sharing >=1 exact simhash block of
    the word-set simhash (pigeonhole: guarantees recall of every pair with
    hamming < 64/block_bits)."""
    from .join import spread_small_input

    sim_col = make_simhash_from_hashes_udf()(word_hashes_expr(text_col))
    # same spread+cache rationale as _minhash_band_candidates
    d = cache(spread_small_input(
        docs.select(F.col(id_col).alias("doc"), F.col(text_col)),
        F.col("doc"),
    ).withColumn("simhash", sim_col).drop(text_col))
    blocked = d.select(
        "doc",
        block_split_expr(block_bits).alias("bb"),
    ).select("doc", "bb.blk", "bb.val")
    l, r = blocked.alias("l"), blocked.alias("r")
    return (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc1"), F.col("r.doc").alias("doc2"))
        .dropDuplicates(["doc1", "doc2"])
    )


def lsh_verified_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    group_col: str | None = None,
    prefilter: str = "minhash",
    num_hashes: int = 64,
    bands: int = 32,
    block_bits: int = 8,
) -> DataFrame:
    """Scale-safe exact near-dup pairs: LSH candidate generation (MinHash
    banding or SimHash blocks) -> exact word-set Jaccard verify on the
    candidates only. Output (doc1, doc2, jaccard) with jaccard >= threshold.

    This is the 100-TB composition: no all-pairs join ever materializes —
    the quadratic exact test runs only on bucket collisions. At gate scale
    the band/block parameters are tuned for recall 1.0, so the result
    equals the all-pairs computation and is DuckDB-oracle-checkable.

    Banding S-curve (tune per corpus/threshold): P(collide) =
    1 - (1 - j^rows)^bands with rows = num_hashes/bands. The default
    (64 hashes, 32 bands of 2) has its knee near j~0.18 — recall at
    j>=0.8 is 1 - 3e-15 (that certainty is why the oracle can demand
    exactness), at the price of admitting candidates down to j~0.2.
    On a corpus where sub-threshold cross-similarity is common, raise
    rows (e.g. 16 bands of 4: knee ~0.5, miss at j=0.8 ~2e-4 — no longer
    oracle-exact, but a far tighter prefilter). Recall belongs to banding,
    precision to the exact verify.
    """
    if prefilter == "minhash":
        cand = _minhash_band_candidates(docs, id_col, text_col, num_hashes,
                                        bands)
    elif prefilter == "simhash":
        cand = _simhash_block_candidates(docs, id_col, text_col, block_bits)
    else:
        raise ValueError(f"unknown prefilter {prefilter!r}")

    cols = [F.col(id_col).alias("doc"),
            F.array_distinct(F.split(F.col(text_col), " ")).alias("words")]
    if group_col is not None:
        cols.append(F.col(group_col).alias("grp"))
    d = docs.select(*cols)
    j = (
        cand.join(d.select(F.col("doc").alias("doc1"),
                           F.col("words").alias("w1"),
                           *([F.col("grp").alias("g1")] if group_col else [])),
                  "doc1")
        .join(d.select(F.col("doc").alias("doc2"),
                       F.col("words").alias("w2"),
                       *([F.col("grp").alias("g2")] if group_col else [])),
              "doc2")
    )
    if group_col is not None:
        j = j.where(F.col("g1") == F.col("g2"))
    inter = F.size(F.array_intersect(F.col("w1"), F.col("w2")))
    uni = F.size("w1") + F.size("w2") - inter
    return (
        j.withColumn("jaccard", inter.cast("double") / uni.cast("double"))
        .where(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", F.round("jaccard", 6).alias("jaccard"))
    )


STOPWORDS_EN = ("the", "and", "of", "to", "a", "in", "is", "it")


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic + quality scores as pure Column expressions."""
    t = F.col(text_col)
    length = F.length(t).cast("double")
    n_sp = (F.length(t) - F.length(F.regexp_replace(t, " ", ""))).cast("double")
    n_tokens = n_sp + 1.0
    stop_hits = None
    for w in STOPWORDS_EN:
        c = (
            F.length(F.concat(F.lit(" "), t, F.lit(" ")))
            - F.length(F.regexp_replace(F.concat(F.lit(" "), t, F.lit(" ")),
                                        f" {w} ", ""))
        ) / float(len(w) + 2)
        stop_hits = c if stop_hits is None else stop_hits + c
    return (
        docs.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn("space_ratio", n_sp / length)
        .withColumn("mean_token_len", (length - n_sp) / n_tokens)
        .withColumn("stopword_ratio", stop_hits / n_tokens)
        .withColumn("lang_pred", F.when(F.col("stopword_ratio") > 0.05, "en")
                    .otherwise("other"))
    )
