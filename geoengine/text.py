"""Training-data text operators: dedup (exact / MinHash-LSH / SimHash /
LSH-verified word Jaccard), language-ID heuristic, quality scoring, token
counting, document fingerprinting.

Design: everything shuffle-bearing is expressed as DataFrame ops on compact
integer/hash keys; Python appears only in vectorized pandas UDFs computing
per-document signatures (Arrow-batched numpy). Every near-dup operator is
one pipeline: :func:`_signed` computes and caches a (doc, sig) slice,
:func:`_collisions` self-joins it on exploded (slot, key) collisions —
MinHash band buckets or SimHash/pHash blocks — and the operator filters
the candidate pairs. At 100 TB that equi-join is the scale path: never a
cross join.
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
SHINGLE_K = 5  # char shingle width of every text-signed signature
MINHASH_SEED = 7  # seed of the MinHash (a, b) coefficients


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
def _minhash_coeffs(num_hashes: int):
    rng = np.random.default_rng(MINHASH_SEED)
    a = rng.integers(1, MERSENNE - 1, num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, MERSENNE - 1, num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


@lru_cache(maxsize=None)
def make_minhash_udf(num_hashes: int = 64):
    """pandas_udf text -> array<long> MinHash signature over char shingles."""
    a, b = _minhash_coeffs(num_hashes)

    @pandas_udf("array<long>")
    def _sig(text: pd.Series) -> pd.Series:
        # one vectorized pass per Arrow batch: concatenate every document's
        # shingle set, apply all hash functions to the flat array, then
        # segment-min back per document with minimum.reduceat
        shingles = [
            _shingle_hashes(t or "", SHINGLE_K) & np.uint64((1 << 32) - 1)
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
def make_minhash_from_hashes_udf(num_hashes: int = 64):
    """pandas_udf array<long> item hashes -> array<long> MinHash signature
    (no Python string processing: items are hashed JVM-side)."""
    a, b = _minhash_coeffs(num_hashes)

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


def simhash_batch(texts) -> np.ndarray:
    """Vectorized SimHash of a batch of texts -> int64[B]."""
    if len(texts) == 0:
        return np.empty(0, dtype=np.int64)
    shingles = [_shingle_hashes(t or "", SHINGLE_K) for t in texts]
    lens = np.array([len(s) for s in shingles], dtype=np.int64)
    return _simhash_from_flat(np.concatenate(shingles), lens)


@lru_cache(maxsize=None)
def make_simhash_udf():
    """pandas_udf text -> int64 SimHash (sign of per-bit sums)."""

    @pandas_udf("long")
    def _sim(text: pd.Series) -> pd.Series:
        return pd.Series(simhash_batch(list(text)))

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
    """Exploded (slot=band, key=bucket) struct array over a MinHash
    signature — ANSI-safe xxhash64 fold per band. Single definition shared
    by every banding caller so the bucket hashing (and hence the
    recall-certified candidate sets) cannot drift between code paths."""
    return F.explode(
        F.expr(
            f"transform(sequence(0, {bands - 1}), "
            f"b -> struct(b AS slot, "
            f"aggregate(slice({sig_col}, b * {rows} + 1, {rows}), CAST(b AS BIGINT), "
            f"(acc, x) -> xxhash64(acc, x)) AS key))"
        )
    )


def block_split_expr(block_bits: int, hash_col: str = "sig"):
    """Exploded (slot=block index, key=block value) struct array splitting
    a 64-bit hash into 64/block_bits exact blocks (pigeonhole candidate
    generation)."""
    nblocks = 64 // block_bits
    mask = (1 << block_bits) - 1
    return F.explode(
        F.expr(
            f"transform(sequence(0, {nblocks - 1}), "
            f"b -> struct(b AS slot, "
            f"shiftright({hash_col}, b * {block_bits}) & {mask} AS key))"
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


def _signed(docs: DataFrame, id_col: str, col: str, sig: Column) -> DataFrame:
    """The (doc, sig) slice every near-dup operator self-joins: ``sig`` is
    a Column over ``docs[col]`` (a signature UDF, or the column itself for
    a stored hash). A narrow scan is spread first — the signature kernel
    (and the collision join's fanout) otherwise runs single-task on a
    one-row-group file (guide §2.2) — and the slice is CACHED, so the two
    join branches compute the signature stage once (a broadcast build side
    is not exchange-reused). An enclosing :func:`storage.scope` releases
    the two-column block once the pairs are materialized."""
    from .join import spread_small_input

    return cache(
        spread_small_input(
            docs.select(F.col(id_col).alias("doc"), F.col(col)), F.col("doc")
        ).select("doc", sig.alias("sig"))
    )


def _collisions(signed: DataFrame, keys: Column, *carry: str) -> DataFrame:
    """Candidate pairs of a signed slice: explode each doc's ``keys`` — a
    generator of struct(slot, key), see :func:`band_bucket_expr` and
    :func:`block_split_expr` — and equi-join the slice with itself on
    (slot, key) with ``doc < doc``. Output (doc1, doc2, <c>1, <c>2 for
    each carried column c); a pair colliding in several slots appears
    once per slot, so callers filter and then dedup."""
    slotted = signed.select("doc", *carry, keys.alias("_k")).select(
        "doc", *carry, "_k.slot", "_k.key"
    )
    l, r = slotted.alias("l"), slotted.alias("r")
    return l.join(
        r,
        (F.col("l.slot") == F.col("r.slot"))
        & (F.col("l.key") == F.col("r.key"))
        & (F.col("l.doc") < F.col("r.doc")),
    ).select(
        F.col("l.doc").alias("doc1"),
        F.col("r.doc").alias("doc2"),
        *[F.col(f"{side}.{c}").alias(f"{c}{i}")
          for c in carry for i, side in ((1, "l"), (2, "r"))],
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding: signature -> band buckets -> equi-join on
    (band, bucket) -> estimated-Jaccard filter. No cross join anywhere;
    the band join shuffles on a 64-bit bucket hash (scale path)."""
    sig = make_minhash_udf(num_hashes)(F.col(text_col))
    signed = _signed(docs, id_col, text_col, sig)
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
        _collisions(signed, band_bucket_expr(bands, num_hashes // bands), "sig")
        .withColumn("est_jaccard", est)
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("doc1", "doc2", "est_jaccard")
        .dropDuplicates(["doc1", "doc2"])
    )


def _hamming_pairs(signed: DataFrame, max_hamming: int,
                   block_bits: int) -> DataFrame:
    """Block-pigeonhole near-dups of a signed 64-bit hash slice: block
    collisions -> exact popcount filter -> one row per pair. The filter
    runs BEFORE the dedup exchange (duplicates of a pair carry identical
    hashes, so it commutes with the dedup): the shuffle then moves only
    the surviving (doc1, doc2, hamming) rows — guide §2.3."""
    return (
        _collisions(signed, block_split_expr(block_bits), "sig")
        .select(
            "doc1", "doc2",
            F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
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

    Output: (doc1, doc2, hamming), doc1 < doc2, each pair once. The
    (id, hash) slice is cached before the self-join (see
    :func:`_signed`): a pandas-UDF simhash or a decode+DCT phash upstream
    runs once, not once per join branch."""
    return _hamming_pairs(
        _signed(df, id_col, hash_col, F.col(hash_col)), max_hamming, block_bits
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
    sig = make_simhash_udf()(F.col(text_col))
    return _hamming_pairs(
        _signed(docs, id_col, text_col, sig), max_hamming, block_bits
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
    # both prefilters sign the distinct word set: the same item space the
    # exact word-Jaccard verify below measures. No estimate filter on the
    # collisions — recall belongs to band/block tuning, precision to the
    # exact verify.
    items = word_hashes_expr(text_col)
    if prefilter == "minhash":
        sig = make_minhash_from_hashes_udf(num_hashes)(items)
        keys = band_bucket_expr(bands, num_hashes // bands)
    elif prefilter == "simhash":
        sig = make_simhash_from_hashes_udf()(items)
        keys = block_split_expr(block_bits)
    else:
        raise ValueError(f"unknown prefilter {prefilter!r}")
    cand = _collisions(_signed(docs, id_col, text_col, sig), keys).dropDuplicates(
        ["doc1", "doc2"]
    )

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
