"""Text operators: exact dedup, MinHash-LSH recall vs exact Jaccard,
SimHash, fingerprint determinism, quality/lang stats."""

import numpy as np
import pandas as pd
import pytest

from geoengine import text


def _docs_with_dups(spark):
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the trip north",
        "sphinx of black quartz judge my vow said the curator slowly",
        "inside the warehouse the workers stack the crates near the door",
    ]
    rows = []
    i = 0
    for b in base:
        for rep in range(3):  # exact dups
            rows.append({"doc_id": i, "text": b, "source": "s0"})
            i += 1
        # near dup: one word changed
        rows.append({"doc_id": i, "text": b.replace("the", "thy", 1), "source": "s0"})
        i += 1
    for j in range(30):  # unrelated noise
        rng = np.random.default_rng(j)
        words = [f"w{rng.integers(0, 5000)}" for _ in range(12)]
        rows.append({"doc_id": i, "text": " ".join(words), "source": "s1"})
        i += 1
    return spark.createDataFrame(pd.DataFrame(rows))


def test_exact_dedup_groups(spark):
    d = text.exact_dedup(_docs_with_dups(spark)).toPandas()
    assert (d["n_dups"] == 3).sum() == 4  # four triplicated bases
    assert d["n_dups"].sum() == 4 * 4 + 30


def test_minhash_finds_near_dups(spark):
    docs = _docs_with_dups(spark)
    pairs = text.minhash_near_dup_pairs(
        docs, num_hashes=64, bands=16, jaccard_threshold=0.5
    ).toPandas()
    got = set(zip(pairs["doc1"], pairs["doc2"]))
    # every exact-dup pair within a triplet must be found (jaccard 1.0)
    for base in range(4):
        ids = [base * 4, base * 4 + 1, base * 4 + 2]
        for a in ids:
            for b in ids:
                if a < b:
                    assert (a, b) in got
    # near-dup (one-word change) should also collide in >=1 band
    assert (0, 3) in got or (1, 3) in got or (2, 3) in got
    # unrelated noise docs must not pair with the bases
    noise_ids = set(range(16, 46))
    assert not any((a in noise_ids) != (b in noise_ids) for a, b in got)


def test_simhash_near_dup(spark):
    docs = _docs_with_dups(spark)
    pairs = text.simhash_near_dup_pairs(docs, max_hamming=6).toPandas()
    got = set(zip(pairs["doc1"], pairs["doc2"]))
    assert (0, 1) in got and (4, 5) in got  # exact dups: hamming 0
    assert all(h <= 6 for h in pairs["hamming"])


def test_fingerprint_deterministic(spark):
    import hashlib

    docs = _docs_with_dups(spark)
    out = docs.select(
        "doc_id", "text", text.fingerprint_expr("text").alias("fp")
    ).toPandas()
    by_text = out.groupby("text")["fp"].nunique()
    assert (by_text == 1).all()  # same text -> same fingerprint
    assert out["fp"].nunique() > 30  # distinct texts -> distinct fps
    # value golden: md5-prefix definition, reproducible anywhere
    row = out.iloc[0]
    want = int(hashlib.md5(row["text"].encode()).hexdigest()[:15], 16)
    assert int(row["fp"]) == want


def test_simhash_batch_matches_per_doc_reference():
    # lock the vectorized kernel to the definitional per-doc computation
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "ab",
        "",
    ]
    got = text.simhash_batch(texts)
    for i, t in enumerate(texts):
        sh = text._shingle_hashes(t or "", 5)
        bits = ((sh[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int64)
        score = (2 * bits - 1).sum(axis=0)
        want = 0
        for k in range(64):
            if score[k] > 0:
                want |= 1 << k
        want = np.uint64(want).astype(np.int64)
        assert got[i] == want


def test_text_stats_and_lang(spark):
    docs = _docs_with_dups(spark)
    out = text.with_text_stats(docs).toPandas()
    en = out[out["doc_id"] == 0].iloc[0]
    assert en["lang_pred"] == "en"  # 'the' rich sentence
    noise = out[out["doc_id"] == 20].iloc[0]
    assert noise["lang_pred"] == "other"
    assert (out["n_tokens"] > 0).all()
    assert ((out["space_ratio"] > 0) & (out["space_ratio"] < 1)).all()


# ---------------------------------------------------------------------------
# property-based invariants (hypothesis) — signature kernels, no Spark
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_texts = st.lists(
    st.text(alphabet="abcdefg h", min_size=0, max_size=60), min_size=1, max_size=8
)


@settings(max_examples=50, deadline=None)
@given(_texts)
def test_simhash_batch_deterministic_and_batch_invariant(texts):
    # batching must not change values: computing one-by-one == all-at-once
    whole = text.simhash_batch(texts)
    singles = np.array([text.simhash_batch([t])[0] for t in texts])
    assert (whole == singles).all()


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet="abcde fg", min_size=5, max_size=80))
def test_shingles_invariant_under_duplication(t):
    # shingle SET of t+t (overlap-joined) is a superset of t's; identical
    # text always yields identical simhash
    a = text.simhash_batch([t, t])
    assert a[0] == a[1]


def test_simhash_regime_qualifying_pairs_hamming_lt_8(spark):
    # ADVICE r2: q_simhash_near_dup's exactness claim rests on every
    # qualifying (word-jaccard >= 0.97) pair of the GATE corpus having
    # simhash hamming < 8 — the block_bits=8 pigeonhole guarantee only
    # covers hamming 0..7. Measure the actual hamming distribution so a
    # fixture/featurizer change that leaves the regime fails HERE with the
    # distribution in hand, not as an opaque gate hash mismatch.
    import os

    from pyspark.sql import functions as F

    gate_dir = "/root/testdata/sf0.01"
    if not os.path.exists(f"{gate_dir}/documents.parquet"):
        pytest.skip("gate fixture not present")
    docs = spark.read.parquet(f"{gate_dir}/documents.parquet")
    # qualifying set via the minhash path (recall 1.0 at this threshold)
    qual = text.lsh_verified_jaccard_pairs(
        docs, threshold=0.97, prefilter="minhash"
    )
    sims = docs.select(
        F.col("doc_id").alias("doc"),
        text.make_simhash_from_hashes_udf()(text.word_hashes_expr()).alias("sh"),
    )
    ham = (
        qual.join(sims.select(F.col("doc").alias("doc1"),
                              F.col("sh").alias("s1")), "doc1")
        .join(sims.select(F.col("doc").alias("doc2"),
                          F.col("sh").alias("s2")), "doc2")
        .select(F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).alias("h"))
        .toPandas()["h"]
    )
    assert len(ham) > 0
    dist = ham.value_counts().to_dict()
    assert int(ham.max()) < 8, f"hamming regime broken: {dist}"


def test_hash_split_deterministic_and_proportioned(spark):
    import pandas as pd_

    docs = spark.createDataFrame(
        pd_.DataFrame({"doc_id": range(5000), "text": ["x"] * 5000})
    )
    a = text.hash_split(docs).toPandas().set_index("doc_id")["split"]
    b = text.hash_split(docs).toPandas().set_index("doc_id")["split"]
    assert (a.sort_index() == b.sort_index()).all()  # rerun-stable
    frac = a.value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.03
    assert abs(frac["val"] - 0.1) < 0.02
    assert abs(frac["test"] - 0.1) < 0.02
    # a different salt produces a DIFFERENT (independent) assignment
    c = text.hash_split(docs, salt="other").toPandas().set_index("doc_id")["split"]
    assert (a.sort_index() != c.sort_index()).any()


def test_cap_per_group_semantics(spark):
    import pandas as pd_

    docs = spark.createDataFrame(
        pd_.DataFrame(
            {
                "doc_id": range(100),
                "source": [f"s{i % 3}" for i in range(100)],
                "text": ["x"] * 100,
            }
        )
    )
    out = text.cap_per_group(docs, 5).toPandas()
    sizes = out.groupby("source").size()
    assert (sizes == 5).all()
    # deterministic: the KEPT rows are each group's 5 smallest doc_ids
    for s, grp in out.groupby("source"):
        want = sorted(d for d in range(100) if f"s{d % 3}" == s)[:5]
        assert sorted(grp["doc_id"]) == want


def test_hash_split_rejects_bad_spec(spark):
    import pandas as pd_

    import pytest as pytest_

    docs = spark.createDataFrame(
        pd_.DataFrame({"doc_id": [1, 2], "text": ["a", "b"]})
    )
    with pytest_.raises(ValueError):  # weights/names length mismatch
        text.hash_split(docs, weights=(0.5, 0.5), names=("a", "b", "c"))
    with pytest_.raises(ValueError):  # weights don't sum to 1
        text.hash_split(docs, weights=(0.5, 0.4), names=("a", "b"))
    with pytest_.raises(ValueError):  # SQL twin validates identically
        text.sql_hash_split(weights=(0.9, 0.2), names=("a", "b"))


def test_cap_per_group_id_tiebreak(spark):
    """Non-unique order_col: id_col decides deterministically (kept set is
    the k smallest (order, id) pairs, not an arbitrary k of the ties)."""
    import pandas as pd_

    docs = spark.createDataFrame(
        pd_.DataFrame(
            {
                "doc_id": range(40),
                "source": ["s0"] * 40,
                "rank": [7] * 40,  # fully tied order column
            }
        )
    )
    out = text.cap_per_group(docs, 6, order_col="rank").toPandas()
    assert sorted(out["doc_id"]) == list(range(6))


def test_stratified_sample_deterministic_nested_proportioned(spark):
    import pandas as pd_

    docs = spark.createDataFrame(
        pd_.DataFrame(
            {
                "doc_id": range(6000),
                "source": [f"s{i % 3}" for i in range(6000)],
                "text": ["x"] * 6000,
            }
        )
    )
    fr = {"s0": 0.9, "s1": 0.2, "s2": 0.0}
    a = text.stratified_sample(docs, fr).toPandas()
    b = text.stratified_sample(docs, fr).toPandas()
    assert sorted(a["doc_id"]) == sorted(b["doc_id"])  # rerun-stable
    frac = a.groupby("source").size() / 2000.0
    assert abs(frac.get("s0", 0) - 0.9) < 0.03
    assert abs(frac.get("s1", 0) - 0.2) < 0.03
    assert "s2" not in frac.index  # fraction 0 keeps nothing
    # nesting: the 20% sample of s1 is a subset of a 60% sample
    big = text.stratified_sample(docs, {"s0": 0.9, "s1": 0.6, "s2": 0.0}).toPandas()
    assert set(a["doc_id"]) <= set(big["doc_id"])
    # invalid fraction fails loudly
    import pytest as pytest_

    with pytest_.raises(ValueError):
        text.stratified_sample(docs, {"s0": 1.5})


def test_pack_sequences_bin_invariants(spark):
    import pandas as pd_

    rng = __import__("numpy").random.default_rng(29)
    docs = spark.createDataFrame(
        pd_.DataFrame(
            {
                "doc_id": range(300),
                "source": [f"s{i % 5}" for i in range(300)],
                "text": [" ".join(["w"] * int(rng.integers(1, 200)))
                         for _ in range(300)],
            }
        )
    )
    out = text.pack_sequences(docs, 512).toPandas()
    # bins are contiguous and non-decreasing in order within each source,
    # and every bin's EXCLUSIVE starting offset is below the budget edge
    for s, grp in out.sort_values("doc_id").groupby("source"):
        cum = 0
        for r in grp.itertuples():
            assert r.bin == cum // 512  # exclusive-prefix-sum rule exactly
            cum += r.n_tokens
        assert list(grp["bin"]) == sorted(grp["bin"])


def test_hash_split_is_order_and_partitioning_invariant(spark):
    import pandas as pd_

    docs = pd_.DataFrame({"doc_id": range(1000), "text": ["x"] * 1000})
    a = (
        text.hash_split(spark.createDataFrame(docs))
        .toPandas().set_index("doc_id")["split"].sort_index()
    )
    # reversed row order + different partitioning must not change any
    # assignment (the split is a pure function of the id)
    b = (
        text.hash_split(
            spark.createDataFrame(docs.iloc[::-1]).repartition(17)
        )
        .toPandas().set_index("doc_id")["split"].sort_index()
    )
    assert (a == b).all()
