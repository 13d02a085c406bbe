"""storage.scope(): every block an operator caches or checkpoints is
released when the enclosing scope exits — one leak test per caching
operator, plus the scope's own nesting / exception / double-release
rules, and no stale plan reused by an unscoped cache."""

import random

import pytest

from geoengine import storage
from geoengine.storage import _persistent_rdd_ids


def _pts(spark, seed, n):
    rng = random.Random(seed)
    return spark.createDataFrame(
        [(i, rng.uniform(-60, 60), rng.uniform(-170, 170)) for i in range(n)],
        "id long, latitude double, longitude double",
    )


def _chain(spark, n=20):
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc1 long, doc2 long"
    )


def _diagonal(spark):
    # 40 points ~1.6 km apart on a diagonal: at eps=5 km, min_pts=3 every
    # point is core and the chain is one cluster labelled 0
    return spark.createDataFrame(
        [(i, i * 0.01, i * 0.01) for i in range(40)],
        "id long, latitude double, longitude double",
    )


def _docs(spark):
    fox = "the quick brown fox jumps over the lazy dog near the river bank"
    return spark.createDataFrame(
        [(1, fox), (2, fox), (3, "spark plans shuffle joins over cached blocks")],
        "doc_id long, text string",
    )


def _vectors(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.001, 0.0, 0.0]),
         (3, [0.0, 1.0, 0.0, 0.0]), (4, [0.0, 0.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )


def _knn_rings(spark, monkeypatch):
    from geoengine.knn import knn_join_rings

    return knn_join_rings(_pts(spark, 21, 100), _pts(spark, 22, 500), 4)


def _knn_check(spark, rows):
    from geoengine.knn import knn_join_brute

    brute = knn_join_brute(_pts(spark, 21, 100), _pts(spark, 22, 500), 4)

    def keys(rs):
        return {(r["origin_id"], r["neighbor_id"], r["knn_rank"]) for r in rs}

    assert keys(rows) == keys(brute.collect())  # still exact


def _cc(local: bool):
    def build(spark, monkeypatch):
        from geoengine import gates
        from geoengine.clusters import connected_components

        if not local:
            monkeypatch.setattr(gates, "CC_LOCAL_EDGES", 0)  # the star loop
        return connected_components(_chain(spark))

    return build


def _cc_check(spark, rows):
    assert {(r["node"], r["cluster_id"]) for r in rows} == {
        (i, 0) for i in range(21)
    }


def _dbscan(contract: bool):
    def build(spark, monkeypatch):
        from geoengine.clusters import spatial_dbscan

        return spatial_dbscan(_diagonal(spark), 5.0, 3, contract=contract)

    return build


def _dbscan_check(spark, rows):
    assert {(r["id"], r["is_core"], r["cluster_id"]) for r in rows} == {
        (i, True, 0) for i in range(40)
    }


def _emerging(spark, monkeypatch):
    from geoengine.index import emerging_hotspots

    # bin 1 permutes bin 0's histogram: three cells, all flat (see
    # test_hotspots.test_exact_ties_are_flat)
    rows = ([(60.0, 100.0, 0)] * 3 + [(0.0, 10.0, 0)] + [(0.0, 30.0, 0)] * 2
            + [(60.0, 100.0, 1)] * 3 + [(0.0, 10.0, 1)] * 2
            + [(0.0, 30.0, 1)])
    df = spark.createDataFrame(rows, "latitude double, longitude double, bin long")
    return emerging_hotspots(df, 4)


def _emerging_check(spark, rows):
    assert len(rows) == 3
    assert all(r["s"] == 0 and r["trend"] == "flat" for r in rows)


def _hash_near_dup(spark, monkeypatch):
    from geoengine.text import hash_near_dup_pairs

    df = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 255 << 40)], "doc_id long, h long"
    )
    return hash_near_dup_pairs(df, "h")


def _hash_check(spark, rows):
    # (1,2) hamming 0 kept; doc 3 is a block-collision candidate (shared
    # zero blocks) but at hamming 11 it is filtered
    assert [(r["doc1"], r["doc2"]) for r in rows] == [(1, 2)]


def _minhash(spark, monkeypatch):
    from geoengine.text import minhash_near_dup_pairs

    return minhash_near_dup_pairs(_docs(spark))


def _lsh(prefilter: str):
    def build(spark, monkeypatch):
        from geoengine.text import lsh_verified_jaccard_pairs

        return lsh_verified_jaccard_pairs(_docs(spark), prefilter=prefilter)

    return build


def _cosine(exact: bool):
    def build(spark, monkeypatch):
        from geoengine import similarity

        op = (similarity.cosine_near_dup_exact if exact
              else similarity.cosine_near_dup_pairs)
        return op(_vectors(spark), 0.99)

    return build


def _dup_pair_check(spark, rows):
    assert {(r["doc1"], r["doc2"]) for r in rows} == {(1, 2)}


# name -> (build, check, plan must be cartesian-free). The kNN rings
# stragglers finish in a deliberate cross join, so only it is exempt.
CASES = {
    "knn_rings": (_knn_rings, _knn_check, False),
    "cc_local": (_cc(True), _cc_check, True),
    "cc_star_loop": (_cc(False), _cc_check, True),
    "dbscan_contract": (_dbscan(True), _dbscan_check, True),
    "dbscan_no_contract": (_dbscan(False), _dbscan_check, True),
    "emerging_hotspots": (_emerging, _emerging_check, True),
    "hash_near_dup": (_hash_near_dup, _hash_check, True),
    "minhash_near_dup": (_minhash, _dup_pair_check, True),
    "lsh_jaccard_minhash": (_lsh("minhash"), _dup_pair_check, True),
    "lsh_jaccard_simhash": (_lsh("simhash"), _dup_pair_check, True),
    "cosine_exact": (_cosine(True), _dup_pair_check, True),
    "cosine_lsh": (_cosine(False), _dup_pair_check, True),
}


@pytest.mark.parametrize("case", list(CASES))
def test_scope_releases_every_block(spark, case, monkeypatch):
    build, check, cartesian_free = CASES[case]
    spark.catalog.clearCache()  # no same-plan cache entry from other tests
    before = _persistent_rdd_ids(spark)
    with storage.scope():
        out = build(spark, monkeypatch)
        if cartesian_free:
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
        rows = out.collect()
        assert _persistent_rdd_ids(spark) - before  # the operator persisted
    assert not _persistent_rdd_ids(spark) - before  # ...and nothing survives
    check(spark, rows)


def test_scope_nests_releases_on_error_and_release_is_idempotent(spark):
    base = _persistent_rdd_ids(spark)
    df = spark.range(10)
    with storage.scope():
        outer = storage.cache(df.selectExpr("id * 2 AS x"))
        outer.count()
        with pytest.raises(ValueError):
            with storage.scope():
                _, release = storage.checkpoint(df.selectExpr("id * 3 AS x"))
                raise ValueError("boom")
        # the inner scope released its checkpoint, not the outer cache
        assert len(_persistent_rdd_ids(spark) - base) == 1
        release()  # second release: a no-op
    assert not _persistent_rdd_ids(spark) - base

    # outside any scope: a bare cache, nothing registered or released
    bare = storage.cache(df.selectExpr("id * 5 AS x"))
    bare.count()
    assert len(_persistent_rdd_ids(spark) - base) == 1
    bare.unpersist()


# every other case's default-conf plan holds a broadcast join
NO_BROADCAST_AT_DEFAULT = {"cc_local", "cc_star_loop"}


@pytest.mark.parametrize("case", list(CASES))
def test_unscoped_cache_follows_the_current_conf(spark, case, monkeypatch):
    """A block cached outside any scope was planned under the conf of the
    call that cached it; a later call with an equal plan must not reuse
    it. Each caching operator runs unscoped twice on the same input
    frames, under the default conf and then with broadcasts disabled:
    the second run's plan must hold no broadcast, whatever the first
    one planned, and both must return the same rows."""
    build, check, _ = CASES[case]
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.catalog.clearCache()

    # one frame per input, as in a long-lived session re-querying a
    # table: both runs then plan equal blocks
    frames, create = {}, spark.createDataFrame

    def same_frame(*args, **kwargs):
        arg = repr((args, kwargs))
        if arg not in frames:
            frames[arg] = create(*args, **kwargs)
        return frames[arg]

    monkeypatch.setattr(spark, "createDataFrame", same_frame)

    def run():
        out = build(spark, monkeypatch)  # no scope
        rows = out.collect()
        return rows, out._jdf.queryExecution().executedPlan().toString()

    try:
        default_rows, default_plan = run()
        spark.conf.set(key, "-1")
        rows, plan = run()
    finally:
        spark.conf.set(key, old)
        spark.catalog.clearCache()
    assert ("BroadcastHashJoin" in default_plan) == (
        case not in NO_BROADCAST_AT_DEFAULT)
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastExchange" not in plan
    check(spark, rows)
    assert sorted(map(tuple, rows), key=repr) == sorted(
        map(tuple, default_rows), key=repr)
