"""Near-dup cluster resolution (clusters.py): large-star/small-star
connected components vs a pure-Python union-find twin, keeper rules,
bounded convergence, and plan shape (no cartesian)."""

import random

import pytest
from pyspark.sql import functions as F

from geoengine.clusters import connected_components, dedup_clusters


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = component min: root found by min-merge above
    return {x: find(x) for x in range(n_nodes)}


def _cc_spark(spark, edges):
    pairs = spark.createDataFrame(edges, "doc1 long, doc2 long")
    out = connected_components(pairs)
    return {r["node"]: r["cluster_id"] for r in out.collect()}


def test_chain_and_cycle_and_self_loop(spark):
    # chain 0-1-2-3-4, cycle 10-11-12-10, cross-link 4-10, self-loop 20-20,
    # duplicate + reversed edges, isolated pair 30-31
    edges = [
        (0, 1), (1, 2), (2, 3), (3, 4),
        (10, 11), (11, 12), (12, 10),
        (4, 10), (10, 4), (1, 0),
        (20, 20),
        (30, 31),
    ]
    got = _cc_spark(spark, edges)
    assert got == {
        0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 0, 11: 0, 12: 0,
        30: 30, 31: 30,
    }  # self-loop-only node 20 has no real edge -> absent from pair graph


@pytest.mark.parametrize("seed", [7, 97])
def test_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    n = 200
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    got = _cc_spark(spark, edges)
    want_all = _union_find(n, edges)
    in_graph = {a for e in edges for a in e}
    want = {x: want_all[x] for x in in_graph}
    assert got == want


def test_long_chain_converges_in_logarithmic_rounds(spark):
    # a 64-node chain has diameter 63: plain flooding would need 63 rounds;
    # star contraction must finish within max_iter=10 (O(log n))
    edges = [(i, i + 1) for i in range(63)]
    pairs = spark.createDataFrame(edges, "doc1 long, doc2 long")
    out = connected_components(pairs, max_iter=10)
    rows = out.collect()
    assert len(rows) == 64
    assert all(r["cluster_id"] == 0 for r in rows)


def test_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc1 long, doc2 long")
    assert connected_components(pairs).count() == 0


def test_local_cc_labels_kernel():
    """The numpy min-label/pointer-jumping kernel against the pure-Python
    union-find twin on an adversarial graph (long chain joined backwards
    — maximizes pointer-jump depth)."""
    import numpy as np

    from geoengine.clusters import _local_cc_labels

    edges = [(i + 1, i) for i in range(500)]  # reversed chain
    edges += [(1000, 500), (1001, 1000)]
    u = np.array([a for a, _ in edges], dtype=np.int64)
    v = np.array([b for _, b in edges], dtype=np.int64)
    ids, label = _local_cc_labels(u, v)
    got = {int(ids[i]): int(ids[label[i]]) for i in range(len(ids))}
    want_all = _union_find(1002, edges)
    assert got == {x: want_all[x] for x in got}


def test_dedup_clusters_keeper_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(8)], "doc_id long, quality double"
    )
    pairs = spark.createDataFrame(
        [(1, 5), (5, 7), (2, 4)], "doc1 long, doc2 long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert out == {
        0: (0, True), 3: (3, True), 6: (6, True),   # singletons keep
        1: (1, True), 5: (1, False), 7: (1, False),  # min-id keeper
        2: (2, True), 4: (2, False),
    }
    # best-quality keeper: quality = id % 3 -> in cluster {1,5,7} doc 5 has
    # quality 2.0 (max); in {2,4} doc 2 wins (2.0 > 1.0)
    out2 = {
        r["doc_id"]: r["is_keeper"]
        for r in dedup_clusters(
            docs, pairs, keeper_order=[F.col("quality").desc()]
        ).collect()
    }
    keepers = {k for k, v in out2.items() if v}
    assert keepers == {0, 3, 6, 5, 2}


def test_exactly_one_keeper_per_cluster(spark):
    rng = random.Random(11)
    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc1 long, doc2 long")
    out = dedup_clusters(docs, pairs)
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(F.sum(F.col("is_keeper").cast("int")).alias("k"))
        .collect()
    )
    assert all(r["k"] == 1 for r in per_cluster)
    assert out.count() == 100


def test_dedup_clusters_docs_node_column_preserved(spark):
    """A docs column named 'node' must survive, and pre-existing
    cluster_id/is_keeper columns must be rejected loudly."""
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, node string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc1 long, doc2 long")
    out = dedup_clusters(docs, pairs)
    assert set(out.columns) == {"doc_id", "node", "cluster_id", "is_keeper"}
    rows = {r["doc_id"]: (r["node"], r["cluster_id"]) for r in out.collect()}
    assert rows == {1: ("a", 1), 2: ("b", 1), 3: ("c", 3)}
    bad = docs.withColumn("cluster_id", F.lit(0))
    with pytest.raises(ValueError, match="cluster_id"):
        dedup_clusters(bad, pairs)


def test_dedup_documents_end_to_end(spark):
    """One-call dedup: after keeping only keepers, NO two surviving docs
    are near-dups at the threshold (the defining property of the
    keep-set), and every dropped doc points at a surviving keeper's
    cluster."""
    from geoengine.clusters import dedup_documents
    from geoengine.text import lsh_verified_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup_documents(docs, threshold=0.8).cache()
    keep = out.where("is_keeper")
    n_all, n_keep = out.count(), keep.count()
    assert n_all == docs.count() and 0 < n_keep < n_all
    # keepers are pairwise non-near-dup at the threshold
    survivors = keep.select("doc_id", "text")
    left = lsh_verified_jaccard_pairs(survivors, threshold=0.8)
    assert left.count() == 0
    # dropped docs belong to a cluster whose keeper survives
    dropped = out.where(~out["is_keeper"]).select("cluster_id").distinct()
    keeper_clusters = keep.select("cluster_id").distinct()
    assert dropped.exceptAll(keeper_clusters).count() == 0
    out.unpersist()


# ---------------------------------------------------------------------------
# spatial_dbscan
# ---------------------------------------------------------------------------

def _brute_dbscan(pts, eps_km, min_pts):
    """Textbook DBSCAN with the engine's deterministic tie rules: all-pairs
    neighborhoods (law-of-cosines, <= boundary, self included), min-id
    cluster labels via union-find, border -> min reachable core label."""
    from geoengine.geodesy import dist_law_of_cosines_km

    nbr = {i: set() for i, _, _ in pts}
    for i, la, lo in pts:
        for j, lb, lob in pts:
            if dist_law_of_cosines_km(la, lo, lb, lob) <= eps_km:
                nbr[i].add(j)
    core = {i for i in nbr if len(nbr[i]) >= min_pts}
    parent = {i: i for i in core}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in core:
        for b in nbr[a]:
            if b in core:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    roots = {}
    for c in core:
        roots.setdefault(find(c), []).append(c)
    label = {}
    for members in roots.values():
        lo_id = min(members)
        for c in members:
            label[c] = lo_id
    exp = {}
    for i, _, _ in pts:
        if i in core:
            exp[i] = (True, label[i])
        else:
            reach = sorted(label[c] for c in nbr[i] if c in core)
            exp[i] = (False, reach[0] if reach else None)
    return exp


def _dbscan_spark(spark, pts, eps_km, min_pts, **kw):
    from geoengine.clusters import spatial_dbscan

    df = spark.createDataFrame(
        pts, "id long, latitude double, longitude double"
    )
    out = spatial_dbscan(df, eps_km, min_pts, **kw)
    return {r["id"]: (r["is_core"], r["cluster_id"]) for r in out.collect()}


def test_dbscan_blobs_borders_noise_vs_brute(spark):
    rng = random.Random(7)
    pts, i = [], 0
    for cx, cy in [(10.0, 10.0), (12.0, 40.0), (-30.0, -60.0)]:
        for _ in range(30):
            pts.append((i, cx + rng.uniform(-0.5, 0.5),
                        cy + rng.uniform(-0.5, 0.5)))
            i += 1
    for _ in range(25):
        pts.append((i, rng.uniform(-80, 80), rng.uniform(-170, 170)))
        i += 1
    exp = _brute_dbscan(pts, 60.0, 5)
    got = _dbscan_spark(spark, pts, 60.0, 5)
    assert got == exp
    # the fixture exercises cores (3 clusters) and noise; the border role
    # has its own deterministic test below
    assert len({v[1] for v in exp.values() if v[0]}) == 3
    assert any(v[1] is None for v in exp.values())


def test_dbscan_border_point_min_core_label(spark):
    # chain of 4 mutual cores (0.1 deg lon ~ 11.1 km apart, min_pts=4),
    # one border point reaching ONLY the chain end (2 < min_pts in its own
    # disc), one far noise point
    pts = [(10, 0.0, 0.0), (11, 0.0, 0.1), (12, 0.0, 0.2), (13, 0.0, 0.3),
           (14, 0.0, 0.6), (15, 0.0, 5.0)]
    exp = _brute_dbscan(pts, 40.0, 4)
    got = _dbscan_spark(spark, pts, 40.0, 4)
    assert got == exp
    assert got[14] == (False, 10)   # border, labeled by the min core id
    assert got[15] == (False, None)  # noise


@pytest.mark.parametrize("seed", [1, 2])
def test_dbscan_random_vs_brute(spark, seed):
    rng = random.Random(seed)
    pts = [(i, rng.uniform(-70, 70), rng.uniform(-179, 179))
           for i in range(120)]
    # dense enough that SOME neighborhoods clear min_pts
    eps, minp = 900.0, 3
    assert _dbscan_spark(spark, pts, eps, minp) == _brute_dbscan(
        pts, eps, minp)


def test_dbscan_min_pts_one_every_point_core(spark):
    pts = [(0, 0.0, 0.0), (1, 0.1, 0.1), (2, 50.0, 50.0)]
    got = _dbscan_spark(spark, pts, 20.0, 1)
    # every point is core (self-neighborhood); 0-1 cluster together, 2 alone
    assert got == {0: (True, 0), 1: (True, 0), 2: (True, 2)}


def test_dbscan_all_noise_and_validation(spark):
    pts = [(0, 0.0, 0.0), (1, 40.0, 90.0), (2, None, 10.0),
           (3, 95.0, 0.0)]
    got = _dbscan_spark(spark, pts, 10.0, 2)
    # NULL / out-of-range coordinates dropped entirely (validate_points
    # contract); survivors too sparse for min_pts=2 -> all noise
    assert got == {0: (False, None), 1: (False, None)}
    with pytest.raises(ValueError, match="min_pts"):
        _dbscan_spark(spark, pts, 10.0, 0)


def test_dbscan_contract_invariance_blobs(spark):
    """Grid contraction is EXACT: forced-on vs forced-off must emit
    identical (is_core, cluster_id) for every point — blobs fixture has
    multi-cell components so real cross-cell merging is exercised."""
    rng = random.Random(11)
    pts, i = [], 0
    for cx, cy in [(10.0, 10.0), (12.0, 40.0), (-30.0, -60.0)]:
        for _ in range(40):
            pts.append((i, cx + rng.uniform(-0.7, 0.7),
                        cy + rng.uniform(-0.7, 0.7)))
            i += 1
    for _ in range(20):
        pts.append((i, rng.uniform(-80, 80), rng.uniform(-170, 170)))
        i += 1
    on = _dbscan_spark(spark, pts, 60.0, 5, contract=True)
    off = _dbscan_spark(spark, pts, 60.0, 5, contract=False)
    assert on == off
    assert on == _brute_dbscan(pts, 60.0, 5)
    # the fixture really spans multiple contraction cells per component
    from geoengine.clusters import contraction_half_bits
    from geoengine.join import with_grid_cell

    hb_c = contraction_half_bits(60.0)
    df = spark.createDataFrame(
        pts, "id long, latitude double, longitude double"
    )
    n_cells = with_grid_cell(df, hb_c, out="sc").select("sc").distinct().count()
    assert n_cells > 3  # more cells than clusters -> contraction non-trivial


@pytest.mark.parametrize("seed", [3])
def test_dbscan_contract_invariance_random(spark, seed):
    rng = random.Random(seed)
    pts = [(i, rng.uniform(-70, 70), rng.uniform(-179, 179))
           for i in range(100)]
    on = _dbscan_spark(spark, pts, 900.0, 3, contract=True)
    off = _dbscan_spark(spark, pts, 900.0, 3, contract=False)
    assert on == off == _brute_dbscan(pts, 900.0, 3)


def test_dbscan_contract_validation(spark):
    df = spark.createDataFrame(
        [(0, 0.0, 0.0)], "id long, latitude double, longitude double"
    )
    from geoengine.clusters import contraction_half_bits, spatial_dbscan

    # sub-meter eps: no legal contraction grid
    assert contraction_half_bits(0.0005) is None
    with pytest.raises(ValueError, match="contract=True"):
        spatial_dbscan(df, 0.0005, 1, contract=True)
    # auto silently skips; explicit off works; bogus value rejected
    assert spatial_dbscan(df, 0.0005, 1).count() == 1
    assert spatial_dbscan(df, 0.0005, 1, contract=False).count() == 1
    with pytest.raises(ValueError, match="contract must be"):
        spatial_dbscan(df, 1.0, 1, contract="yes")


def test_dbscan_contraction_cell_diameter_bound():
    """The contraction resolution really enforces diameter <= eps: the
    meridian+parallel path bound at the chosen hb must be <= eps_km."""
    from geoengine.clusters import _CONTRACT_NUM, contraction_half_bits

    for eps in (0.01, 0.5, 5.0, 80.0, 2000.0):
        hb = contraction_half_bits(eps)
        assert hb is not None
        assert _CONTRACT_NUM / (1 << hb) <= eps
        # and one level coarser would violate the bound (minimal grid),
        # unless clamped at MIN_HALF_BITS
        from geoengine.join import MIN_HALF_BITS

        if hb > MIN_HALF_BITS:
            assert _CONTRACT_NUM / (1 << (hb - 1)) > eps
