"""kNN ring-expansion vs brute-force equivalence (exactness property)."""

import numpy as np
import pandas as pd

from geoengine.knn import knn_join_brute, knn_join_rings


def _points(seed, n):
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "id": [f"p{seed}_{i:05d}" for i in range(n)],
            "latitude": rng.uniform(-75, 75, n),
            "longitude": rng.uniform(-179.9, 179.9, n),
        }
    )


def _key_set(df):
    return set(zip(df["origin_id"], df["neighbor_id"], df["knn_rank"]))


def test_rings_equals_brute(spark):
    o = spark.createDataFrame(_points(11, 200))
    nb = spark.createDataFrame(_points(12, 1000))
    k = 5
    brute = knn_join_brute(o, nb, k).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    rings = knn_join_rings(o, nb, k).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    assert len(brute) == 200 * k
    assert _key_set(rings) == _key_set(brute)


def test_rings_sparse_neighbors_fallback(spark):
    # fewer neighbors than k forces the brute fallback path
    o = spark.createDataFrame(_points(13, 50))
    nb = spark.createDataFrame(_points(14, 3))
    out = knn_join_rings(o, nb, 5, max_rounds=2).toPandas()
    assert (out.groupby("origin_id").size() == 3).all()


def test_rings_empty_origins(spark):
    o = spark.createDataFrame(_points(13, 50)).limit(0)
    nb = spark.createDataFrame(_points(14, 30))
    out = knn_join_rings(o, nb, 3)
    assert out.count() == 0
    assert "knn_rank" in out.columns


def test_rings_polar_origins_equal_brute(spark):
    # regression: origins within one cell of the pole must not be certified
    # by the ring bound — an over-the-pole neighbor (large delta-lon) can be
    # closer than the grid-separation guarantee; pole guard routes them to
    # the exact fallback
    rng = np.random.default_rng(17)
    o = pd.DataFrame(
        {
            "id": [f"o{i}" for i in range(40)],
            "latitude": np.concatenate(
                [rng.uniform(88.0, 89.99, 20), rng.uniform(-89.99, -88.0, 20)]
            ),
            "longitude": rng.uniform(-179.9, 179.9, 40),
        }
    )
    nb = pd.DataFrame(
        {
            "id": [f"n{i}" for i in range(600)],
            "latitude": np.concatenate(
                [rng.uniform(85.0, 90.0, 200), rng.uniform(-90.0, -85.0, 200),
                 rng.uniform(-80, 80, 200)]
            ),
            "longitude": rng.uniform(-180.0, 180.0, 600),
        }
    )
    brute = knn_join_brute(
        spark.createDataFrame(o), spark.createDataFrame(nb), 4
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    rings = knn_join_rings(
        spark.createDataFrame(o), spark.createDataFrame(nb), 4, half_bits=5
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    assert _key_set(rings) == _key_set(brute)


def test_rings_clustered_hot_region(spark):
    # dense cluster (hot cells) + far outliers
    rng = np.random.default_rng(15)
    nb = pd.DataFrame(
        {
            "id": [f"n{i}" for i in range(500)],
            "latitude": np.concatenate(
                [rng.uniform(40, 41, 450), rng.uniform(-60, 60, 50)]
            ),
            "longitude": np.concatenate(
                [rng.uniform(-74, -73, 450), rng.uniform(-170, 170, 50)]
            ),
        }
    )
    o = spark.createDataFrame(_points(16, 100))
    brute = knn_join_brute(o, spark.createDataFrame(nb), 3).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    rings = knn_join_rings(o, spark.createDataFrame(nb), 3).select(
        "origin_id", "neighbor_id", "knn_rank"
    ).toPandas()
    assert _key_set(rings) == _key_set(brute)


def test_rings_near_pole_band_edge_window(spark):
    # round-3 review regression: with the old cos clamp at 89.9 deg, an
    # origin whose certification band edge (|lat| + (r+1) cells) lands in
    # (89.9, 90) got an INFLATED lon bound and could be over-certified.
    # Fine grid (half_bits=9, cell ~0.352 deg) + origins chosen so ring 1's
    # band edge falls inside that window; rings must still equal brute.
    rng = np.random.default_rng(19)
    cell = 180.0 / (1 << 9)
    # band edge for r=1 is |lat| + 2*cell: target 89.91..89.99
    lats = 89.95 - 2 * cell - rng.uniform(0.0, 0.08, 30)
    o = pd.DataFrame(
        {
            "id": [f"o{i}" for i in range(30)],
            "latitude": lats,
            "longitude": rng.uniform(-179.9, 179.9, 30),
        }
    )
    nb = pd.DataFrame(
        {
            "id": [f"n{i}" for i in range(800)],
            "latitude": rng.uniform(85.0, 90.0, 800),
            "longitude": rng.uniform(-180.0, 180.0, 800),
        }
    )
    brute = knn_join_brute(
        spark.createDataFrame(o), spark.createDataFrame(nb), 3
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    rings = knn_join_rings(
        spark.createDataFrame(o), spark.createDataFrame(nb), 3, half_bits=9
    ).select("origin_id", "neighbor_id", "knn_rank").toPandas()
    assert _key_set(rings) == _key_set(brute)


def test_knn_per_row_k_brute(spark):
    """Per-row k on the brute surface: each origin keeps ITS OWN cap of
    nearest neighbors; rings refuses per-row k loudly; auto routes
    per-row k to brute."""
    import pandas as pd_
    import pytest as pytest_

    from geoengine.knn import knn_join, knn_join_rings

    rng = np.random.default_rng(31)
    o = pd_.DataFrame({
        "id": [f"o{i}" for i in range(30)],
        "latitude": rng.uniform(-50, 50, 30),
        "longitude": rng.uniform(-150, 150, 30),
        "k": (np.arange(30) % 4) + 1,
    })
    nb = pd_.DataFrame({
        "id": [f"n{i}" for i in range(80)],
        "latitude": rng.uniform(-50, 50, 80),
        "longitude": rng.uniform(-150, 150, 80),
    })
    got = knn_join(
        spark.createDataFrame(o), spark.createDataFrame(nb), "origin_k"
    ).toPandas()
    counts = got.groupby("origin_id").size()
    caps = o.set_index("id")["k"]
    assert (counts == caps[counts.index]).all()
    # kept sets are rank-prefixes: max kept rank == count per origin
    assert (got.groupby("origin_id")["knn_rank"].max() == counts).all()
    with pytest_.raises(TypeError):
        knn_join_rings(
            spark.createDataFrame(o), spark.createDataFrame(nb), "origin_k"
        )


def test_per_row_k_broadcast_gate(spark):
    """Per-row k routes to brute (broadcasts neighbors): a neighbor side
    past the broadcast gate must raise with the rings recipe, and
    strategy='brute' must stay available as the explicit override."""
    import pytest
    from geoengine.knn import knn_join

    o = spark.createDataFrame(
        pd.DataFrame({"id": [1], "latitude": [0.0], "longitude": [0.0],
                      "k": [2]})
    )
    nb = spark.createDataFrame(
        pd.DataFrame({"id": range(50), "latitude": [0.0] * 50,
                      "longitude": [float(i) / 10 for i in range(50)]})
    )
    with pytest.raises(ValueError, match="rings"):
        knn_join(o, nb, "origin_k", broadcast_threshold_rows=10)
    got = knn_join(o, nb, "origin_k", strategy="brute").collect()
    assert len(got) == 2
    # small neighbor side passes the gate on the auto path
    assert len(knn_join(o, nb, "origin_k", broadcast_threshold_rows=1000).collect()) == 2


def test_per_row_k_gate_with_broadcasts_disabled(spark, sf_dir):
    """Session conf autoBroadcastJoinThreshold=-1 disables CATALYST's
    implicit broadcasts — it must NOT make the per-row-k gate reject a
    tiny file-backed neighbor table (the gate falls back to the 64 MiB
    hard cap), while the auto router still respects it for uniform k
    (routes to rings, no forced broadcast)."""
    from pyspark.sql import functions as F

    from geoengine import datasets
    from geoengine.knn import knn_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        o = datasets.customer_points(spark, sf_dir).withColumn(
            "k", (1 + F.col("id") % 3).cast("int")
        )
        nb = datasets.supplier_points(spark, sf_dir)
        got = knn_join(o.limit(5), nb, "origin_k")
        assert got.count() > 0  # tiny parquet side passes the cap gate
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
