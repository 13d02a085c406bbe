"""Salting invariance + skew reduction (north_rule explicit skew handling)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoengine.index import (
    cell_histogram,
    hot_cells,
    radius_join_pairs_salted,
)
from geoengine.join import radius_join_pairs


def _skewed_points(seed, n_hot, n_bg):
    """One deliberately hot cell + uniform background (FIXTURES.md §1)."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "id": [f"s{seed}_{i:06d}" for i in range(n_hot + n_bg)],
            "latitude": np.concatenate(
                [40.7 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-70, 70, n_bg)]
            ),
            "longitude": np.concatenate(
                [-74.0 + rng.uniform(-0.05, 0.05, n_hot), rng.uniform(-179, 179, n_bg)]
            ),
        }
    )


@pytest.mark.parametrize("half_bits", [8, None])
def test_salted_join_same_results(spark, half_bits):
    """None sizes the salted grid from the radius, like radius_join_pairs."""
    o = spark.createDataFrame(_skewed_points(21, 200, 300))
    nb = spark.createDataFrame(_skewed_points(22, 2000, 500))
    plain = radius_join_pairs(o, nb, 25.0, "km", half_bits=8).select(
        "origin_id", "neighbor_id"
    )
    salted = radius_join_pairs_salted(
        o, nb, 25.0, "km", half_bits=half_bits, hot_threshold=50, max_salt=16
    ).select("origin_id", "neighbor_id")
    a = set(map(tuple, plain.toPandas().itertuples(index=False)))
    b = set(map(tuple, salted.toPandas().itertuples(index=False)))
    assert a == b and len(a) > 0


def test_hot_cells_detected_and_split(spark):
    nb = spark.createDataFrame(_skewed_points(23, 5000, 1000))
    hist = cell_histogram(nb, 8).toPandas()
    assert hist["n_points"].max() >= 5000  # the hot cell
    hot = hot_cells(nb, 8, threshold=100, max_salt=64).toPandas()
    assert len(hot) >= 1
    assert hot["salt_factor"].max() >= 50  # ceil(5000/100) capped at 64
