"""One-call search API — the reference's ``SparkServerlessDS.searchMiles``
UX (``SparkDS.scala:34-45``) re-expressed as a single DataFrame pipeline.

A reference user migrates like this:

  reference:
    val ds = SparkDS.fromDF(spark.table(neighborTable))     // index build
    val out = ds.search(ds.toInqueryRDD(spark.table(originTable),
                        radius, maxResults).repartition(n))  // per-row I/O
  engine:
    out = search_miles(spark.table(originTable), spark.table(neighborTable),
                       radius, max_results)                  # one plan

Same inputs (id, latitude, longitude), same output shape (origin struct,
neighbors array ordered by distance, searchSpace string), same semantics
(distance reported in the inquiry unit, <=-radius boundary, invalid
coordinates dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .join import radius_join_pairs
from .results import assemble_search_results
from .sources import coerce_points
from .topk import top_n_per_origin


def search(
    origins: DataFrame,
    neighbors: DataFrame,
    radius: float,
    unit: str = "km",
    max_results: int = 10,
    parity_topn: bool = False,
    half_bits: int | None = None,
    strategy: str = "auto",
    include_search_space: bool = True,
    timing: bool = False,
    prepartition: int | None = None,
) -> DataFrame:
    """Radius-neighborhood search -> nested SearchResult rows.

    The searchTimerSeconds column is always present (schema parity — the
    reference always emits it). Default ``timing=False`` keeps the plan
    pure-JVM (column is 0.0; wrap the action with metrics.JobTimer for
    free job-level timing); ``timing=True`` is the per-row parity mode —
    real amortized wall-clock per origin at the cost of an Arrow
    mapInPandas tail stage.

    ``prepartition=N`` hash-partitions the ORIGIN side by id before the
    join. With a broadcast build side (explicit or AQE-chosen at plan
    time) the origin partitioning survives explode+join+window, so the
    top-k Window's Exchange AND the nested-assembly groupBy Exchange are
    both elided (hash on origin_id satisfies their clustering) — the one
    shuffle moves to the 1x pre-explode origin rows instead of the
    ~(fanout x matches) candidate rows. Plan-asserted in
    tests/test_plan_shape.py. Leave None for shuffle-join workloads
    (there the join's own exchange already clusters by cell, and the
    window shuffle is top-k-bounded by WindowGroupLimit partial mode)."""
    o = coerce_points(origins)
    if prepartition is not None:
        from pyspark.sql import functions as F

        o = o.repartition(prepartition, F.col("id"))
    nb = coerce_points(neighbors)
    pairs = radius_join_pairs(
        o, nb, radius, unit, half_bits=half_bits, strategy=strategy
    )
    top = top_n_per_origin(pairs, max_results, parity_topn=parity_topn)
    return assemble_search_results(
        top, unit=unit, radius=radius,
        include_search_space=include_search_space, timing=timing,
    )


def search_per_row(
    origins: DataFrame,
    neighbors: DataFrame,
    radius_col: str = "radius",
    unit: str = "km",
    unit_col: str | None = None,
    max_results_col: str | None = "max_results",
    half_bits: int | None = None,
    max_radius: float | None = None,
    strategy: str = "auto",
    include_search_space: bool = True,
    timing: bool = False,
) -> DataFrame:
    """The reference's FULL SearchInquery model end-to-end: each origin row
    carries its own ``radius``, optionally its own ``maxResults`` cap, and
    — with ``unit_col`` — its own measurement unit ``ms``
    (``DataStore.scala:29-41``; first-letter parse) — nested SearchResult
    rows out, searchSpace rendered at each origin's own radius, distances
    and the ``ms`` field reported in each origin's own unit. Same plan
    family as :func:`search`; see ``radius_join_pairs_per_row`` for the
    resolution/scale/NULL notes (with ``unit_col``, pass ``max_radius``
    in KM)."""
    from .join import radius_join_pairs_per_row
    from .topk import top_n_per_origin as _topk

    o = coerce_points(origins)
    nb = coerce_points(neighbors)
    pairs = radius_join_pairs_per_row(
        o, nb, radius_col=radius_col, unit=unit, unit_col=unit_col,
        half_bits=half_bits, max_radius=max_radius, strategy=strategy,
    )
    if max_results_col is not None:
        pairs = _topk(pairs, "origin_" + max_results_col)
    return assemble_search_results(
        pairs, unit=unit, radius="origin_" + radius_col,
        unit_col=None if unit_col is None else "origin_" + unit_col,
        include_search_space=include_search_space, timing=timing,
    )


def search_miles(
    origins: DataFrame, neighbors: DataFrame, radius: float,
    max_results: int = 10, **kw,
) -> DataFrame:
    """Parity name for the reference's searchMiles (SparkDS.scala:34-45)."""
    return search(origins, neighbors, radius, "miles", max_results, **kw)
