"""Neighbor-side cell index: stats + explicit hot-cell salting.

The reference's "index" is an external NoSQL table grouped by exact cell
(SparkDS.scala:19-26, Z-ordered). Here the index is just the grid-cell key
on the build side of the join — plus the piece Spark does NOT give you for
free at 10^12-point scale: deterministic skew handling. AQE's skew-join
split is kept on as a backstop (session.py), but salting is explicit,
testable, and works for broadcast-unfriendly hot cells (urban cores where
one cell holds 10^8 points while the median holds 10^2):

  build side:  salt = pmod(xxhash64(id), s)   on hot cells (s from histogram)
  probe side:  explode(sequence(0, s-1))      replicate only into hot cells
  join key:    gkey * MAX_SALT + salt         (still a dense int64)

Salting is result-invariant (property-tested in tests/test_salting.py).
Both index-backed joins here are join._radius_join_core with a different
build side or key: the salted join re-keys both sides of the core, the
bucketed join hands it the prebuilt table as its build side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import exprs, gates
from .geodesy import to_km
from .join import (
    _keyed_build_side,
    _per_row_radius,
    _radius_join_core,
    pick_half_bits,
    validate_points,
    with_grid_cell,
)
from .storage import cache

MAX_SALT = 256


def cell_histogram(neighbors: DataFrame, half_bits: int) -> DataFrame:
    """Per-cell point counts (the engine's index statistics)."""
    return (
        with_grid_cell(validate_points(neighbors), half_bits)
        .groupBy("gkey")
        .agg(F.count("*").alias("n_points"))
    )


def hot_cells(
    neighbors: DataFrame, half_bits: int, threshold: int, max_salt: int = MAX_SALT
) -> DataFrame:
    """Cells whose population exceeds threshold, with a salt factor
    ceil(n/threshold) capped at max_salt."""
    return (
        cell_histogram(neighbors, half_bits)
        .where(F.col("n_points") > threshold)
        .select(
            "gkey",
            F.least(
                F.ceil(F.col("n_points") / float(threshold)), F.lit(max_salt)
            ).cast("int").alias("salt_factor"),
        )
    )


def radius_join_pairs_salted(
    origins: DataFrame,
    neighbors: DataFrame,
    radius: float,
    unit: str = "km",
    half_bits: int | None = None,
    hot_threshold: int = 100_000,
    max_salt: int = MAX_SALT,
    origin_prefix: str = "origin_",
    neighbor_prefix: str = "neighbor_",
) -> DataFrame:
    """radius_join_pairs with explicit hot-cell salting (same output): the
    join core with both sides re-keyed to ``gkey * MAX_SALT + salt``.
    ``half_bits=None`` sizes the grid from the radius, as
    radius_join_pairs does."""
    radius_km = to_km(float(radius), unit)
    hb = half_bits if half_bits is not None else pick_half_bits(radius_km)
    hot = F.broadcast(hot_cells(neighbors, hb, hot_threshold, max_salt))
    factor = F.col("salt_factor")
    build_salt = F.coalesce(
        F.pmod(F.xxhash64(F.col(neighbor_prefix + "id")), factor), F.lit(0)
    )
    probe_salts = F.explode(
        F.sequence(F.lit(0), F.coalesce(factor, F.lit(1)) - 1)
    )

    def salted(df: DataFrame, salt) -> DataFrame:
        return (
            df.join(hot, "gkey", "left")
            .withColumn("_salt", salt)
            .withColumn("gkey", F.col("gkey") * MAX_SALT + F.col("_salt"))
            .drop("salt_factor", "_salt")
        )

    return _radius_join_core(
        origins, _keyed_build_side(neighbors, hb, neighbor_prefix),
        F.lit(radius_km), hb, F.lit(unit), "auto", origin_prefix,
        neighbor_prefix, True,
        rekey=lambda probe, build: (
            salted(probe, probe_salts), salted(build, build_salt)
        ),
    )


def nosql_index_view(
    neighbors: DataFrame, bits: int = 40
) -> DataFrame:
    """Parity view of the reference's external-store document model
    (SparkDS.scala:19-24 / CosmosDataStore.scala:21-26): one row per exact
    40-bit cell, ``(key: binary-geohash string, value: array<struct<id,
    latitude, longitude>>)``. The engine never materializes this for the
    join (the cell is just a shuffle key); this exists for store-level
    parity checks."""
    from . import udfs

    cell = udfs.make_cell_encode_udf(bits)
    render = udfs.make_cell_string_udf(bits)
    keyed = validate_points(neighbors).withColumn(
        "_cell", cell(F.col("latitude"), F.col("longitude"))
    )
    return (
        keyed.groupBy("_cell")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("id", "latitude", "longitude"))
            ).alias("value")
        )
        .select(render(F.col("_cell")).alias("key"), "value")
    )


def clustered_index_write(
    neighbors: DataFrame, path: str, half_bits: int = 20
) -> None:
    """Materialized index layout (reference R6: saveAsTable + ZORDER BY key,
    SparkDS.scala:25-26). Range-partition + sort on the 1-D interleaved cell
    key == Z-order along that key; parquet min/max stats then give row-group
    skipping for any cell-range predicate."""
    hb = half_bits
    keyed = validate_points(neighbors).withColumn(
        "cell",
        exprs.interleave(
            exprs.grid_ix(F.col("longitude"), hb),
            exprs.grid_iy(F.col("latitude"), hb),
            hb,
        ),
    )
    (
        keyed.repartitionByRange(F.col("cell"))
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_neighbor_index(
    neighbors: DataFrame,
    table: str,
    half_bits: int,
    n_buckets: int = 64,
) -> str:
    """Persist the neighbor side as a CATALOG TABLE bucketed + sorted by the
    grid cell key. A radius join probing this table needs NO build-side
    shuffle: the scan's output partitioning is already
    HashPartitioning(gkey, n_buckets), so Catalyst elides the Exchange
    above it (the 100-TB co-location pattern — pay the shuffle once at
    index-build time, amortize it over every subsequent query).

    Columns are stored pre-prefixed (neighbor_id, neighbor_latitude,
    neighbor_longitude, gkey) so the query side joins directly.
    """
    keyed = _keyed_build_side(neighbors, half_bits, "neighbor_")
    (
        keyed.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "gkey")
        .sortBy("gkey")
        .saveAsTable(table)
    )
    # record the build resolution: a query at a different half_bits would
    # produce silently-wrong keys, so the reader validates against this
    spark = neighbors.sparkSession
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES "
        f"('geoengine.half_bits' = '{half_bits}')"
    )
    return table


def bucketed_index_half_bits(spark, table: str) -> int | None:
    """Read the resolution recorded by write_bucketed_neighbor_index."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    for r in rows:
        if r["key"] == "geoengine.half_bits":
            return int(r["value"])
    return None


def radius_join_pairs_bucketed(
    spark,
    origins: DataFrame,
    index_table: str,
    radius,
    unit: str = "km",
    unit_col: str | None = None,
    half_bits: int | None = None,
    origin_prefix: str = "origin_",
) -> DataFrame:
    """Radius join against a pre-bucketed neighbor index table: the join
    core with the table as its build side, so identical results to
    join.radius_join_pairs, but the build side is scanned in bucket order
    with no Exchange (plan-asserted in tests). The join MUST
    run at the resolution the index was built at — it is read from the
    table properties and validated against half_bits when both exist
    (a mismatch would silently drop every pair).

    ``radius`` is a float (uniform) or the NAME of a per-row radius column
    on ``origins`` (R4 full generality on the scale path too): the index
    resolution is fixed at build time either way — per-row radii only vary
    how many covering cells each origin probes, so mixed-radius inquiry
    tables run against the same prebuilt index with no rebuild.
    ``unit_col`` (requires per-row ``radius``) names an origin column
    holding each row's unit (first-letter parse; same NULL/unknown-drop
    semantics as radius_join_pairs_per_row); ``unit`` is then ignored and
    the reported ``distance`` is in each row's own unit."""
    per_row = isinstance(radius, str)
    if unit_col is not None and not per_row:
        raise ValueError("unit_col requires a per-row radius column name")
    built_hb = bucketed_index_half_bits(spark, index_table)
    if half_bits is not None and built_hb is not None and half_bits != built_hb:
        raise ValueError(
            f"index {index_table!r} was built at half_bits={built_hb}, "
            f"query requested {half_bits} — keys would never match"
        )
    hb = half_bits if half_bits is not None else built_hb
    if hb is None:
        raise ValueError(
            f"index {index_table!r} records no geoengine.half_bits property "
            "and none was given"
        )
    if per_row:
        r_km, unit_expr = _per_row_radius(radius, unit, unit_col, origin_prefix)
    else:
        r_km, unit_expr = F.lit(to_km(float(radius), unit)), F.lit(unit)
    return _radius_join_core(
        origins, spark.table(index_table), r_km, hb, unit_expr, "auto",
        origin_prefix, "neighbor_", True,
    )


def getis_ord_gi_star(
    points: DataFrame,
    half_bits: int,
    ring: int = 1,
    lat: str = "latitude",
    lon: str = "longitude",
) -> DataFrame:
    """Spatial hot-spot detection — Getis-Ord Gi* z-scores per occupied
    grid cell, with binary weights over the (2*ring+1)^2 Chebyshev
    neighborhood (the classic hot-spot-analysis statistic).

    Frame semantics (documented variant): the study frame is the set of
    OCCUPIED cells — x_j are per-cell point counts, the global mean/std
    and the neighborhood weight count W_i range over occupied cells only
    (an absent cell contributes neither weight nor count). z-scores are
    therefore relative to the occupied-cell count distribution; with a
    mostly-empty grid this flags "hot among occupied", which is the
    useful reading for sparse point corpora. Longitude wraps modulo the
    grid (antimeridian-continuous); latitude neighbors past the pole rows
    are simply absent.

    Output: (ix, iy, n_points, sum_x, w, gi_z). ``gi_z`` is NULL when the
    statistic is undefined: a single-cell frame, zero variance, or
    W == N (the denominator ``S*sqrt((N*W - W^2)/(N-1))`` is 0).

    100-TB posture: one groupBy to the cell histogram (map-side combine),
    one (2*ring+1)^2 explode + groupBy over CELLS (not points), one
    broadcast of a 1-row global-stats frame — cost scales with occupied
    cells, not input rows.
    """
    cells = _cell_histogram(points, half_bits, lat, lon)
    return _gi_star_frame(cells, 1 << half_bits, ring, keys=())


def _cell_histogram(points: DataFrame, half_bits: int,
                    lat: str, lon: str) -> DataFrame:
    """(ix, iy, n_points) occupied-cell histogram — the shared study
    frame of every grid spatial statistic in this module."""
    return (
        validate_points(points, lat, lon)
        .select(
            exprs.grid_ix(F.col(lon), half_bits).alias("ix"),
            exprs.grid_iy(F.col(lat), half_bits).alias("iy"),
        )
        .groupBy("ix", "iy")
        .agg(F.count("*").alias("n_points"))
    )


def _ring_frame(
    cells: DataFrame,
    n: int,
    ring: int,
    keys: tuple[str, ...],
    include_self: bool,
    sum_alias: str,
    cnt_alias: str,
    join_type: str,
) -> DataFrame:
    """The ONE Chebyshev-ring neighborhood construction behind Gi* and
    both Moran statistics: every occupied cell contributes its count to
    each center position in its ring (dx wraps modulo the grid, dy
    clamps by dropping off-grid rows; ``include_self`` is the defining
    difference between Gi* and Moran weights), contributions group to
    per-center (sum, weight-count), and join back to the occupied cells
    — ``join_type='left'`` keeps islands (NULL count marks a cell whose
    whole self-excluded ring is unoccupied). The per-``keys``-group
    1-row stats frame (_n_cells/_total/_sumsq) rides in by broadcast,
    unless the session disabled broadcasts (gates.broadcast_budget 0).

    Output: (*keys, ix, iy, n_points, <sum_alias>, <cnt_alias>,
    _n_cells, _total, _sumsq).
    """
    grp = list(keys)
    aggs = [
        F.count("*").alias("_n_cells"),
        F.sum("n_points").alias("_total"),
        F.sum(F.col("n_points") * F.col("n_points")).alias("_sumsq"),
    ]
    stats = cells.groupBy(*grp).agg(*aggs) if grp else cells.agg(*aggs)
    offs = list(range(-ring, ring + 1))
    contrib = (
        cells.withColumn("_dx", F.explode(F.array(*[F.lit(d) for d in offs])))
        .withColumn("_dy", F.explode(F.array(*[F.lit(d) for d in offs])))
    )
    if not include_self:
        contrib = contrib.where(
            ~((F.col("_dx") == 0) & (F.col("_dy") == 0))
        )
    contrib = (
        contrib.select(
            *grp,
            F.pmod(F.col("ix") + F.col("_dx"), F.lit(n)).alias("cix"),
            (F.col("iy") + F.col("_dy")).alias("ciy"),
            "n_points",
        )
        .where((F.col("ciy") >= 0) & (F.col("ciy") < n))
        .groupBy(*grp, "cix", "ciy")
        .agg(
            F.sum("n_points").alias(sum_alias),
            F.count("*").alias(cnt_alias),
        )
    )
    # rename the contribution side's key columns to avoid ambiguity
    rn = contrib
    for k in grp:
        rn = rn.withColumnRenamed(k, f"_c_{k}")
    cond = (cells["ix"] == rn["cix"]) & (cells["iy"] == rn["ciy"])
    for k in grp:
        cond = cond & (cells[k] == rn[f"_c_{k}"])
    out = cells.join(rn, cond, join_type).drop(
        "cix", "ciy", *[f"_c_{k}" for k in grp]
    )
    if gates.broadcast_budget(cells) > 0:
        stats = F.broadcast(stats)
    return out.join(stats, grp) if grp else out.crossJoin(stats)


def _gi_star_frame(
    cells: DataFrame,
    n: int,
    ring: int,
    keys: tuple[str, ...],
) -> DataFrame:
    """Gi* z-scores for a ``(*keys, ix, iy, n_points)`` histogram. With
    ``keys`` non-empty, the study frame, the ring neighborhoods and the
    global stats are all computed WITHIN each keys-group (the per-slice
    form emerging_hotspots uses); with keys=() this is exactly the
    single-frame statistic getis_ord_gi_star documents.

    Output: (*keys, ix, iy, n_points, sum_x, w, gi_z).
    """
    grp = list(keys)
    # Gi* weights INCLUDE self, so every frame cell has a contribution
    # row and the inner join keeps exactly the frame members
    out = _ring_frame(cells, n, ring, keys, include_self=True,
                      sum_alias="sum_x", cnt_alias="w", join_type="inner")
    nn = F.col("_n_cells").cast("double")
    w = F.col("w").cast("double")
    mean = F.col("_total").cast("double") / nn
    s = F.sqrt(F.col("_sumsq").cast("double") / nn - mean * mean)
    denom = s * F.sqrt((nn * w - w * w) / (nn - 1.0))
    z = (F.col("sum_x").cast("double") - mean * w) / denom
    # nested whens: ANSI mode raises on the /(nn-1) divide for a
    # single-cell frame, and conditional branches are only evaluated when
    # taken — the outer guard must fire before denom is ever computed
    return out.select(
        *grp, "ix", "iy", "n_points", "sum_x", "w",
        F.when(nn > 1.0, F.when(denom > 0.0, z)).alias("gi_z"),
    )


def _moran_cell_frame(
    points: DataFrame,
    half_bits: int,
    ring: int,
    lat: str,
    lon: str,
) -> DataFrame:
    """Shared front half of the two Moran statistics: the occupied-cell
    histogram LEFT-joined with its self-EXCLUDED Chebyshev ring
    contributions (NULL ``_w`` marks an island) plus the broadcast
    1-row global stats — the same :func:`_ring_frame` construction Gi*
    uses, flipped on the two defining switches."""
    cells = _cell_histogram(points, half_bits, lat, lon)
    return _ring_frame(cells, 1 << half_bits, ring, keys=(),
                       include_self=False, sum_alias="_lag_sum",
                       cnt_alias="_w", join_type="left")


def local_moran_i(
    points: DataFrame,
    half_bits: int,
    ring: int = 1,
    lat: str = "latitude",
    lon: str = "longitude",
) -> DataFrame:
    """Local Moran's I (Anselin LISA) per occupied grid cell — the
    cluster/outlier companion to :func:`getis_ord_gi_star`: where Gi*
    asks "is this neighborhood's TOTAL unusually high?", local Moran
    asks "does this cell AGREE with its neighbors?" and classifies the
    significant cells into HH/LL clusters and HL/LH spatial outliers.

        I_i = (x_i - mean) * sum_{j in ring, j != i}(x_j - mean) / m2,
        m2  = population variance of the occupied-cell counts

    Same frame semantics as Gi* (documented there): the study frame is
    the OCCUPIED cells, x_j are per-cell point counts, and the weight
    matrix is binary over the (2*ring+1)^2 - 1 Chebyshev neighborhood
    EXCLUDING self (Gi* includes it — the defining difference between
    the two statistics). Longitude wraps modulo the grid; latitude
    neighbors past the pole rows are absent.

    Output: (ix, iy, n_points, w, lag, moran_i, quadrant). ``lag`` is
    the neighbors' summed deviation sum_j(x_j - mean); ``quadrant`` is
    'HH'/'LL' (cluster) or 'HL'/'LH' (outlier) by the signs of the
    cell's own deviation and the lag, NULL when either is exactly 0.
    ``moran_i``/``lag``/``quadrant`` are NULL for an isolated cell
    (w == 0 — an island has no lag, per the usual LISA convention) and
    ``moran_i``/``quadrant`` also when m2 == 0 (constant frame).

    100-TB posture: identical to Gi* — one groupBy to the cell
    histogram, one bounded explode + groupBy over CELLS, one broadcast
    1-row stats frame; cost scales with occupied cells, not points.
    """
    out = _moran_cell_frame(points, half_bits, ring, lat, lon)
    nn = F.col("_n_cells").cast("double")
    mean = F.col("_total").cast("double") / nn
    m2 = F.col("_sumsq").cast("double") / nn - mean * mean
    z = F.col("n_points").cast("double") - mean
    lag = F.col("_lag_sum").cast("double") - F.col("_w").cast("double") * mean
    moran = F.when(m2 > 0.0, (z * lag) / m2)  # guard before ANSI divide
    quadrant = F.when(
        (m2 > 0.0) & (z != 0.0) & (lag != 0.0),
        F.concat(
            F.when(z > 0.0, F.lit("H")).otherwise(F.lit("L")),
            F.when(lag > 0.0, F.lit("H")).otherwise(F.lit("L")),
        ),
    )
    return out.select(
        "ix", "iy", "n_points",
        F.coalesce(F.col("_w"), F.lit(0)).alias("w"),
        lag.alias("lag"),
        moran.alias("moran_i"),
        quadrant.alias("quadrant"),
    )


def global_moran_i(
    points: DataFrame,
    half_bits: int,
    ring: int = 1,
    lat: str = "latitude",
    lon: str = "longitude",
) -> DataFrame:
    """Global Moran's I — the single-number spatial-autocorrelation TEST
    over the occupied-cell count field (is the whole surface clustered,
    dispersed, or random?), with the analytic normality z-score:

        I      = (N / W) * sum_i(z_i * lag_i) / sum_i(z_i^2)
        E[I]   = -1 / (N - 1)
        VarN(I)= (N^2*S1 - N*S2 + 3W^2) / (W^2*(N^2 - 1)) - E[I]^2
        z      = (I - E[I]) / sqrt(VarN)

    with binary symmetric weights over the self-excluded Chebyshev ring
    (so S1 = 2W and S2 = 4*sum_i(w_i^2) exactly), the same frame
    :func:`local_moran_i` uses. Island cells (w_i == 0) contribute 0 to
    the numerator and nothing to W — the conventional treatment.

    Output: exactly ONE row (n_cells, w_sum, moran_i, e_i, z_norm).
    moran_i/z_norm are NULL when undefined: N < 2 (e_i divides by N-1),
    W == 0, zero variance (sum z^2 == 0), or VarN <= 0.

    100-TB posture: the shared cell-frame cost (histogram + bounded
    ring explode over CELLS) plus one global aggregate — a scalar
    reduce, no extra shuffle beyond the frame's.
    """
    out = _moran_cell_frame(points, half_bits, ring, lat, lon)
    nn = F.col("_n_cells").cast("double")
    mean = F.col("_total").cast("double") / nn
    z = F.col("n_points").cast("double") - mean
    lag = F.col("_lag_sum").cast("double") - F.col("_w").cast("double") * mean
    g = out.groupBy().agg(
        F.max("_n_cells").alias("n_cells"),  # identical on every row
        F.sum(F.coalesce(F.col("_w"), F.lit(0))).alias("w_sum"),
        F.sum(F.coalesce(z * lag, F.lit(0.0))).alias("_num"),
        F.sum(z * z).alias("_m2sum"),
        F.sum(
            F.coalesce(F.col("_w") * F.col("_w"), F.lit(0)).cast("long")
        ).alias("_wsq"),
    )
    nnd = F.col("n_cells").cast("double")
    wd = F.col("w_sum").cast("double")
    i_val = (nnd / wd) * (F.col("_num") / F.col("_m2sum"))
    e_i = F.lit(-1.0) / (nnd - F.lit(1.0))
    s1 = F.lit(2.0) * wd
    s2 = F.lit(4.0) * F.col("_wsq").cast("double")
    var = (
        (nnd * nnd * s1 - nnd * s2 + F.lit(3.0) * wd * wd)
        / ((wd * wd) * (nnd * nnd - F.lit(1.0)))
        - e_i * e_i
    )
    # nested guards: each inner expression only evaluates when the outer
    # condition holds (ANSI divide-by-zero safety), exactly as gi_z does
    defined = (F.col("n_cells") > 1) & (F.col("w_sum") > 0)
    i_guard = F.when(defined, F.when(F.col("_m2sum") > 0.0, i_val))
    return g.select(
        "n_cells",
        "w_sum",
        i_guard.alias("moran_i"),
        F.when(F.col("n_cells") > 1, e_i).alias("e_i"),
        F.when(
            defined,
            F.when(
                F.col("_m2sum") > 0.0,
                F.when(var > 0.0, (i_val - e_i) / F.sqrt(var)),
            ),
        ).alias("z_norm"),
    )


def ripleys_k(
    points: DataFrame,
    radii: list[float],
    area_km2: float,
    id_col: str = "id",
    lat: str = "latitude",
    lon: str = "longitude",
    half_bits: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Ripley's K point-pattern statistic (and its variance-stabilized
    Besag L transform) at the given radii — the classic global test of
    clustering vs dispersion vs CSR:

        K(r) = A * 2 * pairs(r) / (n * (n - 1))     (unbiased form)
        L(r) = sqrt(K(r) / pi)      (CSR reference: L(r) ~ r)

    ``pairs(r)`` counts unordered point pairs within great-circle
    distance r (<= boundary, the engine rule); ``area_km2`` is the
    caller's study area (no edge correction — the uncorrected/naive
    estimator, biased low near study-area borders; document your frame).

    Output: one row per radius — (r_km, n_points, n_pairs, k_km2,
    l_km), NULL k/l when n < 2. All inputs to K are exact integers, so
    the statistic is cross-engine exact (one division chain, no float
    sums).

    100-TB posture: ONE certified radius self-join at max(radii) (the
    cell-keyed equi-join — never all-pairs), one scalar aggregate
    folding every radius bucket map-side, one broadcast of the 1-row
    count frame (none when the session disabled broadcasts). Pair count
    scales with density * area, not n^2, provided max(radii) stays local.
    """
    if not radii:
        raise ValueError("radii must be a non-empty list")
    rads = sorted(float(r) for r in radii)
    if rads[0] <= 0:
        raise ValueError(f"radii must be > 0, got {radii!r}")
    from .join import radius_join_pairs, validate_points

    pts = validate_points(points, lat, lon).select(
        id_col, lat, lon
    )
    pairs = radius_join_pairs(
        pts, pts, rads[-1], unit="km", half_bits=half_bits,
        strategy=strategy,
    ).where(F.col("origin_id") < F.col("neighbor_id"))
    d = F.col("distance_km")
    counts = pairs.agg(
        *[
            F.coalesce(
                F.sum(F.when(d <= r, F.lit(1)).otherwise(F.lit(0))),
                F.lit(0),
            ).alias(f"_c{i}")
            for i, r in enumerate(rads)
        ]
    )
    stats = pts.agg(F.count(F.lit(1)).alias("_n"))
    if gates.broadcast_budget(pts) > 0:
        stats = F.broadcast(stats)
    row = counts.crossJoin(stats)
    per_radius = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r_km"),
                        F.col("_n").alias("n_points"),
                        F.col(f"_c{i}").cast("long").alias("n_pairs"),
                    )
                    for i, r in enumerate(rads)
                ]
            )
        ).alias("_e")
    ).select("_e.r_km", "_e.n_points", "_e.n_pairs")
    nd = F.col("n_points").cast("double")
    k = (
        F.lit(float(area_km2))
        * (F.lit(2.0) * F.col("n_pairs").cast("double"))
        / (nd * (nd - F.lit(1.0)))
    )
    pi = 3.141592653589793
    return per_radius.select(
        "r_km", "n_points", "n_pairs",
        F.when(F.col("n_points") >= 2, k).alias("k_km2"),
        F.when(F.col("n_points") >= 2, F.sqrt(k / F.lit(pi))).alias("l_km"),
    )


def clark_evans(
    points: DataFrame,
    area_km2: float,
    id_col: str = "id",
    lat: str = "latitude",
    lon: str = "longitude",
    strategy: str = "auto",
) -> DataFrame:
    """Clark-Evans nearest-neighbor index — the companion point-pattern
    test to :func:`ripleys_k` (Clark & Evans 1954):

        R = mean(nearest-neighbor distance)
            / (0.5 / sqrt(n / A))        (expected NN distance under CSR)

    R < 1 clustered, R ~ 1 random, R -> ~2.15 maximally dispersed. Same
    uncorrected/naive posture as ripleys_k (no edge correction;
    ``area_km2`` is the caller's study frame, documented).

    Output: exactly ONE row (n_points, mean_nn_km, expected_nn_km,
    clark_evans_r) — NULLs when n < 2 (no neighbor exists).

    100-TB posture: the kNN machinery's cost model applies unchanged —
    a self kNN at k=2 (auto: broadcast-brute when the table fits the
    plan-stats gate, exact ring expansion otherwise), drop the self
    pair, one min per origin + one scalar reduce.
    """
    from .knn import knn_join

    pts = validate_points(points, lat, lon).select(id_col, lat, lon)
    nn = (
        knn_join(pts, pts, 2, strategy=strategy)
        .where(F.col("origin_id") != F.col("neighbor_id"))
        .groupBy("origin_id")
        .agg(F.min("distance_km").alias("_d"))
    )
    g = nn.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg("_d").alias("mean_nn_km"),
    )
    nd = F.col("n_points").cast("double")
    expected = F.lit(0.5) / F.sqrt(nd / F.lit(float(area_km2)))
    return g.select(
        "n_points",
        F.when(F.col("n_points") >= 1, F.col("mean_nn_km"))
        .alias("mean_nn_km"),
        F.when(F.col("n_points") >= 1, expected).alias("expected_nn_km"),
        F.when(
            F.col("n_points") >= 1, F.col("mean_nn_km") / expected
        ).alias("clark_evans_r"),
    )


def gi_star_slices(
    points: DataFrame,
    half_bits: int,
    bin_col: str = "bin",
    ring: int = 1,
    lat: str = "latitude",
    lon: str = "longitude",
) -> DataFrame:
    """Per-time-slice Getis-Ord Gi*: the :func:`getis_ord_gi_star`
    statistic computed independently WITHIN each value of ``bin_col``
    (an integer time-bin column the caller derives — e.g.
    ``unix_micros(ts) div bin_us``; the operator is time-unit agnostic).
    Frame semantics per slice are exactly the single-frame statistic's
    (occupied cells of THAT slice; stats and ring weights slice-local).

    Output: (bin, ix, iy, n_points, sum_x, w, gi_z) — one row per
    occupied (slice, cell). The input to trend analysis
    (:func:`emerging_hotspots`).
    """
    cells = (
        validate_points(points, lat, lon)
        .where(F.col(bin_col).isNotNull())
        .select(
            F.col(bin_col),
            exprs.grid_ix(F.col(lon), half_bits).alias("ix"),
            exprs.grid_iy(F.col(lat), half_bits).alias("iy"),
        )
        .groupBy(bin_col, "ix", "iy")
        .agg(F.count("*").alias("n_points"))
    )
    return _gi_star_frame(cells, 1 << half_bits, ring, keys=(bin_col,))


def emerging_hotspots(
    points: DataFrame,
    half_bits: int,
    bin_col: str = "bin",
    ring: int = 1,
    lat: str = "latitude",
    lon: str = "longitude",
    crit: float = 1.96,
) -> DataFrame:
    """Emerging hot-spot analysis (the space-time-cube classic): Gi*
    per (time-slice, cell) via :func:`gi_star_slices`, then a
    Mann-Kendall monotone-trend test on each cell's gi_z series —
    answering "is this location HEATING UP or COOLING DOWN over time?".

        S    = sum over bin pairs k < l of sign(g_l - g_k)
        Var  = T*(T-1)*(2T+5) / 18            (no tie correction; the
               gi_z series is continuous — exact ties occur only in
               degenerate frames and count as 0 in S, the standard
               treatment)
        z_mk = (S-1)/sqrt(Var) if S > 0, (S+1)/sqrt(Var) if S < 0,
               else 0            (continuity-corrected normal approx)

    Slices where gi_z is undefined (single-cell frame, zero variance,
    W == N) are EXCLUDED from the series; T (``n_bins``) counts the
    remaining slices, and cells with T < 2 report NULL z_mk/trend.

    Output: (ix, iy, n_bins, s, z_mk, mean_gi, last_gi, trend) where
    ``trend`` is 'up' / 'down' / 'flat' by ``crit`` (default 1.96 ~ 5%
    two-sided), ``mean_gi`` the series mean and ``last_gi`` the most
    recent slice's gi_z (max_by bin — bins are unique per cell).

    100-TB posture: the slice Gi* cost (scales with occupied
    slice-cells, not points) + one bounded self-join per cell — T^2/2
    pairs per cell with T = number of time slices (tens), never
    points^2 — + two hash aggregates on the cell key. The gi_z slice
    frame feeds THREE consumers (both self-join sides + the per-cell
    rollup), so it is cached once instead of recomputing the point
    histogram per consumer; an enclosing :func:`storage.scope` releases
    it after the result is materialized.
    """
    gz = cache(
        gi_star_slices(points, half_bits, bin_col, ring, lat, lon)
        .where(F.col("gi_z").isNotNull())
        .select(bin_col, "ix", "iy", "gi_z")
    )
    a, b = gz.alias("a"), gz.alias("b")
    sgn = (
        F.when(F.col("b.gi_z") > F.col("a.gi_z"), F.lit(1))
        .when(F.col("b.gi_z") < F.col("a.gi_z"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s = (
        a.join(
            b,
            (F.col("a.ix") == F.col("b.ix"))
            & (F.col("a.iy") == F.col("b.iy"))
            & (F.col(f"a.{bin_col}") < F.col(f"b.{bin_col}")),
        )
        .groupBy(F.col("a.ix").alias("ix"), F.col("a.iy").alias("iy"))
        .agg(F.sum(sgn).alias("s"))
    )
    base = gz.groupBy("ix", "iy").agg(
        F.count("*").alias("n_bins"),
        F.avg("gi_z").alias("mean_gi"),
        F.max_by("gi_z", F.col(bin_col)).alias("last_gi"),
    )
    # LEFT: a cell seen in exactly one slice has no pair rows -> S = 0
    out = base.join(s, ["ix", "iy"], "left").withColumn(
        "s", F.coalesce(F.col("s"), F.lit(0))
    )
    t = F.col("n_bins").cast("double")
    var = t * (t - F.lit(1.0)) * (F.lit(2.0) * t + F.lit(5.0)) / F.lit(18.0)
    sd = F.col("s").cast("double")
    z_mk = F.when(
        F.col("n_bins") >= 2,
        F.when(F.col("s") > 0, (sd - F.lit(1.0)) / F.sqrt(var))
        .when(F.col("s") < 0, (sd + F.lit(1.0)) / F.sqrt(var))
        .otherwise(F.lit(0.0)),
    )
    out = out.withColumn("z_mk", z_mk)
    trend = F.when(
        F.col("z_mk").isNotNull(),
        F.when(F.col("z_mk") > crit, F.lit("up"))
        .when(F.col("z_mk") < -crit, F.lit("down"))
        .otherwise(F.lit("flat")),
    )
    return out.select(
        "ix", "iy", "n_bins", "s", "z_mk", "mean_gi", "last_gi",
        trend.alias("trend"),
    )
