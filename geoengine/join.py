"""Radius-neighborhood join — the engine's core operator.

Replaces the reference's external-store retrieval (one remote
``LIKE 'prefix%'`` query per origin row, ``SparkDS.scala:56-98``) with a
cell-keyed equi-join expressed entirely as a DataFrame plan:

  origins ── validate ── bbox ── explode covering grid cells ──┐
                                                               ├── equi-join on
  neighbors ── validate ── single grid cell (+ optional salt) ─┘   int64 cell key
                                                               └── codegen'd
                                  law-of-cosines filter (<= radius) ── [top-k]

Candidate completeness: the covering grid of each origin's radius circle is
computed with the longitude half-width taken at the WORST-CASE latitude of
the box (the reference's searchSpace bbox takes each corner's lon offset at
that corner's shifted latitude, GeoSearch.scala:136-137, which can still
under-cover on the equator-facing side at high latitude), and is widened by
one guard cell per axis — so grid pruning never drops a true within-radius
pair. Longitude wraps modulo the grid (antimeridian-safe,
where the reference degrades to a full scan via an empty LIKE prefix).

Scale posture (100 TB / 1000 executors):
  - join key is a single int64 → dense shuffle, AQE skew-split applies;
  - small neighbor side → explicit ``F.broadcast`` (strategy='broadcast');
  - hot cells → deterministic salting (``index.radius_join_pairs_salted``,
    this core with both sides re-keyed) on top of AQE as backstop;
  - distance refinement is whole-stage-codegen'd Column math, no Python;
  - the exploded origin side multiplies rows ~(2+g)^2 where g = guard cells,
    so resolution auto-picks cell size ≈ radius to keep fanout ~9-25x of the
    (usually far smaller) probe side, never of the indexed side.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import exprs
from .geodesy import EARTH_RADIUS_KM, to_km

MAX_HALF_BITS = 26
MIN_HALF_BITS = 2


def spread_small_input(df: DataFrame, *key_cols: Column) -> DataFrame:
    """Raise a narrow-parallelism input to the session's default
    parallelism by ONE deterministic hash repartition on ``key_cols``
    (guide §2.2/§6): a single-row-group parquet file (or any few-partition
    source) otherwise serializes every downstream map-side stage — the
    covering-cell explode, the codegen'd distance refinement, Arrow UDF
    kernels — on one core, because a broadcast join keeps the whole
    pipeline in the scan's stage.  The exchange moves only the slim
    PRE-fanout rows (the §8 "decide with small rows" shape), so its cost
    is bytes-trivial next to the serial compute it unlocks.

    Scale posture: a no-op whenever the input already has >= the
    session's defaultParallelism partitions (the 100-TB case — many-filed
    sources never trigger it), for streaming inputs (no static partition
    count), and when the partition count cannot be read.  The hash keys
    are data columns, never rand() (deterministic under task retry,
    SPARK-38388)."""
    try:
        if df.isStreaming:
            return df
        target = df.sparkSession.sparkContext.defaultParallelism
        nparts = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - plan surfaces without an RDD
        return df
    if nparts >= target:
        return df
    return df.repartition(target, *key_cols)


def pick_half_bits(radius_km: float) -> int:
    """Cell edge (in latitude degrees) ~ radius -> ~3x3 covering grids."""
    radius_deg = max(radius_km, 1e-3) * 180.0 / (math.pi * EARTH_RADIUS_KM)
    hb = int(math.floor(math.log2(180.0 / radius_deg)))
    return max(MIN_HALF_BITS, min(MAX_HALF_BITS, hb))


def validate_points(
    df: DataFrame, lat: str = "latitude", lon: str = "longitude"
) -> DataFrame:
    """Drop invalid coordinates (reference README.md:79 warns these cause
    cartesian blowup; we filter instead of warn)."""
    return df.where(
        F.col(lat).isNotNull()
        & F.col(lon).isNotNull()
        & F.col(lat).between(-90.0, 90.0)
        & F.col(lon).between(-180.0, 180.0)
    )


def with_grid_cell(
    df: DataFrame,
    half_bits: int,
    lat: str = "latitude",
    lon: str = "longitude",
    out: str = "gkey",
) -> DataFrame:
    """Attach the single covering grid cell key (build/index side)."""
    return df.withColumn(
        out,
        exprs.grid_key(
            exprs.grid_ix(F.col(lon), half_bits),
            exprs.grid_iy(F.col(lat), half_bits),
            half_bits,
        ),
    )


def explode_covering_cells(
    df: DataFrame,
    radius_km,
    half_bits: int,
    lat: str = "latitude",
    lon: str = "longitude",
    out: str = "gkey",
    guard_cells: int = 1,
) -> DataFrame:
    """Explode each row to every grid cell its radius circle can touch.

    Pure Column plan: bbox -> integer index ranges -> explode(sequence),
    longitude wrapped with pmod, latitude clamped. ``guard_cells`` widens
    each axis for float-boundary safety. ``radius_km`` may be a float
    (uniform) or a Column (per-row radius, R4 full generality) — the plan
    is identical either way; per-row radii just vary the sequence bounds.
    """
    n = 1 << half_bits
    la, lo = F.col(lat), F.col(lon)
    if not isinstance(radius_km, Column):
        radius_km = F.lit(float(radius_km))

    lat_min = exprs.lat_plus_km(la, -radius_km)
    lat_max = exprs.lat_plus_km(la, radius_km)
    # worst-case |lat| inside the box -> widest longitude span (coverage-safe)
    lat_worst = F.least(
        F.greatest(F.abs(lat_min), F.abs(lat_max)), F.lit(89.999)
    )
    lon_min = exprs.lon_plus_km(lat_worst, lo, -radius_km)
    lon_max = exprs.lon_plus_km(lat_worst, lo, radius_km)

    g = guard_cells
    iy0 = F.greatest(F.floor((lat_min + 90.0) / 180.0 * float(n)) - g, F.lit(0))
    iy1 = F.least(
        F.floor((lat_max + 90.0) / 180.0 * float(n)) + g, F.lit(n - 1)
    )
    ix0 = F.floor((lon_min + 180.0) / 360.0 * float(n)) - g  # unclamped: wraps
    ix1 = F.floor((lon_max + 180.0) / 360.0 * float(n)) + g
    # cap to one full revolution when the box spans the globe (near poles)
    ix1 = F.when(ix1 - ix0 >= n, ix0 + n - 1).otherwise(ix1)

    out_df = (
        df.withColumn("_gx_raw", F.explode(F.sequence(ix0.cast("long"), ix1.cast("long"))))
        .withColumn("_gy", F.explode(F.sequence(iy0.cast("long"), iy1.cast("long"))))
        .withColumn(
            out,
            exprs.grid_key(
                F.pmod(F.col("_gx_raw"), F.lit(n)).cast("long"),
                F.col("_gy"),
                half_bits,
            ),
        )
        .drop("_gx_raw", "_gy")
    )
    return out_df


def radius_join_pairs_prefix(
    origins: DataFrame,
    neighbors: DataFrame,
    radius: float,
    unit: str = "km",
    bits: int = 40,
    origin_prefix: str = "origin_",
    neighbor_prefix: str = "neighbor_",
    validate: bool = True,
) -> DataFrame:
    """Bit-exact PARITY mode of the reference's candidate retrieval (R10a):
    per-origin searchSpace prefix (GeoSearch.scala:109-123) matched as
    ``neighbor_cell LIKE 'prefix%'`` (SparkDS.scala:70-78) — expressed as a
    union of equi-joins grouped by distinct prefix length (<= bits values,
    typically 3-6): for each length L, join on
    ``neighbor_cell >> (bits - L) == origin_prefix``.

    Reproduces the reference's retrieval exactly, INCLUDING its corner
    lon-offset semantics (addDistanceToLongitude applied to the already
    latitude-shifted point, GeoSearch.scala:136-137 — SW offset at lat_min,
    NE at lat_max), its residual under-coverage at high latitude, and its
    empty-prefix full-scan degradation (LIKE '%'). The engine-default
    radius_join_pairs() is the coverage-sound one; this mode exists for
    output parity claims.
    """
    from . import udfs

    radius_km = to_km(float(radius), unit)
    if validate:
        origins = validate_points(origins)
        neighbors = validate_points(neighbors)

    o = origins.select(
        [F.col(c).alias(origin_prefix + c) for c in origins.columns]
    )
    nb = neighbors.select(
        [F.col(c).alias(neighbor_prefix + c) for c in neighbors.columns]
    )

    ss = udfs.make_search_space_udf(bits)
    o = o.withColumn(
        "_ss",
        ss(
            F.col(origin_prefix + "latitude"),
            F.col(origin_prefix + "longitude"),
            F.lit(radius_km),
        ),
    ).select("*", F.col("_ss.prefix_bits").alias("_pb"), F.col("_ss.prefix_len").alias("_pl")).drop("_ss")

    cell_col = udfs.make_cell_encode_udf(bits)
    nb = nb.withColumn(
        "_cell",
        cell_col(
            F.col(neighbor_prefix + "latitude"),
            F.col(neighbor_prefix + "longitude"),
        ),
    )

    # bounded driver-side collect: prefix length is in [0, bits] by
    # construction, <= 41 distinct values; limit() guards the invariant
    lens = [r["_pl"] for r in o.select("_pl").distinct().limit(bits + 2).collect()]
    parts = []
    for L in sorted(lens):
        o_l = o.where(F.col("_pl") == L)
        if L == 0:
            # empty prefix == LIKE '%' full scan (reference degradation)
            parts.append(o_l.crossJoin(nb))
        else:
            nb_l = nb.withColumn(
                "_pb", F.shiftrightunsigned(F.col("_cell"), bits - int(L))
            )
            parts.append(o_l.join(nb_l, "_pb"))
    if not parts:
        return o.limit(0).crossJoin(nb.limit(0))
    cand = parts[0]
    for p in parts[1:]:
        cand = cand.unionByName(p, allowMissingColumns=True)

    d_km = exprs.dist_km(
        F.col(origin_prefix + "latitude"),
        F.col(origin_prefix + "longitude"),
        F.col(neighbor_prefix + "latitude"),
        F.col(neighbor_prefix + "longitude"),
    )
    return (
        cand.withColumn("distance_km", d_km)
        .where(F.col("distance_km") <= F.lit(radius_km))
        .withColumn("distance", exprs.km_as_unit(F.col("distance_km"), F.lit(unit)))
        .drop("_pb", "_pl", "_cell")
    )


def _keyed_build_side(
    neighbors: DataFrame, hb: int, neighbor_prefix: str, validate: bool = True
) -> DataFrame:
    """The build (index) side of every radius join: validate -> prefix-alias
    -> single grid cell ``gkey``. index.write_bucketed_neighbor_index
    stores exactly this frame, so its table drops in as the core's build
    side with no re-keying."""
    if validate:
        neighbors = validate_points(neighbors)
    nb = neighbors.select(
        [F.col(c).alias(neighbor_prefix + c) for c in neighbors.columns]
    )
    return with_grid_cell(
        nb, hb, lat=neighbor_prefix + "latitude",
        lon=neighbor_prefix + "longitude",
    )


def _per_row_radius(
    radius_col: str, unit: str, unit_col: str | None, origin_prefix: str
) -> tuple[Column, Column]:
    """(radius in km, reporting unit) expressions for a per-row radius
    column on the ``origin_prefix``-aliased origins. A uniform ``unit`` is
    validated eagerly: radius_as_km has no otherwise branch, so an unknown
    unit would NULL every radius and silently return zero pairs."""
    if unit_col is None:
        to_km(1.0, unit)
        unit_expr = F.lit(unit)
    else:
        unit_expr = F.col(origin_prefix + unit_col)
    r_km = exprs.radius_as_km(
        F.col(origin_prefix + radius_col).cast("double"), unit_expr
    )
    return r_km, unit_expr


def _radius_join_core(
    origins: DataFrame,
    build: DataFrame,
    r_km: Column,
    hb: int,
    unit: Column,
    strategy: str,
    origin_prefix: str,
    neighbor_prefix: str,
    validate: bool,
    rekey=None,
) -> DataFrame:
    """The ONE radius-join pipeline every surface shares: validate ->
    prefix-alias -> per-origin covering-cell explode at radius ``r_km`` ->
    single int64 equi-join with ``build`` -> codegen'd law-of-cosines
    ``<=`` refinement against the same radius -> distance in ``unit``.

    ``r_km`` / ``unit`` are literals (uniform inquiry) or reference
    per-row columns of the prefixed origins. ``build`` is a keyed neighbor
    frame: :func:`_keyed_build_side` of the neighbors, or the bucketed
    table it was written to. ``rekey(probe, build)``, when given, returns
    both sides with a replaced ``gkey`` (index.py's hot-cell salting).
    Using one core keeps coverage math, boundary semantics (`<=`,
    strictly-greater dropped, SparkDS.scala:87-90) and unit reporting from
    ever diverging between the surfaces.
    """
    if validate:
        origins = validate_points(origins)

    o = origins.select(
        [F.col(c).alias(origin_prefix + c) for c in origins.columns]
    )

    # spread a narrow scan across the cluster BEFORE the fanout; hashing on
    # the origin id (unique by contract) also lets a downstream
    # top-k window / assembly groupBy on origin_id reuse the partitioning
    spread_keys = (
        [F.col(origin_prefix + "id")]
        if (origin_prefix + "id") in o.columns
        else [F.col(origin_prefix + "latitude"),
              F.col(origin_prefix + "longitude")]
    )
    o = spread_small_input(o, *spread_keys)

    probe = explode_covering_cells(
        o, r_km, hb,
        lat=origin_prefix + "latitude", lon=origin_prefix + "longitude",
    )
    if rekey is not None:
        probe, build = rekey(probe, build)
    if strategy == "broadcast":
        build = F.broadcast(build)
    # strategy == "auto": no hint — Catalyst's autoBroadcastJoinThreshold
    # (file-size stats) picks broadcast for dimension-sized neighbor tables
    # and AQE re-plans to broadcast at runtime when the post-filter build
    # side turns out small; 'shuffle' leaves the shuffle-hash path.

    d_km = exprs.dist_km(
        F.col(origin_prefix + "latitude"),
        F.col(origin_prefix + "longitude"),
        F.col(neighbor_prefix + "latitude"),
        F.col(neighbor_prefix + "longitude"),
    )
    return (
        probe.join(build, "gkey")
        .withColumn("distance_km", d_km)
        .where(F.col("distance_km") <= r_km)
        .withColumn("distance", exprs.km_as_unit(F.col("distance_km"), unit))
        .drop("gkey")
    )


def radius_join_pairs(
    origins: DataFrame,
    neighbors: DataFrame,
    radius: float,
    unit: str = "km",
    half_bits: int | None = None,
    strategy: str = "auto",
    origin_prefix: str = "origin_",
    neighbor_prefix: str = "neighbor_",
    validate: bool = True,
) -> DataFrame:
    """Flat (origin, neighbor, distance) pairs with distance <= radius.

    Boundary semantics match the reference: strictly-greater is dropped
    (``SparkDS.scala:87-90``), so equal-distance points are kept. Output
    distance column ``distance_km`` plus ``distance`` in the inquiry unit
    (reference reports in inquiry unit, SparkDS.scala:84-86).

    Both inputs must have columns (id, latitude, longitude); extra columns
    are carried through with the side prefix. The uniform radius is just
    the literal-radius case of :func:`_radius_join_core`.
    """
    radius_km = to_km(float(radius), unit)
    hb = half_bits if half_bits is not None else pick_half_bits(radius_km)
    return _radius_join_core(
        origins, _keyed_build_side(neighbors, hb, neighbor_prefix, validate),
        F.lit(radius_km), hb, F.lit(unit), strategy, origin_prefix,
        neighbor_prefix, validate,
    )


def radius_join_pairs_per_row(
    origins: DataFrame,
    neighbors: DataFrame,
    radius_col: str = "radius",
    unit: str = "km",
    unit_col: str | None = None,
    half_bits: int | None = None,
    max_radius: float | None = None,
    strategy: str = "auto",
    origin_prefix: str = "origin_",
    neighbor_prefix: str = "neighbor_",
    validate: bool = True,
) -> DataFrame:
    """R4 full generality: each ORIGIN ROW carries its own radius — and,
    with ``unit_col``, its own measurement unit.

    The reference's ``SearchInquery`` model has per-row ``radius``,
    ``maxResults`` AND ``ms`` (Measurement — first-letter parse,
    ``DataStore.scala:29-41``); its pipelines only ever set one value per
    table, but a mixed inquiry table is the natural generalization. Same
    pipeline as :func:`radius_join_pairs` (shared ``_radius_join_core``):
    the ONLY differences are (a) covering cells are exploded at each row's
    own radius (small-radius rows produce fewer probe cells — the fanout
    is row-proportional, not worst-case), (b) the exact-distance
    refinement compares against the row's radius column, and (c) the
    reported ``distance`` is in the row's own unit.

    ``unit_col`` names an ORIGIN column holding each row's unit string,
    parsed by the reference's first-letter rule ('k*' -> km, 'm*' ->
    miles) as a Column expression; ``unit`` is then ignored.

    NULL semantics (SQL propagation, no eager scan): an origin row with a
    NULL ``radius_col`` — or, under ``unit_col``, a NULL/unrecognized unit
    string — converts to a NULL km-radius, produces no covering cells
    (``explode(sequence(NULL, NULL))`` emits nothing) and is silently
    ABSENT from the output, exactly like a row whose coordinates fail
    ``validate_points``. Filter ``radius_col`` upstream if such rows must
    fail loudly instead. (With a uniform ``unit`` the string is validated
    eagerly here, since it is a plan constant.)

    Grid resolution is one global choice sized to the LARGEST radius
    (``max_radius`` in ``unit``, or in KM when ``unit_col`` is set;
    computed with one bounded scalar agg when not supplied — pass it at
    scale to keep the plan single-pass). A too-coarse cell for small radii
    only costs guard-cell candidates; the distance refinement keeps
    semantics exact regardless.

    Output carries ``origin_<radius_col>`` (and ``origin_<unit_col>``)
    through, so callers can chain per-row top-k
    (``top_n_per_origin(..., n="origin_max_results")``; a NULL per-row cap
    likewise drops that origin's rows — NULL comparison semantics).
    """
    r_km, unit_expr = _per_row_radius(radius_col, unit, unit_col, origin_prefix)
    if half_bits is not None:
        hb = half_bits  # resolution given: skip the max-radius scan entirely
    else:
        if max_radius is None:
            # bounded: a scalar max over one numeric column (extra pass; at
            # 100 TB supply the application-known bound instead)
            max_km = origins.agg(
                F.max(_per_row_radius(radius_col, unit, unit_col, "")[0])
            ).first()[0] or 1.0
        else:
            # with unit_col the bound is unit-ambiguous per row: take it in km
            max_km = (
                float(max_radius) if unit_col is not None
                else to_km(float(max_radius), unit)
            )
        hb = pick_half_bits(max_km)
    return _radius_join_core(
        origins, _keyed_build_side(neighbors, hb, neighbor_prefix, validate),
        r_km, hb, unit_expr, strategy, origin_prefix, neighbor_prefix,
        validate,
    )
