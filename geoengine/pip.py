"""Point-in-polygon (north-rule extension; no reference counterpart).

Even-odd (ray casting) test, vectorized numpy inside a pandas UDF over
multi-ring polygons (``rings: array<array<struct<lat,lon>>>`` — outer
ring(s) + holes; disjoint outers model multipolygons). Even-odd parity is
taken across ALL rings' edges, so a point inside the outer ring but inside
a hole counts as outside — the standard even-odd fill rule.

The scale path prefilters with a cell-keyed join: polygons are exploded to
the grid cells covering the bbox of all their rings, points carry their
single cell — so the O(N_points * N_vertices) exact test only runs on
(point, polygon) pairs whose cells collide. Inside each Arrow batch the
exact kernel runs once per polygon (grouped by the joined ``poly_id`` —
O(1) keying per candidate row), not per row.

Edge semantics: boundary points follow the standard even-odd half-open rule
(a point exactly on a horizontal-crossing vertex counts per the crossing
parity); deterministic and documented rather than geodesic-exact.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from . import exprs, gates
from .join import with_grid_cell


def point_in_ring(lat: np.ndarray, lon: np.ndarray, ring_lat: np.ndarray,
                  ring_lon: np.ndarray) -> np.ndarray:
    """Vectorized even-odd test of N points against ONE ring (planar
    lat/lon space). Returns bool[N]."""
    x, y = np.asarray(lon, float), np.asarray(lat, float)
    xj, yj = np.asarray(ring_lon, float), np.asarray(ring_lat, float)
    xk, yk = np.roll(xj, 1), np.roll(yj, 1)
    inside = np.zeros(x.shape, dtype=bool)
    for j in range(len(xj)):
        cond = (yj[j] > y) != (yk[j] > y)
        xint = (xk[j] - xj[j]) * (y - yj[j]) / (yk[j] - yj[j] + 1e-300) + xj[j]
        inside ^= cond & (x < xint)
    return inside


def point_in_rings(lat: np.ndarray, lon: np.ndarray,
                   rings_lat: list, rings_lon: list) -> np.ndarray:
    """Even-odd across ALL rings: XOR of per-ring parities == crossing
    parity over the union of all edges (holes subtract, disjoint outers
    add)."""
    inside = np.zeros(np.asarray(lat).shape, dtype=bool)
    for rl, rn in zip(rings_lat, rings_lon):
        inside ^= point_in_ring(lat, lon, rl, rn)
    return inside


@lru_cache(maxsize=1)
def _pip_udf():
    @pandas_udf("boolean")
    def _inner(
        lat: pd.Series, lon: pd.Series, pid: pd.Series,
        rings_lat: pd.Series, rings_lon: pd.Series, wrap: pd.Series,
    ) -> pd.Series:
        """Batch test: rows carry their (joined) polygon's rings. The batch
        is grouped by ``pid`` — a GEOMETRY key computed once per polygon on
        the (small) polygon side before the join, so keying is O(1) per
        candidate row (the round-2 version hashed the full ring bytes per
        row, O(vertices)); being content-derived it cannot conflate two
        table rows that share a user poly_id but differ in geometry.
        ``wrap`` marks antimeridian-crossing polygons: their ring lons
        arrive pre-shifted to [0, 360) and the POINT lons get the same
        shift here, so the planar even-odd test runs in a seam-free
        frame."""
        out = np.zeros(len(lat), dtype=bool)
        la = lat.to_numpy(np.float64)
        lo = lon.to_numpy(np.float64)
        wr = wrap.to_numpy(bool)
        codes, _ = pd.factorize(pid, use_na_sentinel=False)
        for c in np.unique(codes):
            i = np.nonzero(codes == c)[0]
            first = int(i[0])
            if rings_lat.iloc[first] is None:
                # left-joined rows with no candidate polygon (streaming
                # geofence keeps them so exits still fire): outside
                continue
            rl = [np.asarray(r, dtype=np.float64)
                  for r in rings_lat.iloc[first]]
            rn = [np.asarray(r, dtype=np.float64)
                  for r in rings_lon.iloc[first]]
            lo_i = lo[i]
            if wr[first]:
                lo_i = np.where(lo_i < 0.0, lo_i + 360.0, lo_i)
            out[i] = point_in_rings(la[i], lo_i, rl, rn)
        return pd.Series(out)

    return _inner


def points_in_multipolygons(
    points: DataFrame,
    polygons: DataFrame,
    half_bits: int = 8,
    point_id: str = "id",
    poly_id: str = "poly_id",
    rings_col: str = "rings",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(point_id, poly_id) pairs where the point lies inside the polygon
    under the even-odd rule across all rings.

    points: (id, latitude, longitude); polygons: (poly_id,
    rings: array<array<struct<lat:double, lon:double>>>) — outer ring(s)
    plus holes; disjoint outer rings express multipolygons. ``keep`` names
    extra POINT-side columns carried through to the output (e.g. the
    entity/timestamp columns geofence sessionization needs), saving the
    caller a re-join on point_id.

    Plan: bbox of ALL rings -> covering cells (explode) | point -> single
    cell -> equi-join on cell -> exact ray-cast UDF on survivors only,
    batch-grouped by poly_id.

    The covering join ships a SLIM (poly_id, geom_key, cell) frame; the
    ring-vertex arrays attach afterwards via a second join keyed on the
    content-derived geom_key — one row per DISTINCT geometry, not one per
    covering cell. Wide polygons cover thousands of cells each, so
    carrying the vertex arrays on the covering rows multiplied the
    broadcast/shuffle payload by the covering fanout (measured 22 MB vs
    3 MB for 6 wide polygons) and serialized a parallelism-independent
    broadcast-build term into every run. The geometry attach is
    broadcast-HINTED only while the polygon side's plan-stats size fits
    the session's broadcast budget (the gate the kNN brute path uses) — a
    million-fence corpus falls back to a planner-chosen join instead of
    OOMing the driver. Both frames derive from ONE shared polygon-prep
    subtree.
    """
    prep = _prepped_polygons(polygons, poly_id, rings_col)
    cov_full = _covering_from_prep(prep, half_bits, poly_id)
    cov = cov_full.select(
        poly_id, "_geom_key", "gkey",
        # exact bbox + wrap flag ride the slim covering rows (4 doubles +
        # a bool) so a codegen'd rectangle test can discard the covering
        # grid's overhang BEFORE any Arrow transfer. bbox >= polygon in
        # the same planar frame the ray cast uses -> no false negatives;
        # the win grows as fences shrink relative to the cell size (a
        # city-block fence in a 0.7-degree cell passes ~0.1% of the
        # cell's points to the UDF instead of all of them)
        F.col("_wrap").alias("_bwrap"),
        "_lat0", "_lat1", "_lon0", "_lon1",
    )
    geom = _geometry_frame(prep)
    pts = with_grid_cell(points, half_bits)
    lon_eff = F.when(
        F.col("_bwrap") & (F.col("longitude") < 0.0),
        F.col("longitude") + 360.0,
    ).otherwise(F.col("longitude"))
    bbox_ok = (
        F.col("latitude").between(F.col("_lat0"), F.col("_lat1"))
        & lon_eff.between(F.col("_lon0"), F.col("_lon1"))
    )
    cand = (
        pts.join(cov, "gkey")
        .where(bbox_ok)
        .drop("_bwrap", "_lat0", "_lat1", "_lon0", "_lon1")
        .join(geom, "_geom_key")
    )
    hit = cand.where(
        _pip_udf()(
            F.col("latitude"), F.col("longitude"), F.col("_geom_key"),
            F.col("_rlat"), F.col("_rlon"), F.col("_wrap"),
        )
    )
    return hit.select(F.col(point_id).alias("point_id"), poly_id, *keep)


def _geometry_frame(prep: DataFrame) -> DataFrame:
    """Per-DISTINCT-geometry attach frame, broadcast-hinted only when the
    polygon side's plan-stats size fits :func:`gates.broadcast_budget`
    (never under a disabled conf; unknown stats fall back to the
    planner's own choice)."""
    geom = prep.select("_geom_key", "_wrap", "_rlat", "_rlon").dropDuplicates(
        ["_geom_key"]
    )
    _, size = gates.plan_stats(prep)
    if size is not None and size <= gates.broadcast_budget(prep):
        return F.broadcast(geom)
    return geom


def _prepped_polygons(
    polygons: DataFrame,
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """Per-polygon preprocessing shared by the covering-cell explode and
    the geometry-attach join: content-derived batch-group key, the
    antimeridian wrap flag, shifted-frame ring arrays, and the bbox."""
    flat = f"flatten({rings_col})"
    polys = polygons.select(
        poly_id,
        # content-derived batch-group key, computed ONCE per polygon row on
        # the small build side: duplicate poly_id values with different
        # geometry stay distinct groups in the UDF (md5 of the full vertex
        # JSON — a collision needs two 128-bit-equal distinct geometries)
        F.md5(F.to_json(F.col(rings_col))).alias("_geom_key"),
        F.col(rings_col),
        # raw lon span > 180 deg <=> the polygon crosses the antimeridian
        # (under the modelling convention that no single polygon spans more
        # than half the globe east-west — the standard GeoJSON-style
        # disambiguation). Such polygons are handled in a SHIFTED frame
        # (lon < 0 -> lon + 360): bbox, covering cells and the planar
        # even-odd test all become seam-free, instead of the raw
        # array_min/array_max bbox degrading to a near-world covering set.
        (
            F.expr(f"array_max(transform({flat}, p -> p.lon))")
            - F.expr(f"array_min(transform({flat}, p -> p.lon))")
            > 180.0
        ).alias("_wrap"),
    )
    shift = (
        f"transform({rings_col}, r -> transform(r, p -> "
        f"CASE WHEN _wrap AND p.lon < 0.0D THEN p.lon + 360.0D "
        f"ELSE p.lon END))"
    )
    flat_sh = f"flatten({shift})"
    polys = polys.select(
        poly_id,
        "_geom_key",
        "_wrap",
        F.expr(f"transform({rings_col}, r -> transform(r, p -> p.lat))")
        .alias("_rlat"),
        F.expr(shift).alias("_rlon"),
        F.expr(f"array_min(transform({flat}, p -> p.lat))").alias("_lat0"),
        F.expr(f"array_max(transform({flat}, p -> p.lat))").alias("_lat1"),
        F.expr(f"array_min({flat_sh})").alias("_lon0"),
        F.expr(f"array_max({flat_sh})").alias("_lon1"),
    )
    return polys


def polygon_covering_cells(
    polygons: DataFrame,
    half_bits: int,
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """The polygon side of the PIP prefilter join: one row per (polygon,
    covering grid cell), plus the per-polygon ring arrays and batch-group
    key the exact UDF consumes. Public so tests can pin the covering-set
    ECONOMY (e.g. a seam-crossing polygon must yield a seam-local set, not
    a near-world one) against the engine's ACTUAL plan, not a re-derivation.
    (The engine's own join path projects this down to (poly_id, geom_key,
    gkey) and re-attaches the ring arrays per distinct geometry — see
    points_in_multipolygons.)
    """
    return _covering_from_prep(
        _prepped_polygons(polygons, poly_id, rings_col), half_bits, poly_id
    ).select(poly_id, "_geom_key", "_wrap", "_rlat", "_rlon", "gkey")


def _covering_from_prep(
    prep: DataFrame, half_bits: int, poly_id: str = "poly_id"
) -> DataFrame:
    """Covering-cell explode over an already-prepped polygon frame — the
    shared subtree points_in_multipolygons and the streaming membership
    join both build their covering AND geometry sides from, so the
    per-polygon prep (flatten/md5/shift/bbox) is expressed once per plan."""
    n = 1 << half_bits
    polys = prep
    # x covering range: in the shifted frame the raw (unclamped) index can
    # reach [n, 3n/2); pmod wraps it back onto the grid the points use.
    # Non-wrapped polygons keep the exact old clamped semantics.
    ix_lo_raw = F.floor((F.col("_lon0") + 180.0) / 360.0 * float(n)).cast("long")
    ix_hi_raw = F.floor((F.col("_lon1") + 180.0) / 360.0 * float(n)).cast("long")
    ix_lo = F.when(F.col("_wrap"), ix_lo_raw).otherwise(
        exprs.grid_ix(F.col("_lon0"), half_bits)
    )
    ix_hi = F.when(F.col("_wrap"), ix_hi_raw).otherwise(
        exprs.grid_ix(F.col("_lon1"), half_bits)
    )
    # cap at one revolution: a pathological shifted span can never be
    # allowed to emit the same (polygon, cell) pair twice via pmod
    ix_hi = F.when(ix_hi - ix_lo >= n, ix_lo + n - 1).otherwise(ix_hi)
    cov = (
        polys.withColumn("_gx_raw", F.explode(F.sequence(ix_lo, ix_hi)))
        .withColumn(
            "_gx", F.pmod(F.col("_gx_raw"), F.lit(n)).cast("long")
        )
        .withColumn(
            "_gy",
            F.explode(
                F.sequence(
                    exprs.grid_iy(F.col("_lat0"), half_bits),
                    exprs.grid_iy(F.col("_lat1"), half_bits),
                )
            ),
        )
        .withColumn("gkey", exprs.grid_key(F.col("_gx"), F.col("_gy"), half_bits))
        .select(poly_id, "_geom_key", "_wrap", "_rlat", "_rlon",
                "_lat0", "_lat1", "_lon0", "_lon1", "gkey")
    )
    return cov


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    half_bits: int = 8,
    point_id: str = "id",
    poly_id: str = "poly_id",
) -> DataFrame:
    """Single-ring convenience surface: polygons carry one ``ring``
    column; delegates to the multi-ring engine with rings = [ring]."""
    multi = polygons.withColumn("rings", F.array(F.col("ring")))
    return points_in_multipolygons(
        points, multi, half_bits=half_bits,
        point_id=point_id, poly_id=poly_id,
    )


def ring_perimeter_km(ring: Column) -> Column:
    """Great-circle perimeter of a closed ring (``array<struct<lat,
    lon>>``, implicit closure last->first — the engine's ring layout):
    the sum of law-of-cosines edge lengths (R=6371, the reference
    constant). Pure Column fold — no UDF, codegen end to end.

    NULL contract: an empty ring OR any NULL vertex coordinate yields
    NULL (the explicit all-four guard below — dist_km's least/greatest
    clamp IGNORES NULLs, which would otherwise fold a NULL endpoint to
    a phantom acos(-1) 20,015-km edge; same trap the trajectory module
    documents). The empty-ring guard also keeps ANSI mode from raising
    on pmod(i+1, 0)."""
    n = F.size(ring)
    idx = F.sequence(F.lit(0), n - 1)

    def edge(i: Column) -> Column:
        p1 = F.get(ring, i)
        p2 = F.get(ring, F.pmod(i + 1, n))
        coords_ok = (
            p1.getField("lat").isNotNull() & p1.getField("lon").isNotNull()
            & p2.getField("lat").isNotNull() & p2.getField("lon").isNotNull()
        )
        return F.when(
            coords_ok,
            exprs.dist_km(
                p1.getField("lat"), p1.getField("lon"),
                p2.getField("lat"), p2.getField("lon"),
            ),
        )

    return F.when(
        n > 0,
        F.aggregate(
            F.transform(idx, edge), F.lit(0.0), lambda acc, x: acc + x
        ),
    )


def ring_area_km2(ring: Column) -> Column:
    """Spherical ring area by the Chamberlain-Duquette (JPL 1989)
    formula — the geojson-area standard:

        A = |sum_i rad(lon_{i+1} - lon_i)
                  * (2 + sin(rad lat_i) + sin(rad lat_{i+1}))| * R^2 / 2

    Assumes every edge spans < 180 deg of longitude (the same sane-edge
    assumption the ray-cast module documents); orientation-insensitive
    (absolute value). Pure Column fold, no UDF.

    NULL contract: empty ring or any NULL vertex coordinate -> NULL
    (NULL terms already propagate through the trig chain; the empty-ring
    guard keeps ANSI mode from raising on pmod(i+1, 0))."""
    n = F.size(ring)
    idx = F.sequence(F.lit(0), n - 1)

    def term(i: Column) -> Column:
        p1 = F.get(ring, i)
        p2 = F.get(ring, F.pmod(i + 1, n))
        return F.radians(p2.getField("lon") - p1.getField("lon")) * (
            F.lit(2.0)
            + F.sin(F.radians(p1.getField("lat")))
            + F.sin(F.radians(p2.getField("lat")))
        )

    total = F.aggregate(
        F.transform(idx, term), F.lit(0.0), lambda acc, x: acc + x
    )
    r = 6371.0
    return F.when(n > 0, F.abs(total) * F.lit(r * r / 2.0))


def polygon_metrics(
    polygons: DataFrame,
    poly_id: str = "poly_id",
    ring_col: str = "ring",
) -> DataFrame:
    """Per-polygon geometry metrics over a single-ring polygon table:
    (poly_id, n_vertices, perimeter_km, area_km2) — spherical area by
    Chamberlain-Duquette, perimeter by the reference's law-of-cosines
    distance. One narrow projection, zero shuffles."""
    ring = F.col(ring_col)
    return polygons.select(
        poly_id,
        F.size(ring).alias("n_vertices"),
        ring_perimeter_km(ring).alias("perimeter_km"),
        ring_area_km2(ring).alias("area_km2"),
    )


def zonal_stats(
    points: DataFrame,
    polygons: DataFrame,
    value_col: str | None = None,
    half_bits: int = 8,
    point_id: str = "id",
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """Zonal statistics: per-polygon aggregates of the points inside it
    (the classic GIS "summarize a field by zone" operation) — a pure
    composition of the certified cell-prefiltered ray-cast join
    (:func:`points_in_multipolygons`) and one hash aggregate on the
    polygon key.

    Output: (poly_id, n_points) plus, when ``value_col`` is given,
    (sum_val, avg_val, min_val, max_val) over that POINT column cast to
    double. Inner semantics: polygons containing no points are absent —
    left-join the polygon table downstream if empty zones must surface
    as NULL/0 rows (same contract as interpolate.idw_interpolate).

    100-TB posture: the PIP join's cost model applies unchanged (slim
    covering broadcast, bbox prefilter before Arrow, geometry attached
    once per distinct shape); the aggregate adds one map-side-combining
    shuffle keyed on poly_id — bounded by the zone count, not by points.
    """
    keep = (value_col,) if value_col else ()
    pairs = points_in_multipolygons(
        points, polygons, half_bits=half_bits, point_id=point_id,
        poly_id=poly_id, rings_col=rings_col, keep=keep,
    )
    aggs = [F.count(F.lit(1)).alias("n_points")]
    if value_col:
        v = F.col(value_col).cast("double")
        aggs += [
            F.sum(v).alias("sum_val"),
            F.avg(v).alias("avg_val"),
            F.min(v).alias("min_val"),
            F.max(v).alias("max_val"),
        ]
    return pairs.groupBy(poly_id).agg(*aggs)
