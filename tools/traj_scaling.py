"""Scaling evidence for the round-5 trajectory operators (north rule:
same job at two parallelism levels on the same input).

Synthesizes a deterministic fixes table big enough that per-query work
dominates fixed job overhead (spark.range -> key-arithmetic coordinates,
timestamp_micros time base; NO external data), then times
trajectory_stats (window sort + groupBy shape) and geofence_visits
(PIP candidate join + two windows) at interleaved parallelism levels.
Methodology matches tools/scaling_run.py: in-run min-of-reps after a
warmup rep, levels interleaved across rounds, per-(query,level) MIN
across rounds — the robust estimator under this VM's external-steal
noise (CLAUDE.md). Run EXCLUSIVELY (no concurrent benches).

Usage: python tools/traj_scaling.py [--rounds N] [--levels 2,8,32]
Prints one JSON line per (round, level) plus a final summary block to
paste into BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from geoengine import exprs, storage  # noqa: E402
from geoengine.session import get_spark  # noqa: E402

N_FIXES_STATS = 20_000_000
N_ENTITIES = 500_000
N_FIXES_FENCE = 4_000_000
N_FIXES_COLOC = 1_000_000  # ~600-fix time windows at tau=300s, 1 fix/s
# dbscan: 24 blobs (3-deg jitter boxes) + 20% background; ~20k pts/blob
# -> avg eps=5km degree ~20 -> ~13M-row pair set driving degree count,
# core-edge filter and star-contraction rounds
N_POINTS_DBSCAN = 600_000
DBSCAN_EPS_KM, DBSCAN_MIN_PTS = 5.0, 10
# field estimation: samples/points from the same blob fixture; IDW
# interpolates a key-derived value at uniform query points (k=8 within
# 100 km), KDE evaluates the truncated Gaussian on the hb-7 grid
N_SAMPLES_FIELD = 4_000_000
N_QUERIES_IDW = 200_000
IDW_RADIUS_KM, IDW_K = 100.0, 8
KDE_BW_KM, KDE_HB = 100.0, 7
# emerging hot spots: the heavy stage is the (bin, cell) histogram over
# the raw points (map-side combine); Gi* slices + MK self-join then run
# over <= bins * 4^hb cells. 20M blob points, 10 hash-derived bins, hb-7
N_POINTS_EMERGE, EMERGE_BINS, EMERGE_HB = 20_000_000, 10, 7
JOBS = ("trajectory_stats", "geofence_visits", "co_location",
        "spatial_dbscan", "idw_interpolate", "kde_cells",
        "emerging_hotspots", "staypoints", "radius_gyration",
        "location_entropy", "ripleys_k")
# staypoints: same 20M-fix fixture as trajectory_stats (the operator is
# the same one-window + reusing-groupBy shape); the key-arithmetic
# coordinates make successive fixes near-random global hops, so a
# continental move threshold forms multi-fix runs (~15% continue rate)
STAY_MOVE_KM_BENCH, STAY_MIN_S_BENCH = 4000.0, 0.0
# mobility metrics reuse the 20M-fix fixture (centroid-join and
# two-agg shapes); ripley runs the radius SELF-join on 1M uniform
# points (degree ~60 at 100 km -> ~30M pairs)
N_POINTS_RIPLEY = 1_000_000
RIPLEY_RADII_BENCH = (50.0, 100.0)


def fixes(spark, n: int, parallelism: int):
    """Deterministic fixes: entity = id % N_ENTITIES, time base strictly
    increasing within each entity (id ordering), coordinates from the
    fixture key arithmetic (exprs builders — same family the gate uses)."""
    df = spark.range(0, n, 1, parallelism)
    return df.select(
        F.col("id"),
        (F.col("id") % N_ENTITIES).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        exprs.lat_from_key(F.col("id"), 37).alias("latitude"),
        exprs.lon_from_key(F.col("id"), 91).alias("longitude"),
    )


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def blob_points(spark, n: int, parallelism: int):
    """Deterministic clustered points for the dbscan workload: 24 blob
    centers (>=10 deg lat / 15 deg lon apart), xxhash64-derived jitter
    (bench fixture only — no oracle, so no md5 parity needed), 20%
    uniform background."""
    df = spark.range(0, n, 1, parallelism)
    u0 = F.pmod(F.xxhash64(F.col("id"), F.lit(1)), 1000003) / 1000003.0
    ua = F.pmod(F.xxhash64(F.col("id"), F.lit(2)), 1000003) / 1000003.0
    ub = F.pmod(F.xxhash64(F.col("id"), F.lit(3)), 1000003) / 1000003.0
    ci = F.floor(u0 * 30.0)
    clat = (ci * 7) % 12 * F.lit(10.0) - F.lit(55.0)
    clon = (ci * 13) % 24 * F.lit(15.0) - F.lit(172.5)
    lat = F.when(u0 < 0.8, clat + (ua - 0.5) * 3.0) \
        .otherwise((ua - 0.5) * 132.0)
    lon = F.when(u0 < 0.8, clon + (ub - 0.5) * 3.0) \
        .otherwise((ub - 0.5) * 356.0)
    return df.select(F.col("id"), lat.alias("latitude"),
                     lon.alias("longitude"))


def bench_level(cores: int, reps: int) -> dict[str, float]:
    from geoengine.fixtures import polygons_table
    from geoengine.index import ripleys_k
    from geoengine.trajectories import (
        co_location_pairs,
        geofence_visits,
        location_entropy,
        radius_of_gyration,
        staypoints,
        trajectory_stats,
    )

    spark = get_spark(f"traj-scale-{cores}", cores=cores,
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out: dict[str, float] = {}
    # partition counts FIXED across levels so per-task work is identical
    # and the measurement isolates parallelism (same rule bench.py's
    # images_phash uses)
    st_src = fixes(spark, N_FIXES_STATS, 64)
    gf_src = fixes(spark, N_FIXES_FENCE, 64)
    fences = polygons_table(
        spark, 6, seed=11, half_width_scale=16.0
    ).withColumn("rings", F.array("ring")).drop("ring")
    co_src = fixes(spark, N_FIXES_COLOC, 64)
    db_src = blob_points(spark, N_POINTS_DBSCAN, 64)

    def run_dbscan():
        # self-forcing: the operator persists its pair set and the CC
        # fixpoint runs internal actions; release every engine-owned
        # block between reps so reps measure identical cold work
        from geoengine.clusters import spatial_dbscan

        with storage.scope():
            force(spatial_dbscan(db_src, DBSCAN_EPS_KM, DBSCAN_MIN_PTS))

    from geoengine.interpolate import idw_interpolate, kde_cells

    fld_src = blob_points(spark, N_SAMPLES_FIELD, 64)
    idw_samples = fld_src.withColumn(
        "val", F.pmod(F.xxhash64(F.col("id"), F.lit(9)), 10007) / 10.0
    )
    idw_queries = (
        spark.range(0, N_QUERIES_IDW, 1, 64)
        .select(
            F.col("id"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(11)), 1000003)
             / 1000003.0 * 170.0 - 85.0).alias("latitude"),
            (F.pmod(F.xxhash64(F.col("id"), F.lit(12)), 1000003)
             / 1000003.0 * 356.0 - 178.0).alias("longitude"),
        )
    )

    from geoengine.index import emerging_hotspots

    em_src = blob_points(spark, N_POINTS_EMERGE, 64).withColumn(
        "bin", F.pmod(F.xxhash64(F.col("id"), F.lit(21)),
                      F.lit(EMERGE_BINS))
    )

    rip_src = spark.range(0, N_POINTS_RIPLEY, 1, 64).select(
        F.col("id"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(31)), 1000003)
         / 1000003.0 * 170.0 - 85.0).alias("latitude"),
        (F.pmod(F.xxhash64(F.col("id"), F.lit(32)), 1000003)
         / 1000003.0 * 356.0 - 178.0).alias("longitude"),
    )

    def run_emerging():
        # scoped cache: the gi_z slice frame feeds three consumers
        with storage.scope():
            force(emerging_hotspots(em_src, EMERGE_HB))

    jobs = {
        "trajectory_stats": lambda: trajectory_stats(st_src),
        "geofence_visits": lambda: geofence_visits(gf_src, fences),
        "co_location": lambda: co_location_pairs(co_src, 100.0, 300.0),
        "spatial_dbscan": run_dbscan,
        "idw_interpolate": lambda: idw_interpolate(
            idw_queries, idw_samples, "val", IDW_RADIUS_KM, k=IDW_K),
        "kde_cells": lambda: kde_cells(fld_src, KDE_BW_KM, KDE_HB),
        "emerging_hotspots": run_emerging,
        "staypoints": lambda: staypoints(
            st_src, STAY_MOVE_KM_BENCH, STAY_MIN_S_BENCH),
        "radius_gyration": lambda: radius_of_gyration(st_src),
        "location_entropy": lambda: location_entropy(st_src, 7),
        "ripleys_k": lambda: ripleys_k(
            rip_src, list(RIPLEY_RADII_BENCH),
            4.0 * 3.141592653589793 * 6371.0 * 6371.0),
    }
    jobs = {k: v for k, v in jobs.items() if k in JOBS}

    def run(fn) -> None:
        r = fn()
        if r is not None:  # self-forcing jobs return None
            force(r)

    for name, fn in jobs.items():
        run(fn)  # warmup (JIT/codegen/python workers)
        times = []
        for _ in range(reps):
            t0 = time.time()
            run(fn)
            times.append(round(time.time() - t0, 2))
        out[name] = min(times)
        out[f"{name}_reps"] = times  # type: ignore[assignment]
    spark.stop()
    return out


def main() -> None:
    global N_FIXES_FENCE, N_POINTS_DBSCAN, N_POINTS_EMERGE, JOBS
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--levels", default="2,8,32")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--jobs", default=",".join(JOBS),
                    help="comma list to run a subset (default: ALL jobs "
                         "in the module JOBS tuple)")
    ap.add_argument("--fence-fixes", type=int, default=None,
                    help="override N_FIXES_FENCE (bigger -> less "
                         "overhead-exposed geofence measurement)")
    ap.add_argument("--dbscan-points", type=int, default=None,
                    help="override N_POINTS_DBSCAN (the operator runs "
                         "~15 sequential jobs — bigger amortizes the "
                         "per-job fixed overhead)")
    ap.add_argument("--emerge-points", type=int, default=None,
                    help="override N_POINTS_EMERGE (the histogram stage "
                         "dominates; bigger de-exposes job overhead)")
    args = ap.parse_args()
    levels = [int(x) for x in args.levels.split(",")]
    if args.fence_fixes:
        N_FIXES_FENCE = args.fence_fixes
    if args.dbscan_points:
        N_POINTS_DBSCAN = args.dbscan_points
    if args.emerge_points:
        N_POINTS_EMERGE = args.emerge_points
    JOBS = tuple(args.jobs.split(","))

    best: dict[tuple[str, int], float] = {}
    for rnd in range(args.rounds):
        for lv in levels:
            with open("/proc/loadavg") as f:
                la = f.read().split()[0]
            res = bench_level(lv, args.reps)
            print(json.dumps({"round": rnd, "cores": lv,
                              "loadavg_start": la, **res}), flush=True)
            for q in JOBS:
                key = (q, lv)
                best[key] = min(best.get(key, 1e9), res[q])
    summary = {}
    for q in JOBS:
        row = {str(lv): best[(q, lv)] for lv in levels}
        if 2 in levels and 8 in levels:
            row["eff_2_to_8_raw"] = round(
                best[(q, 2)] / best[(q, 8)] / 4.0, 3
            )
        if 8 in levels and 32 in levels:
            row["eff_8_to_32_raw"] = round(
                best[(q, 8)] / best[(q, 32)] / 4.0, 3
            )
        summary[q] = row
    print(json.dumps({"summary": summary,
                      "n_fixes": {"trajectory_stats": N_FIXES_STATS,
                                  "geofence_visits": N_FIXES_FENCE,
                                  "co_location": N_FIXES_COLOC,
                                  "spatial_dbscan": N_POINTS_DBSCAN},
                      "dbscan": {"eps_km": DBSCAN_EPS_KM,
                                 "min_pts": DBSCAN_MIN_PTS},
                      "n_entities": N_ENTITIES}))


if __name__ == "__main__":
    main()
