"""Per-query iteration bench (round 6 optimization work) — NOT the frozen
driver bench.  Times a selectable subset of the headline/extra queries with
the same methodology as bench.py (noop sink, warm + min-of-reps) so a
single optimization can be measured in ~30 s instead of a full 6-minute
bench.py pass.  Run:  python bench_extra.py [names...]

Numbers quoted in OPTIMIZATION_r06.md come from this file (isolated legs)
and from full bench.py passes (headline totals).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from geoengine import datasets, exprs, storage  # noqa: E402
from geoengine.session import get_spark  # noqa: E402


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    spark = get_spark("geoengine-bench-extra", cores=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, float] = {}
    rep_times: dict[str, list[float]] = {}

    def run(name: str, df_fn) -> None:
        if only and name not in only:
            return
        spark.sparkContext.setJobDescription(name)
        force(df_fn())  # warm
        times = []
        for _ in range(reps):
            t0 = time.time()
            force(df_fn())
            times.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        rep_times[name] = times
        out[name] = sorted(times)[0]

    def run_scoped(name: str, once_fn) -> None:
        if only and name not in only:
            return
        spark.sparkContext.setJobDescription(name)
        once_fn()
        times = []
        for _ in range(reps):
            t0 = time.time()
            once_fn()
            times.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        rep_times[name] = times
        out[name] = sorted(times)[0]

    from geoengine.join import radius_join_pairs
    from geoengine.knn import knn_join_rings
    from geoengine.text import exact_dedup, minhash_near_dup_pairs
    from geoengine.topk import top_n_per_origin

    origins = datasets.with_point(
        spark.read.parquet(f"{sf_dir}/orders.parquet"), "o_orderkey", 41, 97
    ).select(F.col("o_orderkey").alias("id"), "latitude", "longitude")
    customers = datasets.customer_points(spark, sf_dir)
    suppliers = datasets.supplier_points(spark, sf_dir)
    events = datasets.event_points(spark, sf_dir)

    pairs = lambda: radius_join_pairs(origins, customers, 100.0, "km")  # noqa: E731
    run("radius_join", pairs)
    run("radius_topk", lambda: top_n_per_origin(pairs(), 10))
    run("knn_rings", lambda: knn_join_rings(customers, suppliers, 5))

    def tiles():
        return events.select(
            "id",
            exprs.tile_x(F.col("longitude"), 12).alias("tile_x"),
            exprs.tile_y(F.col("latitude"), 12).alias("tile_y"),
        )

    run("tile_assign", tiles)
    run("tile_rollup", lambda: tiles().groupBy("tile_x", "tile_y")
        .agg(F.count("*").alias("n")))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    run("dedup_exact", lambda: exact_dedup(docs))
    run("minhash_lsh",
        lambda: minhash_near_dup_pairs(docs, jaccard_threshold=0.5))

    from geoengine.fixtures import images_table
    from geoengine.images import with_computed_phash

    n_images = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "60000"))
    run("images_phash",
        lambda: with_computed_phash(images_table(spark, n_images,
                                                 partitions=32)))

    from geoengine.similarity import cosine_topk_ivf

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") % 29 == 0)
    run("embedding_ivf", lambda: cosine_topk_ivf(
        qs, emb, 3, n_centroids=16, n_probe=4, refine_iters=2, n_assign=3
    ))

    from geoengine.fixtures import polygons_table
    from geoengine.trajectories import geofence_visits, trajectory_stats

    ev_fix = datasets.with_point(
        spark.read.parquet(f"{sf_dir}/events.parquet"), "event_id", 37, 91
    ).select(F.col("event_id").alias("id"), "user_id", "ts",
             "latitude", "longitude")
    fences = polygons_table(
        spark, 6, seed=11, half_width_scale=16.0
    ).withColumn("rings", F.array("ring")).drop("ring")
    run("trajectory_stats", lambda: trajectory_stats(ev_fix))
    run("geofence_visits", lambda: geofence_visits(ev_fix, fences))

    import __spark_entry__ as _entry
    from geoengine.clusters import spatial_dbscan

    db_pts = _entry._dbscan_points(spark, sf_dir)

    def _dbscan_once() -> None:
        with storage.scope():
            force(spatial_dbscan(db_pts, 10.0, 8))

    run_scoped("spatial_dbscan", _dbscan_once)

    from geoengine.index import emerging_hotspots

    em_pts = (
        ev_fix.select(
            "latitude", "longitude",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .withColumn("bin", F.expr(f"us div {_entry.EMERGE_BIN_US}"))
        .drop("us")
    )

    def _emerge_once() -> None:
        with storage.scope():
            force(emerging_hotspots(em_pts, _entry.EMERGE_HB))

    run_scoped("emerging_hotspots", _emerge_once)

    print(json.dumps({"queries_min": out, "rep_times": rep_times,
                      "sf": sf_dir, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
