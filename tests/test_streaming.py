"""Streaming tile rollup == batch rollup on the same input (availableNow);
stateful operators (applyInPandasWithState) == batch twins."""

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from geoengine import exprs
from geoengine.streaming import (
    sessionize_gap,
    stateful_user_totals,
    streaming_tile_counts,
)


def test_streaming_tile_counts_matches_batch(spark, sf_dir, tmp_path):
    src = f"{sf_dir}/events.parquet"
    batch = spark.read.parquet(src)
    schema = batch.schema

    pts = lambda df: df.withColumn(
        "latitude", ((F.col("event_id") * 37) % 18000) / 100.0 - 90.0
    ).withColumn("longitude", ((F.col("event_id") * 91) % 36000) / 100.0 - 180.0)

    stream = spark.readStream.schema(schema).parquet(os.path.dirname(src) or src)
    # readStream needs a directory; copy the file into one
    d = tmp_path / "in"
    d.mkdir()
    batch.write.mode("overwrite").parquet(str(d))
    stream = spark.readStream.schema(schema).parquet(str(d))

    out = streaming_tile_counts(pts(stream), zoom=6, window="24 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("tile_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql(
        "SELECT tile_x, tile_y, sum(n_points) AS n FROM tile_counts "
        "GROUP BY 1, 2"
    ).toPandas()
    want = (
        pts(batch)
        .groupBy(
            exprs.tile_x(F.col("longitude"), 6).alias("tile_x"),
            exprs.tile_y(F.col("latitude"), 6).alias("tile_y"),
        )
        .agg(F.count("*").alias("n"))
        .toPandas()
    )
    g = {(r.tile_x, r.tile_y): r.n for r in got.itertuples()}
    w = {(r.tile_x, r.tile_y): r.n for r in want.itertuples()}
    assert g == w and len(w) > 0


def test_streaming_radius_equals_batch(spark, sf_dir):
    from geoengine.datasets import customer_points, supplier_points
    from geoengine.join import radius_join_pairs
    from geoengine.streaming import (
        replay_parquet_stream,
        run_stream_to_memory,
        streaming_radius_pairs,
    )

    origins = customer_points(spark, sf_dir)
    neighbors = supplier_points(spark, sf_dir)
    stream, d = replay_parquet_stream(spark, origins, n_files=3)
    got = run_stream_to_memory(
        streaming_radius_pairs(stream, neighbors, 500.0, "km").select(
            "origin_id", "neighbor_id", F.round("distance_km", 6).alias("d")
        ),
        "t_stream_radius",
        "append",
        d,
    ).toPandas()
    want = (
        radius_join_pairs(origins, neighbors, 500.0, "km")
        .select("origin_id", "neighbor_id", F.round("distance_km", 6).alias("d"))
        .toPandas()
    )
    g = set(map(tuple, got.itertuples(index=False)))
    w = set(map(tuple, want.itertuples(index=False)))
    assert g == w and len(w) > 0


def test_streaming_radius_bucketed_equals_batch(spark, sf_dir):
    """A live origin feed probes a bucketed neighbor index table through
    radius_join_pairs_bucketed (the table is not a valid static side of
    streaming_radius_pairs: its columns are already prefixed)."""
    from geoengine.datasets import customer_points, supplier_points
    from geoengine.index import (
        radius_join_pairs_bucketed,
        write_bucketed_neighbor_index,
    )
    from geoengine.join import pick_half_bits, radius_join_pairs
    from geoengine.streaming import replay_parquet_stream, run_stream_to_memory

    origins = customer_points(spark, sf_dir)
    neighbors = supplier_points(spark, sf_dir)
    table = "t_stream_bucketed_nb"
    write_bucketed_neighbor_index(neighbors, table, pick_half_bits(500.0),
                                  n_buckets=8)
    try:
        stream, d = replay_parquet_stream(spark, origins, n_files=3)
        got = run_stream_to_memory(
            radius_join_pairs_bucketed(spark, stream, table, 500.0).select(
                "origin_id", "neighbor_id", F.round("distance_km", 6).alias("d")
            ),
            "t_stream_radius_bucketed",
            "append",
            d,
        ).toPandas()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    want = (
        radius_join_pairs(origins, neighbors, 500.0, "km")
        .select("origin_id", "neighbor_id", F.round("distance_km", 6).alias("d"))
        .toPandas()
    )
    g = set(map(tuple, got.itertuples(index=False)))
    w = set(map(tuple, want.itertuples(index=False)))
    assert g == w and len(w) > 0


def test_streaming_radius_per_row_equals_batch(spark, sf_dir):
    """Full SearchInquery model on a live feed: streamed origins carry
    per-row radii; availableNow replay == the batch per-row join."""
    from pyspark.sql import functions as F_

    from geoengine.datasets import customer_points, supplier_points
    from geoengine.join import radius_join_pairs_per_row
    from geoengine.streaming import (
        replay_parquet_stream,
        run_stream_to_memory,
        streaming_radius_pairs_per_row,
    )

    origins = customer_points(spark, sf_dir).withColumn(
        "radius", 100.0 + (F_.col("id") % 5) * 100.0
    )
    neighbors = supplier_points(spark, sf_dir)
    stream, d = replay_parquet_stream(spark, origins, n_files=3)
    got = run_stream_to_memory(
        streaming_radius_pairs_per_row(stream, neighbors, 500.0).select(
            "origin_id", "neighbor_id", F_.round("distance_km", 6).alias("d")
        ),
        "t_stream_radius_prr", "append", d,
    ).toPandas()
    want = (
        radius_join_pairs_per_row(origins, neighbors, max_radius=500.0)
        .select("origin_id", "neighbor_id", F_.round("distance_km", 6).alias("d"))
        .toPandas()
    )
    g = set(map(tuple, got.itertuples(index=False)))
    w = set(map(tuple, want.itertuples(index=False)))
    assert g == w and len(w) > 0


def test_streaming_exact_dedup_suppresses_cross_batch_dups(spark):
    # duplicates far apart in id space land in DIFFERENT micro-batches
    # (id-ordered range replay): state must suppress the later copy, and
    # the emitted keep-set must equal the batch exact dedup
    import pandas as pd

    from geoengine.streaming import (
        replay_parquet_stream,
        run_stream_to_memory,
        streaming_exact_dedup,
    )
    from geoengine.text import exact_dedup

    n = 400
    texts = [f"unique doc {i}" if i % 4 else f"dup family {i % 8}"
             for i in range(n)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "text": texts})
    )
    stream, d = replay_parquet_stream(spark, docs, n_files=4,
                                      order_col="doc_id")
    got = run_stream_to_memory(
        streaming_exact_dedup(stream), "t_stream_dedup", "append", d
    ).toPandas()
    want = exact_dedup(docs).toPandas()
    assert len(got) == len(want) < n  # real duplicates were suppressed
    g = set(zip(got["text_hash"], got["keep_id"]))
    w = set(zip(want["text_hash"], want["keep_id"]))
    assert g == w
    # each dup family spans the id range -> copies in several micro-batches,
    # proving the suppression crossed batch boundaries
    fam = [i for i in range(n) if not i % 4]
    assert max(fam) - min(fam) > n // 2


def test_streaming_dedup_ttl_evicts_idle_state(spark):
    """Sliding processing-time TTL: an entry idle past the TTL is evicted,
    so a later copy of the same content RE-emits (bounded-state contract);
    within one micro-batch (inside any TTL window) dups stay suppressed."""
    import pandas as pd

    from geoengine.streaming import (
        replay_parquet_stream,
        run_stream_until_idle,
        streaming_exact_dedup,
    )

    # batch 0 (ids 0-9) and batch 3 (ids 30-39) both carry content "dup";
    # batches are seconds apart, TTL is ~1 ms -> the batch-0 entry is
    # expired by the time batch 3 arrives. A TTL'd stream never
    # self-terminates under availableNow (timeouts keep the trigger
    # alive), so the drain-then-stop runner is part of what's under test.
    texts = ["dup" if i in (0, 1, 30, 31) else f"u{i}" for i in range(40)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(40), "text": texts})
    )
    stream, d = replay_parquet_stream(spark, docs, n_files=4,
                                      order_col="doc_id")
    got = run_stream_until_idle(
        streaming_exact_dedup(stream, ttl_minutes=1e-9),
        "t_stream_dedup_ttl", "append", d,
    ).toPandas()
    dup_hits = sorted(got[got["keep_id"].isin([0, 1, 30, 31])]["keep_id"])
    # in-batch dedup held (0 beat 1, 30 beat 31); eviction re-emitted 30
    assert dup_hits == [0, 30]
    # 37 distinct contents; exactly one extra row = the re-emission of "dup"
    assert len(set(got["text_hash"])) == 37
    assert len(got) == 38


def _events_stream(spark, sf_dir, tmp_path, files=4, time_ordered=False):
    """Replay the events table as a file stream, one micro-batch per file.
    time_ordered=True delivers micro-batches in event-time order (the
    arrival contract sessionization assumes; totals are order-insensitive
    and use the adversarial hash split)."""
    from geoengine.streaming import replay_parquet_stream

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream, d = replay_parquet_stream(
        spark, batch, n_files=files, order_col="ts" if time_ordered else None
    )
    return batch, stream, d


def test_stateful_user_totals_equals_batch(spark, sf_dir, tmp_path):
    from geoengine.streaming import run_stream_to_memory

    batch, stream, d = _events_stream(spark, sf_dir, tmp_path)
    upd = run_stream_to_memory(
        stateful_user_totals(stream), "t_user_totals", "update", d
    ).toPandas()
    # multiple micro-batches -> more update rows than keys (state carried)
    assert len(upd) > upd["key"].nunique()
    final = upd.loc[upd.groupby("key")["n_events"].idxmax()].set_index("key")
    want = (
        batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .toPandas()
        .set_index("user_id")
    )
    assert final["n_events"].sort_index().tolist() == want["n"].sort_index().tolist()
    assert (
        (final["sum_value"].sort_index() - want["s"].sort_index()).abs() < 1e-6
    ).all()


def test_sessionize_gap_equals_batch_twin(spark, sf_dir, tmp_path):
    from geoengine.streaming import run_stream_to_memory

    batch, stream, d = _events_stream(spark, sf_dir, tmp_path, time_ordered=True)
    got = run_stream_to_memory(
        sessionize_gap(stream, gap_minutes=30.0), "t_sessions", "append", d
    ).toPandas()
    got_set = {
        (int(r.key), round(r.session_start, 3), round(r.session_end, 3), int(r.n_events))
        for r in got.itertuples()
    }

    # batch twin: gap > 30min starts a new session (lag + cumsum window)
    w = Window.partitionBy("user_id").orderBy("tsl")
    sess = (
        batch.withColumn("tsl", F.col("ts").cast("timestamp").cast("double"))
        .withColumn("prev", F.lag("tsl").over(w))
        .withColumn(
            "brk", (F.col("prev").isNull() | (F.col("tsl") - F.col("prev") > 1800.0)).cast("int")
        )
        .withColumn("sid", F.sum("brk").over(w))
        .groupBy("user_id", "sid")
        .agg(
            F.min("tsl").alias("session_start"),
            F.max("tsl").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    ).toPandas()
    # the trailing (still-open) session per user is never emitted by the
    # stream; drop each user's last session from the batch twin
    last = sess.groupby("user_id")["sid"].transform("max")
    closed = sess[sess["sid"] != last]
    want_set = {
        (int(r.user_id), round(r.session_start, 3), round(r.session_end, 3), int(r.n_events))
        for r in closed.itertuples()
    }
    assert got_set == want_set
    assert len(want_set) > 0


def test_streaming_staypoints_equals_batch(spark, tmp_path):
    """streaming_staypoints over fixes + per-entity antipodal flush fix ==
    batch trajectories.staypoints over the fixes (exact rows: centroid
    sums accumulate in the same (ts, seq) order in both paths)."""
    import datetime as dt

    from geoengine.streaming import (
        replay_parquet_stream,
        run_stream_to_memory,
        streaming_staypoints,
    )
    from geoengine.trajectories import staypoints

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # two entities with dwell/hop/dwell shapes + one lone far fix
    for ent, base_lat, base_lon in ((1, 10.0, 10.0), (2, -30.0, 140.0)):
        sec = 0.0
        seq = ent * 1000
        for dwell in range(3):
            for i in range(4 + dwell):
                rows.append((seq, ent, t0 + dt.timedelta(seconds=sec),
                             base_lat + dwell * 3.0 + i * 0.0005,
                             base_lon + dwell * 3.0))
                sec += 90.0
                seq += 1
            sec += 30.0
    batch = spark.createDataFrame(
        rows, "id long, user_id long, ts timestamp_ntz, "
              "latitude double, longitude double")
    want = sorted(
        (r["user_id"], round(r["center_lat"], 9), round(r["center_lon"], 9),
         r["enter_us"], r["exit_us"], r["n_fixes"])
        for r in staypoints(batch, 1.0, 200.0).collect()
    )
    flush = batch.groupBy("user_id").agg(
        (F.max("id") + F.lit(1)).alias("id"),
        (F.max("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        (-F.max_by("latitude", F.struct("ts", "id"))).alias("latitude"),
        (F.pmod(F.max_by("longitude", F.struct("ts", "id")) + 360.0, 360.0)
         - 180.0).alias("longitude"),
    ).select("id", "user_id", "ts", "latitude", "longitude")
    stream, d = replay_parquet_stream(
        spark, batch.unionByName(flush), n_files=4, order_col="ts")
    got_tbl = run_stream_to_memory(
        streaming_staypoints(stream, 1.0, 200.0),
        "t_stream_staypoints", "append", d,
    ).toPandas()
    got = sorted(
        (int(r.entity), round(r.center_lat, 9), round(r.center_lon, 9),
         int(r.enter_us), int(r.exit_us), int(r.n_fixes))
        for r in got_tbl.itertuples()
    )
    assert got == want and len(want) >= 4  # both entities, several dwells
