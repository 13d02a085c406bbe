"""Structured Streaming surface (engine extension — SURVEY.md §2.3: the
reference has nothing streaming; the engine exposes its tile/cell operators
over readStream so a live point feed rolls up into tile manifests).

All transforms reuse the same Column builders as batch (exprs.py), so the
streaming plan is the batch plan + watermarked state. Tests drive it with
trigger(availableNow=True) over parquet input — no live source needed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import exprs


def streaming_tile_counts(
    stream: DataFrame,
    zoom: int,
    ts_col: str = "ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-tile point counts with late-data watermarking.

    Input: a streaming DataFrame with an event-time column and lat/lon.
    Output (append-mode capable): window, tile_x, tile_y, n_points.
    """
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window),
            exprs.tile_x(F.col(lon_col), zoom).alias("tile_x"),
            exprs.tile_y(F.col(lat_col), zoom).alias("tile_y"),
        )
        .agg(F.count("*").alias("n_points"))
    )


def replay_parquet_stream(spark, df: DataFrame, n_files: int = 4,
                          order_col: str | None = None):
    """Replay a batch DataFrame as a file stream, one micro-batch per file
    (maxFilesPerTrigger=1). ``order_col`` range-partitions AND staggers file
    mtimes so micro-batches arrive in that column's order — the arrival
    contract order-sensitive stateful ops (sessionization) assume;
    FileStreamSource orders batches by file MTIME, not path. Returns
    (stream_df, tmpdir); pass the tmpdir to run_stream_to_memory for
    cleanup."""
    import glob
    import os
    import tempfile
    import time

    d = tempfile.mkdtemp(prefix="geoeng_replay_")
    part = (
        df.repartitionByRange(n_files, order_col)
        if order_col
        else df.repartition(n_files)
    )
    part.write.mode("overwrite").parquet(f"{d}/in")
    if order_col:
        now = time.time()
        for i, f in enumerate(sorted(glob.glob(f"{d}/in/part-*"))):
            os.utime(f, (now + i * 10, now + i * 10))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/in")
    )
    return stream, d


def run_stream_to_memory(out: DataFrame, name: str, output_mode: str,
                         tmpdir: str, timeout_s: int = 600) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with availableNow,
    FAILING loudly on timeout (a silent partial table would masquerade as
    a correctness bug), then remove the replay dir + checkpoint (the
    memory sink holds the results)."""
    import shutil

    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ck")
        .start()
    )
    finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
        shutil.rmtree(tmpdir, ignore_errors=True)
        raise TimeoutError(f"stream {name!r} did not finish in {timeout_s}s")
    result = out.sparkSession.table(name)
    shutil.rmtree(tmpdir, ignore_errors=True)
    return result


def run_stream_until_idle(out: DataFrame, name: str, output_mode: str,
                          tmpdir: str, idle_s: float = 10.0,
                          timeout_s: int = 600) -> DataFrame:
    """Finite-replay runner for PROCESSING-TIME-TIMEOUT streams. With a
    processing-time TTL the trigger can never prove no future timeout will
    fire, so ``availableNow`` degrades to an endless run of empty batches
    (observed on pyspark 4.1: batch id keeps climbing with numInputRows=0
    after the source drains) — correct for a production feed, which never
    ends, but a replay harness must stop the query itself. Runs until no
    input rows have arrived for ``idle_s`` (several empty batches — ample
    time for pending timeouts to fire and evict), then stops and returns
    the memory-sink table."""
    import shutil
    import time

    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmpdir}/ck")
        .start()
    )
    t0 = time.time()
    last_data = time.time()
    while True:
        time.sleep(1.0)
        if not q.isActive:
            # terminated on its own: either a clean finish (legal for a
            # non-TTL stream under availableNow) or a FAILURE — a silent
            # partial table masquerading as a result is the one outcome
            # this runner must never produce, so surface the real error
            ex = q.exception()
            if ex is not None:
                shutil.rmtree(tmpdir, ignore_errors=True)
                raise ex
            break
        lp = q.lastProgress or {}
        if lp.get("numInputRows"):
            last_data = time.time()
        # a data-bearing micro-batch can run longer than idle_s while
        # lastProgress still shows the previous zero-input batch — stopping
        # then would return a silently partial table. status.isDataAvailable
        # stays TRUE from the moment source offsets pass committed offsets
        # until the batch that consumes them COMMITS, so it covers exactly
        # that window; it reads FALSE during a drained TTL replay's endless
        # empty batches (those fire for possible timeouts, not data), so —
        # unlike gating on isTriggerActive, which those batches hold true
        # almost continuously — it cannot livelock the idle stop.
        st = q.status or {}
        if st.get("isDataAvailable"):
            last_data = time.time()
        if lp and time.time() - last_data > idle_s:
            break  # drained: several consecutive zero-input batches
        if time.time() - t0 > timeout_s:
            q.stop()
            shutil.rmtree(tmpdir, ignore_errors=True)
            raise TimeoutError(
                f"stream {name!r} did not drain in {timeout_s}s"
            )
    if q.isActive:
        q.stop()
    result = out.sparkSession.table(name)
    shutil.rmtree(tmpdir, ignore_errors=True)
    return result


def stateful_user_totals(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key
    running (event count, value sum) persisted in state across micro-batches,
    emitted in update mode after every batch. Because each emitted row
    carries the FULL running total, the last row per key equals the batch
    aggregate — that equality is the driver-gate certification
    (`streaming_user_totals` vs a plain GROUP BY oracle)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, s = tuple(state.get) if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"key": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        stream.groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType="key long, n_events long, sum_value double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_exact_dedup(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ttl_minutes: float | None = None,
) -> DataFrame:
    """Streaming exact dedup — keep each content hash's FIRST-SEEN row
    across micro-batches (the training-pipeline dedup run over a live
    document feed instead of a batch table). State per md5(text) key is a
    single boolean-equivalent (the kept id); later arrivals of the same
    content emit nothing (append semantics). Within one micro-batch the
    earliest id wins deterministically, so a feed replayed in id order
    emits exactly the batch exact_dedup keep-set.

    State bound: without a TTL the store grows one entry per DISTINCT
    content hash forever — fine for a finite replay, unbounded on a
    production feed. ``ttl_minutes`` sets a SLIDING processing-time TTL:
    each (re-)arrival of a hash refreshes its entry's deadline, and an
    entry idle past the TTL is evicted, so a copy arriving after
    expiration is treated as first-seen again and re-emitted — the
    standard bounded-memory dedup contract (same trade as watermarked
    ``dropDuplicates``). Within the TTL window semantics are unchanged.
    At 100 TB pair this with the RocksDB state store
    (``spark.sql.streaming.stateStore.providerClass =
    org.apache.spark.sql.execution.streaming.state
    .RocksDBStateStoreProvider``) so live state is off-heap with
    changelog checkpointing; the TTL then bounds disk, not just heap.
    Finite replays of a TTL'd stream must use
    :func:`run_stream_until_idle` — processing-time timeouts keep the
    trigger alive, so ``availableNow`` alone never terminates."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = None if ttl_minutes is None else max(1, int(ttl_minutes * 60_000))

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        empty = pd.DataFrame({"text_hash": [], "keep_id": []}).astype(
            {"text_hash": str, "keep_id": "int64"}
        )
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()  # idle past TTL: evict (pdfs is empty here)
            yield empty
            return
        ids = [pdf[id_col] for pdf in pdfs]
        if state.exists:
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)  # sliding: refresh on re-arrival
            yield empty
            return
        first = int(pd.concat(ids).min())
        state.update((first,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame({"text_hash": [key[0]], "keep_id": [first]})

    keyed = stream.withColumn(
        "_h", F.md5(F.col(text_col).cast("binary"))
    )
    return keyed.groupBy(F.col("_h")).applyInPandasWithState(
        fn,
        outputStructType="text_hash string, keep_id long",
        stateStructType="keep long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


def sessionize_gap(
    stream: DataFrame,
    gap_minutes: float = 30.0,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization via ``applyInPandasWithState``: a session
    CLOSES when the next event of the same key arrives more than
    ``gap_minutes`` after the previous one. State carries the open
    session's (start, last, n); closed sessions are emitted as rows
    (append semantics). The trailing open session per key stays in state —
    in a finite replay it is never emitted, and the pytest twin excludes
    each key's last batch-computed session accordingly."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = gap_minutes * 60.0

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        start, last, n = state.get if state.exists else (None, None, 0)
        closed = []
        # the group's rows may arrive chunked and unordered: gather, then
        # sort once (event-time order within this invocation)
        chunks = [
            pd.to_datetime(pdf[ts_col]).astype("int64") / 1e9 for pdf in pdfs
        ]
        ts_all = pd.concat(chunks).sort_values() if chunks else pd.Series([], dtype=float)
        for t in ts_all:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_s:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        state.update((float(start), float(last), int(n)))
        yield pd.DataFrame(
            {
                "key": [key[0]] * len(closed),
                "session_start": [c[0] for c in closed],
                "session_end": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )

    return (
        stream.groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "key long, session_start double, session_end double, "
                "n_events long"
            ),
            stateStructType="start double, last double, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_radius_pairs(
    stream_origins: DataFrame,
    static_neighbors: DataFrame,
    radius: float,
    unit: str = "km",
    **kw,
) -> DataFrame:
    """Streaming radius-neighborhood search: a live origin point feed
    probes the STATIC neighbor index — the natural composition of the
    engine's two certified halves (join.radius_join_pairs plan + the
    streaming runtime). The batch plan is reused verbatim: the covering-
    cell explode is stateless Column math, and the cell equi-join is a
    supported stream-static inner join — no state, no watermark; each
    micro-batch joins against the static side independently (append-mode
    capable). To elide the static side's per-batch shuffle at scale, write
    it once with index.write_bucketed_neighbor_index and probe that table
    with ``index.radius_join_pairs_bucketed(spark, stream, table, radius)``
    instead: the table's columns are already prefixed and keyed, so it is
    not a valid ``static_neighbors`` here."""
    from .join import radius_join_pairs

    return radius_join_pairs(stream_origins, static_neighbors, radius,
                             unit, **kw)


def streaming_radius_pairs_per_row(
    stream_origins: DataFrame,
    static_neighbors: DataFrame,
    max_radius: float,
    radius_col: str = "radius",
    unit: str = "km",
    **kw,
) -> DataFrame:
    """Per-row-radius variant of :func:`streaming_radius_pairs`: each
    streamed origin row carries its own radius (the reference's full
    SearchInquery model on a live feed; pass ``unit_col=`` through ``kw``
    for per-row units too — ``max_radius`` is then in KM). ``max_radius``
    is REQUIRED here — the batch path's fallback (a scalar max() agg over
    the origins) is not executable on an unbounded stream, so the
    application supplies the bound that sizes the one global grid
    resolution. Otherwise the exact batch plan, stateless per micro-batch."""
    from .join import radius_join_pairs_per_row

    return radius_join_pairs_per_row(
        stream_origins, static_neighbors, radius_col=radius_col, unit=unit,
        max_radius=max_radius, **kw,
    )


def streaming_staypoints(
    stream_points: DataFrame,
    move_km: float,
    min_stay_s: float,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "id",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
) -> DataFrame:
    """LIVE staypoint detection over a point-fix stream — the streaming
    twin of trajectories.staypoints: state carries each entity's OPEN
    stationary run (count, coordinate sums, enter/last micros, last
    fix); a fix stepping further than ``move_km`` (strict >, the batch
    break rule) CLOSES the run, which is emitted iff its exact
    integer-micros duration reaches ``min_stay_s`` — the identical
    comparison the batch filter performs. The trailing open run per
    entity is never emitted (sessionize_gap's contract); a finite
    replay certifies batch==streaming by appending one far "flush" fix
    per entity (antipodal to its last fix, so the step always breaks),
    which closes every real run and never qualifies itself.

    Fixes must arrive in (ts, seq) order per entity ACROSS micro-batches
    (replay_parquet_stream order_col contract); within a batch the state
    fn sorts. NULL-coordinate and NULL-timestamp fixes are dropped (the
    identical batch filter — a NULL ts would otherwise reach the state
    fn as NaN and kill the stream).
    Step distances use the same law-of-cosines/R=6371 formula as the
    batch Column (python vs JVM libm may differ in the last ulp — a
    break decision flips only for a step EXACTLY at move_km).

    Output (append): entity, center_lat, center_lon, enter_us, exit_us,
    duration_s, n_fixes — the batch staypoints schema minus visit_seq
    (a global run counter has no streaming meaning).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not (move_km > 0):
        raise ValueError(f"move_km must be > 0, got {move_km!r}")
    if min_stay_s < 0:
        raise ValueError(f"min_stay_s must be >= 0, got {min_stay_s!r}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    rows = stream_points.where(
        F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()
        & F.col(ts_col).isNotNull()
    ).select(
        F.col(entity_col).alias("_ent"),
        F.col(seq_col).alias("_seq"),
        us.alias("_us"),
        F.col(lat_col).alias("_lat"),
        F.col(lon_col).alias("_lon"),
    )
    move = float(move_km)
    min_stay = float(min_stay_s)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        from geoengine.geodesy import dist_law_of_cosines_km

        if state.exists:
            n, slat, slon, enter, last, llat, llon = state.get
        else:
            n, slat, slon, enter, last, llat, llon = 0, 0.0, 0.0, 0, 0, 0.0, 0.0
        chunks = [p for p in pdfs]
        out: list[tuple] = []
        if chunks:
            df = pd.concat(chunks).sort_values(["_us", "_seq"])
            for la, lo, us_v in zip(df["_lat"], df["_lon"], df["_us"]):
                la, lo, us_v = float(la), float(lo), int(us_v)
                if n > 0 and dist_law_of_cosines_km(llat, llon, la, lo) <= move:
                    n, slat, slon = n + 1, slat + la, slon + lo
                    last, llat, llon = us_v, la, lo
                    continue
                if n > 0:
                    dur = float(last - enter) / 1.0e6
                    if dur >= min_stay:
                        out.append((slat / n, slon / n, enter, last, dur, n))
                n, slat, slon = 1, la, lo
                enter, last, llat, llon = us_v, us_v, la, lo
        state.update((int(n), float(slat), float(slon), int(enter),
                      int(last), float(llat), float(llon)))
        yield pd.DataFrame(
            {
                "entity": [key[0]] * len(out),
                "center_lat": [o[0] for o in out],
                "center_lon": [o[1] for o in out],
                "enter_us": [o[2] for o in out],
                "exit_us": [o[3] for o in out],
                "duration_s": [o[4] for o in out],
                "n_fixes": [o[5] for o in out],
            }
        )

    ent_type = stream_points.schema[entity_col].dataType.simpleString()
    return rows.groupBy(F.col("_ent")).applyInPandasWithState(
        fn,
        outputStructType=(
            f"entity {ent_type}, center_lat double, center_lon double, "
            "enter_us long, exit_us long, duration_s double, n_fixes long"
        ),
        stateStructType=(
            "n long, sum_lat double, sum_lon double, enter_us long, "
            "last_us long, last_lat double, last_lon double"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_geofence_events(
    stream_points: DataFrame,
    polygons: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    seq_col: str = "id",
    half_bits: int = 8,
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """Live geofence ENTER/EXIT event detection over a point-fix stream —
    the streaming twin of trajectories.geofence_visits: an 'enter' fires
    on the first fix of a membership run, an 'exit' fires when a later
    fix arrives outside, stamped with the LAST inside fix's time (the
    batch visit's exit_ts). Fixes must arrive in (ts, seq) order per
    entity ACROSS micro-batches (replay_parquet_stream order_col
    contract); within a batch the state fn sorts.

    Plan: stream-static membership join (the certified PIP covering join,
    LEFT so fixes in no fence still flow — they are what close visits)
    -> applyInPandasWithState keyed by entity, state = (current inside
    set, last fix micros). The trailing open memberships never emit an
    exit (same contract as sessionize_gap's trailing session). Candidate
    rows (fix x candidate fence) ride the state shuffle; at very high
    fence density pre-reduce per fix before the shuffle.

    Output (append): entity, poly_id, event ('enter'|'exit'), event_us.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .pip import (
        _covering_from_prep,
        _geometry_frame,
        _pip_udf,
        _prepped_polygons,
    )

    # one shared prep subtree feeds both membership sides (same structure
    # as the batch join); the geometry attach is broadcast-hinted only
    # under the plan-stats size cap — million-fence corpora fall back to
    # the planner's choice
    prep = _prepped_polygons(polygons, poly_id, rings_col)
    cov = _covering_from_prep(prep, half_bits, poly_id).select(
        poly_id, "_geom_key", "gkey",
        F.col("_wrap").alias("_bwrap"),
        "_lat0", "_lat1", "_lon0", "_lon1",
    )
    geom = _geometry_frame(prep)
    from .join import with_grid_cell

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    pts = with_grid_cell(
        stream_points.select(
            F.col(entity_col).alias("_ent"),
            F.col(seq_col).alias("_seq"),
            us.alias("_us"),
            "latitude",
            "longitude",
        ),
        half_bits,
    )
    # the codegen'd bbox test rides the LEFT join's condition (bbox >=
    # polygon, so bbox-outside implies outside — a fix failing it keeps
    # its null row, preserving exit detection) and spares the geometry
    # join + Arrow stage the covering grid's overhang
    lon_eff = F.when(
        cov["_bwrap"] & (pts["longitude"] < 0.0), pts["longitude"] + 360.0
    ).otherwise(pts["longitude"])
    cand = (
        pts.join(
            cov,
            (pts["gkey"] == cov["gkey"])
            & pts["latitude"].between(cov["_lat0"], cov["_lat1"])
            & lon_eff.between(cov["_lon0"], cov["_lon1"]),
            "left",
        )
        .drop(cov["gkey"])
        .drop("_bwrap", "_lat0", "_lat1", "_lon0", "_lon1")
        .join(geom, "_geom_key", "left")
    )
    rows = cand.select(
        "_ent", "_seq", "_us",
        F.col(poly_id).alias("_poly"),
        _pip_udf()(
            F.col("latitude"), F.col("longitude"), F.col("_geom_key"),
            F.col("_rlat"), F.col("_rlon"),
            F.coalesce(F.col("_wrap"), F.lit(False)),
        ).alias("_inside"),
    )

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            inside_list, last_us = state.get
            cur = set(inside_list)
        else:
            cur, last_us = set(), -1
        chunks = [p for p in pdfs]
        events: list[tuple] = []
        if chunks:
            df = pd.concat(chunks)
            for (us_v, _seq), g in df.groupby(["_us", "_seq"], sort=True):
                members = set(g.loc[g["_inside"].fillna(False), "_poly"])
                members.discard(None)
                for p in sorted(members - cur):
                    events.append((p, "enter", int(us_v)))
                for p in sorted(cur - members):
                    events.append((p, "exit", int(last_us)))
                cur, last_us = members, int(us_v)
        state.update((sorted(cur), int(last_us)))
        yield pd.DataFrame(
            {
                "entity": [key[0]] * len(events),
                "poly_id": [e[0] for e in events],
                "event": [e[1] for e in events],
                "event_us": [e[2] for e in events],
            }
        )

    # output/state schemas follow the INPUT types (entity ids and fence
    # ids are caller-defined — string device UUIDs, int fence ids, ...)
    ent_type = stream_points.schema[entity_col].dataType.simpleString()
    poly_type = polygons.schema[poly_id].dataType.simpleString()
    return rows.groupBy(F.col("_ent")).applyInPandasWithState(
        fn,
        outputStructType=(
            f"entity {ent_type}, poly_id {poly_type}, "
            "event string, event_us long"
        ),
        stateStructType=f"inside array<{poly_type}>, last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
