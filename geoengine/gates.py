"""Size decisions: the one module that says how big an input is and what
fits where. Callers ask it and pick a branch; every branch of every gate
returns the same rows (tests/test_gates.py forces each both ways).

The thresholds are plain constants. Each one only chooses between exact
strategies, so none is a correctness knob; tests monkeypatch them here.

Plan statistics are the engine's ONE ``_jdf.queryExecution`` dependency
(:func:`plan_stats`). They cost no job but are estimates: file sources
report COMPRESSED bytes, 10-20x below the in-memory size. Gates that run
after the engine has materialized the data read exact counts instead
(the CC edge count rides the round's checkpoint job; kNN rings counts
its cached neighbor side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Below this many edges connected components run as one exact single-task
# union-find instead of the distributed star loop (~2 shuffles + 1 action
# per round, 3-6 rounds): 4M int64 pairs = 64 MB, the broadcast hard cap's
# order, and numpy converges in ~100 ms at the cap.
CC_LOCAL_EDGES = 4_000_000

# kNN rings early fallback: once |pending origins| * |neighbors| fits this
# many candidate pairs, the exact cross-join fallback finishes the
# stragglers in one bounded stage instead of further ring rounds. 64M
# pairs ~ 2M trig evals per core on a 32-way stage; a large neighbor
# table alone exceeds it, so the scale path is unaffected.
KNN_FALLBACK_PAIRS = 64 << 20

# spatial_dbscan broadcasts the core-id set (and the equally-sized label
# frame) at or below this many cores: 2M int64 ids ~ 80 MB as a broadcast
# hashed relation, the same order as the hard cap below.
DBSCAN_CORE_BROADCAST_ROWS = 2_000_000

# ceiling of every forced F.broadcast, in plan-stats (compressed) bytes
BROADCAST_HARD_CAP = 64 << 20

# stat-less leaves report spark.sql.defaultSizeInBytes (Long.MaxValue by
# default): any "size" past this is a placeholder, not a measurement
_STATS_UNKNOWN_BYTES = 1 << 48


def plan_stats(df: DataFrame) -> tuple[int | None, int | None]:
    """(rowCount, sizeInBytes) from Catalyst plan statistics, with NO job.
    rowCount is None unless the catalog has exact stats; sizeInBytes is
    None when unknown or a placeholder. For file sources it is the
    compressed file size.

    This is the engine's ONE private-API dependency: ``df._jdf`` and the
    py4j ``queryExecution().optimizedPlan().stats()`` chain, exercised
    against pyspark 4.1.x (classic, non-Connect). Under Spark Connect
    ``_jdf`` does not exist and a JVM-side rename raises; both return
    (None, None), which every caller treats as "stats unknown" and answers
    with a safe default plan, never an error."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        rows = int(str(rc.get())) if rc.isDefined() else None
        size = int(str(stats.sizeInBytes()))
    except Exception:  # pragma: no cover - py4j surface differences
        return None, None
    return rows, (size if 0 < size < _STATS_UNKNOWN_BYTES else None)


def estimated_rows(df: DataFrame, assumed_row_bytes: int = 48) -> int | None:
    """Plan-statistics row estimate: log-scale accuracy only (resolution
    choices, never correctness). None when the stats are unknown."""
    rows, size = plan_stats(df)
    if rows is not None:
        return rows
    return None if size is None else max(size // assumed_row_bytes, 1)


def broadcast_budget(df: DataFrame) -> int:
    """Bytes of plan-stats size a forced F.broadcast may take: the
    session's spark.sql.autoBroadcastJoinThreshold x6 (the conf is
    in-memory-ish, file stats are compressed), capped at
    BROADCAST_HARD_CAP because compressed parquet can expand 10-20x in
    memory. A DISABLED conf (-1/0: the operator forbade broadcasts)
    returns 0, so no size passes; an unparsable conf falls back to the
    cap."""
    try:
        raw = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
        s = str(raw).strip().lower()
        mult = 1
        for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                       ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                       ("b", 1)):
            if s.endswith(suf):
                s, mult = s[: -len(suf)], m
                break
        v = int(float(s)) * mult
        return min(v * 6, BROADCAST_HARD_CAP) if v > 0 else 0
    except Exception:  # pragma: no cover - conf surface differences
        return BROADCAST_HARD_CAP


def neighbor_broadcast_fit(
    neighbors: DataFrame,
    rows_threshold: int,
    bytes_threshold: int,
) -> tuple[bool | None, int | None, int | None]:
    """The ONE stats/threshold decision both knn_join gates share:
    (fits, rows, size) where fits is True (broadcast-small), False
    (demonstrably big), or None (stats unknown). Callers resolve
    ``bytes_threshold`` themselves: the two gates treat a
    broadcasts-disabled session (broadcast_budget 0) differently by
    design. The auto router respects it and falls to rings (0 here makes
    every known size 'not fit'); the per-row-k gate substitutes
    BROADCAST_HARD_CAP (the conf forbids CATALYST's implicit broadcasts,
    not the explicit F.broadcast hint brute uses; a 0 gate would wrongly
    raise on a 2 KB table)."""
    rows, size = plan_stats(neighbors)
    if rows is None and size is None:
        return None, None, None
    fits = rows <= rows_threshold if rows is not None else size <= bytes_threshold
    return fits, rows, size
