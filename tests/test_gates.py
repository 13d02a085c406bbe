"""Every size gate in geoengine.gates forced both ways: each branch must
return the same rows and the same schema. Broadcast gates also run under
a session that disabled broadcasts (autoBroadcastJoinThreshold=-1),
where the executed plan must hold no broadcast; the plan-stats seam
must degrade to "unknown" instead of raising."""

import random
from dataclasses import dataclass, field

import pytest

from geoengine import gates, storage

BROADCAST_CONF = "spark.sql.autoBroadcastJoinThreshold"


@dataclass
class Branch:
    name: str
    patch: dict = field(default_factory=dict)  # gates constant -> value
    conf: str | None = None  # autoBroadcastJoinThreshold for this run
    broadcast: bool | None = None  # plan must (not) hold a BroadcastExchange


def _cc_graph(seed, id_type):
    # deep chain + star hub + random noise edges: deep, wide and
    # disconnected components
    def build(spark, tmp):
        from geoengine.clusters import connected_components

        rng = random.Random(seed)
        edges = [(i, i + 1) for i in range(40)]
        edges += [(100, 100 + j) for j in range(1, 20)]
        edges += [(rng.randrange(300), rng.randrange(300)) for _ in range(120)]
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, f"doc1 {id_type}, doc2 {id_type}")
        return connected_components(pairs)

    return build


def _knn_points(spark, seed, n):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    return spark.createDataFrame(pd.DataFrame({
        "id": [f"p{seed}_{i:05d}" for i in range(n)],
        "latitude": rng.uniform(-75, 75, n),
        "longitude": rng.uniform(-179.9, 179.9, n),
    }))


def _knn_rings(spark, tmp):
    from geoengine.knn import knn_join_rings

    return knn_join_rings(_knn_points(spark, 21, 150),
                          _knn_points(spark, 22, 800), 4)


def _knn_equals_brute(spark, rows, schema):
    from geoengine.knn import knn_join_brute

    brute = knn_join_brute(_knn_points(spark, 21, 150),
                           _knn_points(spark, 22, 800), 4)

    def keys(rs):
        return {(r["origin_id"], r["neighbor_id"], r["knn_rank"]) for r in rs}

    assert keys(rows) == keys(brute.collect())


def _dbscan(spark, tmp):
    from geoengine.clusters import spatial_dbscan

    # one dense blob (its core count is probed by contract='auto') plus
    # scattered noise
    rng = random.Random(5)
    pts = [(i, 10.0 + rng.uniform(-0.7, 0.7), 10.0 + rng.uniform(-0.7, 0.7))
           for i in range(60)]
    pts += [(60 + i, rng.uniform(-80, 80), rng.uniform(-170, 170))
            for i in range(20)]
    df = spark.createDataFrame(pts, "id long, latitude double, longitude double")
    return spatial_dbscan(df, 60.0, 5)


def _pip(spark, tmp):
    from geoengine.pip import points_in_polygons

    # file-backed fences, as in production: the gate reads their plan-stats
    # size (an in-memory frame reports none, and the gate never fires)
    path = str(tmp / "fences.parquet")
    rects = {"A": (40.0, 0.0), "B": (-20.0, 100.0), "C": (0.0, -60.0)}
    spark.createDataFrame(
        [(pid, [{"lat": la + a, "lon": lo + b}
                for a, b in ((0, 0), (0, 10), (10, 10), (10, 0))])
         for pid, (la, lo) in rects.items()],
        "poly_id string, ring array<struct<lat:double, lon:double>>",
    ).write.mode("overwrite").parquet(path)
    polys = spark.read.parquet(path)
    rng = random.Random(9)
    pts = spark.createDataFrame(
        [(i, rng.uniform(-30, 60), rng.uniform(-70, 120)) for i in range(400)],
        "id long, latitude double, longitude double",
    )
    return points_in_polygons(pts, polys)


def _emerging(spark, tmp):
    from geoengine.index import emerging_hotspots

    # two time slices over one ~40-degree patch, the second denser in its
    # north-east: many occupied cells with defined gi_z in both slices.
    # Two slices keep each cell's mean_gi a sum of two terms, which no
    # plan can reorder.
    rng = random.Random(13)
    rows = [(rng.uniform(-20, 20), rng.uniform(-20, 20), 0)
            for _ in range(150)]
    rows += [(rng.uniform(-20, 20), rng.uniform(-20, 20), 1)
             for _ in range(100)]
    rows += [(rng.uniform(5, 20), rng.uniform(5, 20), 1) for _ in range(80)]
    df = spark.createDataFrame(rows,
                               "latitude double, longitude double, bin long")
    return emerging_hotspots(df, 5)


def _cc_types(id_type):
    def check(spark, rows, schema):
        want = "long" if id_type == "long" else "integer"
        assert [f.dataType.typeName() for f in schema] == [want] * 2

    return check


CC_BRANCHES = [Branch("local"), Branch("star_loop", {"CC_LOCAL_EDGES": 0})]


def _broadcast_branches(off_patch):
    return [
        Branch("on", broadcast=True),
        Branch("off", off_patch),
        Branch("disabled_conf", conf="-1", broadcast=False),
    ]


# name -> (build, branches, extra check on the first branch's rows/schema)
CASES = {
    "cc_local-11": (_cc_graph(11, "long"), CC_BRANCHES, _cc_types("long")),
    "cc_local-41": (_cc_graph(41, "long"), CC_BRANCHES, _cc_types("long")),
    "cc_local-11-int": (_cc_graph(11, "int"), CC_BRANCHES, _cc_types("int")),
    "knn_rings_fallback": (_knn_rings, [
        Branch("budget_0", {"KNN_FALLBACK_PAIRS": 0}),  # full ring rounds
        Branch("budget_2^60", {"KNN_FALLBACK_PAIRS": 1 << 60}),  # fire early
    ], _knn_equals_brute),
    "dbscan_core_broadcast": (
        _dbscan, _broadcast_branches({"DBSCAN_CORE_BROADCAST_ROWS": 0}), None),
    "pip_geometry_broadcast": (
        _pip, _broadcast_branches({"BROADCAST_HARD_CAP": 0}), None),
    # the per-bin Gi* stats frame: a forced broadcast only while the
    # session allows broadcasts
    "emerging_hotspots": (_emerging, [
        Branch("on", broadcast=True),
        Branch("disabled_conf", conf="-1", broadcast=False),
    ], None),
}


def _run(spark, build, branch, monkeypatch, tmp):
    with monkeypatch.context() as mp:
        for name, value in branch.patch.items():
            mp.setattr(gates, name, value)
        old = spark.conf.get(BROADCAST_CONF)
        if branch.conf is not None:
            spark.conf.set(BROADCAST_CONF, branch.conf)
        try:
            with storage.scope():  # no block outlives its branch
                out = build(spark, tmp)
                rows = out.collect()
                plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(BROADCAST_CONF, old)
    return out.schema, rows, plan


@pytest.mark.parametrize("case", list(CASES))
def test_gate_branches_agree(spark, case, monkeypatch, tmp_path):
    build, branches, check = CASES[case]
    results = {}
    for branch in branches:
        schema, rows, plan = _run(spark, build, branch, monkeypatch, tmp_path)
        if branch.broadcast is not None:
            assert ("BroadcastExchange" in plan) == branch.broadcast, branch.name
        results[branch.name] = (schema, sorted(map(tuple, rows), key=repr))
    first = branches[0].name
    for name, got in results.items():
        assert got[0] == results[first][0], f"schema: {name} vs {first}"
        assert got[1] == results[first][1], f"rows: {name} vs {first}"
    assert results[first][1]  # the case exercises real rows
    if check is not None:
        check(spark, [dict(zip(results[first][0].names, r))
                      for r in results[first][1]], results[first][0])


def test_plan_stats_fallback(spark):
    """The one private-API seam (df._jdf py4j chain): when the surface is
    absent or renamed (Spark Connect, future JVM refactor) the stats
    helpers must degrade to 'unknown', not raise."""
    df = spark.range(10)

    class _NoQE:  # simulates a _jdf whose JVM surface changed shape
        def __getattr__(self, name):
            raise AttributeError(name)

    df._jdf = _NoQE()
    assert gates.plan_stats(df) == (None, None)
    assert gates.estimated_rows(df) is None
