"""The benchmark's workloads: what one pass runs, the traced legs that
split a pass by layer, the layer counts, and the Spark-side fingerprints
checked against the DuckDB oracle (``inputs.py``).

Every call into the engine goes through its public functions, and every
result is forced in full with Spark's ``noop`` sink, so nothing is
collected to the Spark driver and nothing is persisted by the benchmark.

Inputs and the DuckDB fingerprints come from ``inputs.prepare``. A
workload provides ``load`` (the input DataFrames),
``legs`` (leg name -> a function building that layer call's DataFrame),
``checks`` (leg -> the oracle key and the aggregates that reproduce it,
attached to the leg's output with ``DataFrame.observe``, so the checked
pass is forced exactly like any other) and ``counts`` (the traced run's
per-layer counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import inputs as I

P = I.P


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _total(arr):
    return F.aggregate(arr, F.lit(0).cast("long"), lambda a, v: a + v)


def _read(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


class Workload:
    """A pass runs ``pass_legs``. A traced pass runs ``traced_legs``, which
    add the calls that a layer builds on, so each ``self_of`` metric is
    the difference between a leg and the leg it builds on. ``stage_layer``
    names the layer whose per-call Spark stage metrics a leg reports and
    ``jobs_of`` the metric that counts a leg's Spark jobs."""

    name = ""
    pass_legs: tuple[str, ...] = ()
    traced_legs: tuple[str, ...] = ()
    self_of: dict[str, tuple[str, str | None]] = {}
    stage_layer: dict[str, str] = {}
    jobs_of: dict[str, str] = {}

    def __init__(self, run_dir: str, seed: int, scale: float):
        self.d, self.seed = run_dir, seed
        self.sizes = I.sizes(self.name, scale)


class Spatial(Workload):
    """The join layer used two ways: the radius search and kNN read it;
    DBSCAN persists its eps self-join and iterates over it."""

    name = "spatial"
    pass_legs = ("search", "knn", "dbscan")
    traced_legs = ("join", "topk", "search_nospace", "search", "knn",
                   "eps_join", "dbscan")
    self_of = {
        "join.self_s": ("join", None),
        "topk.self_s": ("topk", "join"),
        "results.self_s": ("search", "topk"),
        "results.udf_s": ("search", "search_nospace"),
        "knn.self_s": ("knn", None),
        "join.eps_self_s": ("eps_join", None),
        "clusters.self_s": ("dbscan", "eps_join"),
    }
    stage_layer = {"join": "join", "topk": "topk", "search": "results",
                   "knn": "knn", "dbscan": "clusters"}
    jobs_of = {"knn": "knn.jobs", "dbscan": "clusters.jobs"}

    def load(self, spark):
        return {k: _read(spark, f"{self.d}/{k}.parquet")
                for k in ("orders", "customers", "suppliers", "points")}

    def legs(self, t):
        from geoengine import engine, knn
        from geoengine.clusters import spatial_dbscan
        from geoengine.join import radius_join_pairs
        from geoengine.sources import coerce_points
        from geoengine.topk import top_n_per_origin

        o, c, s, p = t["orders"], t["customers"], t["suppliers"], t["points"]
        r, n, eps = I.SEARCH_RADIUS_KM, I.SEARCH_TOP_N, I.DBSCAN_EPS_KM

        def pairs():
            return radius_join_pairs(coerce_points(o), coerce_points(c), r)

        return {
            "join": pairs,
            "topk": lambda: top_n_per_origin(pairs(), n),
            "search_nospace": lambda: engine.search(
                o, c, r, "km", n, include_search_space=False),
            "search": lambda: engine.search(o, c, r, "km", n),
            "knn": lambda: knn.knn_join(c, s, I.KNN_K, strategy="rings"),
            "eps_join": lambda: radius_join_pairs(p, p, eps),
            "dbscan": lambda: spatial_dbscan(p, eps, I.DBSCAN_MIN_PTS),
        }

    def checks(self):
        o = F.col("origin.id").cast("long")
        ids = F.transform(
            "neighbors",
            lambda x, i: (o * 1000003 + x.value.id.cast("long") * (i + 1)) % P)
        dists = F.transform(
            "neighbors",
            lambda x: F.round(x.euclideanDistance * 1000).cast("long"))
        cid = F.col("cluster_id").cast("long")
        return {
            # the oracle does not re-derive the searchSpace prefix; it is
            # only checked to be rendered for every row (empty = match-all)
            "search": ("search", [
                F.count("*"), F.sum(F.size("neighbors")),
                F.sum(_total(ids)), F.sum(_total(dists)),
                F.count("searchSpace")]),
            "knn": ("knn", [
                F.count("*"),
                F.sum((F.col("origin_id").cast("long") * 1000003
                       + F.col("neighbor_id").cast("long")
                       * F.col("knn_rank")) % P),
                F.sum(F.round(F.col("distance_km") * 1000).cast("long"))]),
            # a cluster is labelled with its smallest core id
            "dbscan": ("dbscan", [
                F.count("*"), F.count(F.when(F.col("is_core"), 1)),
                F.count("cluster_id"),
                F.count(F.when(F.col("is_core")
                               & (F.col("id").cast("long") == cid), 1)),
                F.sum((F.col("id").cast("long") * 7919 + cid) % P)]),
        }

    def counts(self, t, selfs):
        from geoengine.clusters import contraction_half_bits
        from geoengine.join import (explode_covering_cells, pick_half_bits,
                                    radius_join_pairs, validate_points,
                                    with_grid_cell)

        o, c, p = t["orders"], t["customers"], t["points"]
        r = I.SEARCH_RADIUS_KM
        hb = pick_half_bits(r)
        probe = explode_covering_cells(validate_points(o), r, hb)
        build = with_grid_cell(validate_points(c), hb)
        cells = probe.count()
        cand = probe.join(build.select("gkey"), "gkey").count()
        pairs = radius_join_pairs(o, c, r).count()
        dense = with_grid_cell(p, contraction_half_bits(I.DBSCAN_EPS_KM)) \
            .groupBy("gkey").count() \
            .agg(F.sum(F.when(F.col("count") >= I.DBSCAN_MIN_PTS,
                              F.col("count")))).first()[0] or 0
        return {
            "join.fanout": cells / self.sizes["orders"],
            "join.candidates": cand, "join.pairs": pairs,
            "join.precision": pairs / cand if cand else 0.0,
            "clusters.eps_pairs": radius_join_pairs(
                p, p, I.DBSCAN_EPS_KM).count(),
            "clusters.dense_share": dense / self.sizes["points"],
        }


class Payload(Workload):
    """Arrow batches crossing into pandas kernels: tiles, fences, phash,
    simhash near-duplicates."""

    name = "payload"
    pass_legs = ("tiles", "pip", "images", "text")
    traced_legs = pass_legs
    self_of = {"exprs.tile_s": ("tiles", None), "pip.self_s": ("pip", None),
               "images.self_s": ("images", None),
               "text.self_s": ("text", None)}
    stage_layer = {"tiles": "exprs", "pip": "pip", "images": "images",
                   "text": "text"}

    def load(self, spark):
        return {k: _read(spark, f"{self.d}/{k}.parquet")
                for k in ("images", "documents", "fences")}

    @staticmethod
    def _tiles(imgs: DataFrame) -> DataFrame:
        from geoengine import exprs

        return imgs.select(
            exprs.tile_x(F.col("longitude"), I.TILE_ZOOM).alias("tx"),
            exprs.tile_y(F.col("latitude"), I.TILE_ZOOM).alias("ty"),
        ).groupBy("tx", "ty").count()

    @staticmethod
    def _points(t: dict) -> DataFrame:
        return t["images"].select(F.col("image_id").alias("id"), "latitude",
                                  "longitude")

    @classmethod
    def _pip(cls, t: dict) -> DataFrame:
        from geoengine.pip import points_in_polygons

        return points_in_polygons(cls._points(t), t["fences"],
                                  half_bits=I.PIP_HALF_BITS)

    @staticmethod
    def _near_dups(t: dict) -> DataFrame:
        from geoengine.text import lsh_verified_jaccard_pairs

        return lsh_verified_jaccard_pairs(
            t["documents"], threshold=I.TEXT_THRESHOLD, prefilter="simhash")

    def legs(self, t):
        from geoengine.images import with_computed_phash

        return {
            "tiles": lambda: self._tiles(t["images"]),
            "pip": lambda: self._pip(t),
            "images": lambda: with_computed_phash(t["images"]),
            "text": lambda: self._near_dups(t),
        }

    def checks(self):
        return {
            "tiles": ("tiles", [
                F.count("*"), F.sum("count"),
                F.sum(((F.col("tx") * 4096 + F.col("ty")) * F.col("count"))
                      % P)]),
            "pip": ("pip", [
                F.count("*"),
                F.sum((F.substring("point_id", 4, 32).cast("long") * 31
                       + F.substring("poly_id", 2, 32).cast("long")) % P)]),
            # against the oracle's own re-derivation from the payload, not
            # the stored column (the fixture computes that with the kernel
            # under test)
            "images": ("phash", [
                F.count("*"), F.sum(F.col("phash_computed") % P)]),
            "text": ("text", [
                F.count("*"),
                F.sum((F.col("doc1") * 100003 + F.col("doc2")) % P)]),
        }

    def counts(self, t, selfs):
        from geoengine.join import with_grid_cell
        from geoengine.pip import polygon_covering_cells

        hb = I.PIP_HALF_BITS
        cov = polygon_covering_cells(
            t["fences"].withColumn("rings", F.array("ring")), hb)
        cand = with_grid_cell(self._points(t), hb) \
            .join(cov.select("gkey"), "gkey").count()
        hits = self._pip(t).count()
        img_s = selfs["images.self_s"]
        return {"pip.candidates": cand, "pip.hits": hits,
                "pip.precision": hits / cand if cand else 0.0,
                "images.rows_per_s": (self.sizes["images"] / img_s
                                      if img_s > 0 else 0.0),
                "text.pairs": self._near_dups(t).count()}


WORKLOADS = {w.name: w for w in (Spatial, Payload)}
