"""Seeded input generation and the DuckDB oracle for each workload.

Inputs are written as parquet into the run's private directory; the
engine only ever reads those files. Every oracle is an independent DuckDB
(plus numpy for the DBSCAN closure and the image hash) computation over
the same files and returns the fingerprint the Spark side must reproduce:
row counts plus order-independent integer sums.

The benchmark runs this module in a child process, before the Spark
session starts, so that neither the generators nor DuckDB add to the
measured process tree:

    python3 -m perfbench.inputs <workload> <dir> <seed> <scale> <parts> [--no-oracle]

writes the inputs into ``<dir>`` and ``<dir>/prepared.json`` (the oracle
fingerprints and the generation and oracle times).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# integer fingerprints are sums of terms reduced modulo this prime, so
# they are exact and independent of row order on both engines
P = 2147483647

SEARCH_RADIUS_KM, SEARCH_TOP_N, KNN_K = 100.0, 10, 5
TILE_ZOOM, PIP_HALF_BITS = 12, 8
FENCES, FENCE_SCALE = 20, 4.0
TEXT_THRESHOLD = 0.97
DBSCAN_EPS_KM, DBSCAN_MIN_PTS = 80.0, 8

# input sizes at --scale 1; the smoke test's --scale 0.04 gives the sf0.001
# order count (1,500)
SIZES = {
    "spatial": {"orders": 37_500, "customers": 3_750, "suppliers": 250,
                "points": 2_000},
    "payload": {"images": 8_000, "documents": 255},
}


def sizes(workload: str, scale: float) -> dict:
    return {k: max(int(n * scale), 10) for k, n in SIZES[workload].items()}

# 60 words, so a document's word set fits one positive BIGINT bitmask
VOCAB = [
    "agg", "array", "batch", "big", "block", "bloom", "broadcast", "bucket",
    "cache", "cell", "column", "customer", "data", "delta", "dense", "disk",
    "driver", "edge", "engine", "fast", "fence", "filter", "frame", "graph",
    "grid", "group", "hash", "index", "join", "key", "lake", "line", "map",
    "merge", "node", "order", "pair", "part", "plan", "point", "query",
    "radius", "range", "ring", "row", "scan", "shard", "slow", "small",
    "sort", "spark", "spill", "stage", "stream", "table", "task", "tile",
    "value", "vector", "window",
]


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _lattice_points(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Uniform in degrees on a 0.01-degree lattice — the placement the
    engine's key-derived point tables use, but drawn from the seed."""
    return pd.DataFrame({
        "id": np.arange(1, n + 1, dtype=np.int64),
        "latitude": rng.integers(0, 18000, n) / 100.0 - 90.0,
        "longitude": rng.integers(0, 36000, n) / 100.0 - 180.0,
    })


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _con(run_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'duckdb')}'")
    return con


def _dist(a: str, b: str) -> str:
    """Law-of-cosines km between aliases ``a`` and ``b``: the same IEEE
    operation order as the engine's codegen'd distance."""
    from geoengine import exprs

    return exprs.sql_dist_km(f"{a}.latitude", f"{a}.longitude",
                             f"{b}.latitude", f"{b}.longitude")


# --------------------------------------------------------------------------
# spatial: orders x customers radius search, customers x suppliers kNN,
# DBSCAN over blob points
# --------------------------------------------------------------------------

def write_search(d: str, seed: int, n: dict) -> None:
    for i, name in enumerate(("orders", "customers", "suppliers")):
        _write(_lattice_points(_rng(seed, i), n[name]), f"{d}/{name}.parquet")


def oracle_search(d: str) -> dict:
    """The search API takes ids as strings (``sources.coerce_points``), so
    neighbours at equal distance rank by the id's text."""
    con = _con(d)
    band = SEARCH_RADIUS_KM / 100.0  # degrees of latitude, > radius / 111.2
    top = con.execute(f"""
        WITH o AS (SELECT * FROM '{d}/orders.parquet'),
             c AS (SELECT * FROM '{d}/customers.parquet'),
             pr AS (
                SELECT o.id AS oid, c.id AS nid, {_dist('o', 'c')} AS dk
                FROM o JOIN c ON c.latitude BETWEEN o.latitude - {band}
                                                AND o.latitude + {band}),
             rk AS (
                SELECT oid, nid, dk, row_number() OVER (
                    PARTITION BY oid ORDER BY dk, CAST(nid AS VARCHAR)) AS r
                FROM pr WHERE dk <= {SEARCH_RADIUS_KM})
        SELECT count(DISTINCT oid), count(*),
               sum((oid * 1000003 + nid * r) % {P}),
               sum(CAST(round(dk * 1000) AS BIGINT))
        FROM rk WHERE r <= {SEARCH_TOP_N}
    """).fetchone()
    knn = con.execute(f"""
        WITH c AS (SELECT * FROM '{d}/customers.parquet'),
             s AS (SELECT * FROM '{d}/suppliers.parquet'),
             rk AS (
                SELECT c.id AS oid, s.id AS nid, {_dist('c', 's')} AS dk,
                       row_number() OVER (
                           PARTITION BY c.id ORDER BY {_dist('c', 's')}, s.id
                       ) AS r
                FROM c CROSS JOIN s)
        SELECT count(*), sum((oid * 1000003 + nid * r) % {P}),
               sum(CAST(round(dk * 1000) AS BIGINT))
        FROM rk WHERE r <= {KNN_K}
    """).fetchone()
    con.close()
    # the search check's last term counts rows with a rendered searchSpace
    return {"search": [int(x) for x in top] + [int(top[0])],
            "knn": [int(x) for x in knn]}


def write_dbscan(d: str, seed: int, n: int) -> None:
    """The ``_dbscan_points`` shape of ``__spark_entry__.py``, drawn from
    the seed: 24 blobs, centres >= 10 deg lat / 15 deg lon apart, holding
    80% of the points; 20% uniform background. The blobs are 0.75-degree
    boxes (3 in ``_dbscan_points``) so that most contraction cells of
    ``eps`` in a blob hold ``min_pts`` points."""
    rng = _rng(seed, 20)
    u0, ua, ub = rng.random(n), rng.random(n), rng.random(n)
    ci = np.floor(u0 * 30.0).astype(np.int64)
    blob = u0 < 0.8
    lat = np.where(blob, (ci * 7) % 12 * 10.0 - 55.0 + (ua - 0.5) * 0.75,
                   (ua - 0.5) * 132.0)
    lon = np.where(blob, (ci * 13) % 24 * 15.0 - 172.5 + (ub - 0.5) * 0.75,
                   (ub - 0.5) * 356.0)
    _write(pd.DataFrame({"id": np.arange(1, n + 1, dtype=np.int64),
                         "latitude": lat, "longitude": lon}),
           f"{d}/points.parquet")


def oracle_dbscan(d: str) -> dict:
    """Brute eps-neighbourhoods in DuckDB, core-core closure by min-label
    propagation in numpy, border -> min reachable cluster."""
    con = _con(d)
    eps, band = DBSCAN_EPS_KM, DBSCAN_EPS_KM / 100.0
    con.execute(f"""
        CREATE TEMP TABLE prs AS
        WITH p AS (SELECT * FROM '{d}/points.parquet')
        SELECT a.id AS u, b.id AS v FROM p a JOIN p b
          ON b.latitude BETWEEN a.latitude - {band} AND a.latitude + {band}
        WHERE {_dist('a', 'b')} <= {eps}
    """)
    ids = con.execute(f"SELECT id FROM '{d}/points.parquet' ORDER BY id") \
        .fetchnumpy()["id"]
    core = con.execute(f"""
        SELECT u FROM prs GROUP BY u HAVING count(*) >= {DBSCAN_MIN_PTS}
        ORDER BY u""").fetchnumpy()["u"]
    ce = con.execute(f"""
        SELECT u, v FROM prs WHERE u <> v
          AND u IN (SELECT u FROM prs GROUP BY u
                    HAVING count(*) >= {DBSCAN_MIN_PTS})
          AND v IN (SELECT u FROM prs GROUP BY u
                    HAVING count(*) >= {DBSCAN_MIN_PTS})""").fetchnumpy()
    u = np.searchsorted(core, ce["u"])
    v = np.searchsorted(core, ce["v"])
    label = core.copy()
    while True:
        new = label.copy()
        np.minimum.at(new, u, label[v])
        new = new[np.searchsorted(core, new)]  # pointer jump
        if np.array_equal(new, label):
            break
        label = new
    lab = pd.DataFrame({"id": core, "cluster_id": label})
    con.register("corelab", lab)
    border = con.execute("""
        SELECT prs.u AS id, min(c.cluster_id) AS cluster_id
        FROM prs JOIN corelab c ON prs.v = c.id
        WHERE prs.u NOT IN (SELECT id FROM corelab)
        GROUP BY prs.u""").fetchdf()
    con.close()
    every = pd.concat([lab, border])
    fp = ((every["id"].to_numpy() * 7919 + every["cluster_id"].to_numpy())
          % P).sum()
    return {"dbscan": [int(len(ids)), int(len(core)), int(len(every)),
                       int(lab["cluster_id"].nunique()), int(fp)]}


# --------------------------------------------------------------------------
# payload: images (tiles, fences, phash) + documents (simhash near-dup)
# --------------------------------------------------------------------------

def fence_rings(seed: int) -> list[tuple[str, list]]:
    from geoengine.fixtures import polygon_rings

    return polygon_rings(FENCES, seed, FENCE_SCALE)


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """Random word bags; every fifth document re-orders an earlier one and
    repeats one of its words, so its word set is identical (Jaccard 1)."""
    texts: list[str] = []
    for i in range(n):
        if i >= 5 and i % 5 == 0:
            words = texts[int(rng.integers(0, i))].split(" ")
            rng.shuffle(words)
            words.append(words[0])
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(8, 40))))
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64),
                         "text": texts})


def write_payload(d: str, seed: int, n: dict, parts: int) -> None:
    """The images are ``fixtures.images_pandas``, the driver-side twin of
    ``fixtures.images_table`` (same rows), written as ``parts`` files so
    that Spark reads them as ``parts`` tasks."""
    from geoengine.fixtures import images_pandas

    imgs = images_pandas(n["images"], seed=seed).astype({"w": "int32",
                                                          "h": "int32"})
    os.makedirs(f"{d}/images.parquet")
    for i, part in enumerate(np.array_split(np.arange(len(imgs)), parts)):
        _write(imgs.iloc[part], f"{d}/images.parquet/part-{i:05d}.parquet")
    _write(_documents(_rng(seed, 10), n["documents"]),
           f"{d}/documents.parquet")
    rows = [{"poly_id": pid, "ring": [{"lat": a, "lon": b} for a, b in ring]}
            for pid, ring in fence_rings(seed)]
    _write(pd.DataFrame(rows), f"{d}/fences.parquet")


def oracle_payload(d: str, seed: int) -> dict:
    from geoengine import exprs

    con = _con(d)
    img = f"'{d}/images.parquet/*.parquet'"
    tx = exprs.sql_tile_x("longitude", TILE_ZOOM)
    ty = exprs.sql_tile_y("latitude", TILE_ZOOM)
    tiles = con.execute(f"""
        WITH t AS (SELECT {tx} AS tx, {ty} AS ty, count(*) AS n
                   FROM {img} GROUP BY ALL)
        SELECT count(*), sum(n), sum(((tx * 4096 + ty) * n) % {P}) FROM t
    """).fetchone()
    edges = []
    for pid, ring in fence_rings(seed):
        k = len(ring)
        for j in range(k):
            (yj, xj), (yk, xk) = ring[j], ring[(j - 1) % k]
            edges.append(f"('{pid}', {yj!r}, {xj!r}, {yk!r}, {xk!r})")
    # even-odd crossing rule, vertices inlined (the __spark_entry__ shape)
    pip = con.execute(f"""
        WITH e(pid, yj, xj, yk, xk) AS (VALUES {', '.join(edges)}),
             hits AS (
                SELECT p.image_id, e.pid FROM {img} p JOIN e
                  ON ((e.yj > p.latitude) != (e.yk > p.latitude))
                 AND p.longitude < (e.xk - e.xj) * (p.latitude - e.yj)
                                   / (e.yk - e.yj + 1e-300) + e.xj
                GROUP BY ALL HAVING count(*) % 2 = 1)
        SELECT count(*), sum((CAST(substr(image_id, 4) AS BIGINT) * 31
                              + CAST(substr(pid, 2) AS BIGINT)) % {P})
        FROM hits
    """).fetchone()
    phash = oracle_phash(con.execute(
        f"SELECT bytes, w, h, fmt FROM {img}").fetchdf())
    vocab = ", ".join(f"('{w}', {i})" for i, w in enumerate(VOCAB))
    text = con.execute(f"""
        WITH v(w, b) AS (VALUES {vocab}),
             dw AS (SELECT DISTINCT doc_id,
                           unnest(string_split(text, ' ')) AS w
                    FROM '{d}/documents.parquet'),
             m AS (SELECT doc_id, bit_or(CAST(1 AS BIGINT) << b) AS m
                   FROM dw JOIN v USING (w) GROUP BY doc_id),
             pr AS (SELECT l.doc_id AS d1, r.doc_id AS d2,
                           CAST(bit_count(l.m & r.m) AS DOUBLE)
                           / CAST(bit_count(l.m | r.m) AS DOUBLE) AS j
                    FROM m l JOIN m r ON l.doc_id < r.doc_id)
        SELECT count(*), coalesce(sum((d1 * 100003 + d2) % {P}), 0)
        FROM pr WHERE j >= {TEXT_THRESHOLD}
    """).fetchone()
    con.close()
    return {"tiles": [int(x) for x in tiles], "pip": [int(x) for x in pip],
            "phash": phash, "text": [int(x) for x in text]}


# the 8x8 lowest-frequency rows of the orthonormal DCT-II over 32 samples:
# C[u, x] = s(u) * cos(pi * (2x + 1) * u / 64), s(0) = sqrt(1/32), else
# sqrt(2/32)
_U, _X = np.arange(8)[:, None], np.arange(32)[None, :]
_C8 = np.cos(np.pi * (2 * _X + 1) * _U / 64.0) \
    * np.where(_U == 0, np.sqrt(1 / 32), np.sqrt(2 / 32))


def _pixels(buf: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    """raw: 8-bit RGB. q6: each byte holds a 6-bit code ``c`` in its top
    bits and the low bits 01; the pixel is ``4c + 1``."""
    b = np.frombuffer(buf, dtype=np.uint8).astype(np.int64)
    if fmt == "q6":
        if np.any(b % 4 != 1):
            raise ValueError("malformed q6 payload")
        b = (b // 4) * 4 + 1
    elif fmt != "raw":
        raise ValueError(f"unexpected image format {fmt!r}")
    return b.reshape(h, w, 3)


def image_hash(buf: bytes, w: int, h: int, fmt: str) -> int:
    """The engine's 64-bit perceptual hash, re-derived: grey = channel
    mean; 32 x 32 nearest samples at rows ``floor(i h / 32)`` and columns
    ``floor(j w / 32)``; the 64 lowest DCT-II coefficients in row-major
    order, most significant bit first, each bit set when the coefficient
    exceeds the median of the 63 that exclude (0, 0); read as int64."""
    grey = _pixels(buf, w, h, fmt).sum(axis=2) / 3.0
    rows = [i * h // 32 for i in range(32)]
    cols = [j * w // 32 for j in range(32)]
    g = grey[np.ix_(rows, cols)]
    coef = np.einsum("ux,xy,vy->uv", _C8, g, _C8).ravel()
    med = float(np.median(coef[1:]))
    word = 0
    for c in coef:
        word = (word << 1) | int(c > med)
    return word - (1 << 64) if word >= 1 << 63 else word


def oracle_phash(imgs: pd.DataFrame) -> list[int]:
    """Row count and the sum of each hash reduced modulo P with the sign of
    the hash (Spark's and DuckDB's ``%``)."""
    total = 0
    for buf, w, h, fmt in zip(imgs["bytes"], imgs["w"], imgs["h"],
                              imgs["fmt"]):
        x = image_hash(bytes(buf), int(w), int(h), fmt)
        total += abs(x) % P * (1 if x >= 0 else -1)
    return [len(imgs), total]


# --------------------------------------------------------------------------
# the child-process entry point
# --------------------------------------------------------------------------

def _write_spatial(d: str, seed: int, n: dict, parts: int) -> None:
    write_search(d, seed, n)
    write_dbscan(d, seed, n["points"])


def _oracle_spatial(d: str, seed: int) -> dict:
    return {**oracle_search(d), **oracle_dbscan(d)}


PREPARE = {"spatial": (_write_spatial, _oracle_spatial),
           "payload": (write_payload, oracle_payload)}


def prepare(workload: str, d: str, seed: int, scale: float, parts: int,
            oracle: bool = True) -> dict:
    write, check = PREPARE[workload]
    t = time.perf_counter()
    write(d, seed, sizes(workload, scale), parts)
    out = {"generate_s": time.perf_counter() - t}
    if oracle:
        t = time.perf_counter()
        out["oracle"] = check(d, seed)
        out["oracle_s"] = time.perf_counter() - t
    return out


if __name__ == "__main__":
    wl, d, seed, scale, parts = sys.argv[1:6]
    res = prepare(wl, d, int(seed), float(scale), int(parts),
                  oracle="--no-oracle" not in sys.argv[6:])
    with open(os.path.join(d, "prepared.json"), "w") as f:
        json.dump(res, f)
