"""Near-dup cluster resolution: pairs -> connected components -> keeper.

Every near-dup surface in the engine (minhash/simhash/LSH-verified Jaccard
text pairs, embedding-cosine pairs, image-phash pairs) emits *pairs*
(doc1, doc2, score). A real training-data dedup run needs the next step:
transitive closure of the pair graph into clusters and ONE deterministic
canonical keeper per cluster — "which rows do I delete?". This module is
that step, engine extension (the reference repo has no counterpart; its
pipeline stops at per-origin neighbor lists).

Algorithm: alternating large-star / small-star min-label propagation
(Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
Components in MapReduce and Beyond", ACM SoCC 2014). Each round is two
self-contained DataFrame stages — a groupBy-min and an equi-join per star
op — so there is NO driver-side graph, no cartesian product, and the edge
set shrinks toward a star per component in O(log^2 n) rounds worst case
(2-5 rounds on real dedup graphs, whose components are shallow). Compare
plain min-label flooding, which needs diameter rounds — a 1M-long chain
would take 1M shuffles; star contraction takes ~20.

Scale posture (100 TB): every stage shuffles on a single int64 node id;
per-round lineage is truncated with localCheckpoint (swap for a reliable
``checkpoint`` dir on a real cluster — the call site is one line); the
convergence signature (count + order-independent xxhash64 bit_xor fold)
is observed by that checkpoint's own job, so rounds cost two shuffles +
one action.
Component skew (one giant dup cluster) is bounded by the star invariant:
large-star keeps every node's degree-to-larger-nodes, small-star touches
only edges to smaller nodes, and the final state is a star whose hub is
the component MIN — the hot key holds |C| rows exactly once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from . import gates
from .storage import cache, checkpoint

def _local_cc_labels(u: "np.ndarray", v: "np.ndarray"):  # noqa: F821
    """Vectorized exact connected components over dense-indexed edges:
    min-label hooking (np.minimum.at scatters the smaller endpoint label
    onto the larger's representative) alternated with full pointer
    jumping (label = label[label] until idempotent — doubles the chase
    distance per pass, so O(log n) passes). Fixpoint argument: while any
    edge's endpoints carry different labels the hook step lowers one of
    them, labels only ever decrease and stay inside the component, and
    the component minimum can never change — so the fixpoint labels every
    node with its component's minimum dense index. Dense indices come
    from np.unique (sorted), so min dense index == min node id."""
    import numpy as np

    ids, edge_idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    m = len(ids)
    ui, vi = edge_idx[: len(u)], edge_idx[len(u):]
    label = np.arange(m, dtype=np.int64)
    for _ in range(200):  # worst-case bound is O(log^2 m) rounds
        before = label.copy()
        lu, lv = label[ui], label[vi]
        mn = np.minimum(lu, lv)
        np.minimum.at(label, lu, mn)
        np.minimum.at(label, lv, mn)
        while True:  # pointer jumping to idempotency
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, before):
            return ids, label
    return None, None  # pathological; the caller raises (no fallback)


def _cc_single_task(edges: DataFrame, schema) -> DataFrame:
    """(node, cluster_id) via one single-task union-find over the whole
    (bounded) edge set — numerically exact, same labels as the star loop
    (cluster_id = component MIN node id). The mapInPandas runs on
    ``coalesce(1)`` so the edge blocks stream into one executor task (no
    driver collect). Raises RuntimeError inside the task if the vector
    loop does not converge — a hard error; there is no star-loop
    fallback."""
    import pandas as pd

    def gen(batches):
        import numpy as np

        us, vs = [], []
        for b in batches:
            us.append(b["u"].to_numpy(dtype=np.int64))
            vs.append(b["v"].to_numpy(dtype=np.int64))
        if not us:
            return
        ids, label = _local_cc_labels(np.concatenate(us), np.concatenate(vs))
        if ids is None:
            raise RuntimeError("local CC did not converge")  # pragma: no cover
        yield pd.DataFrame({"node": ids, "cluster_id": ids[label]})

    return edges.coalesce(1).mapInPandas(gen, schema=schema)


def _canon_edges(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u < v), self-loops dropped, distinct."""
    return (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u}).

    Output is NOT canonicalized/deduped — small-star reorients per row and
    aggregates with groupBy-min, so duplicates only pad its input; one
    round therefore needs just ONE distinct (after small-star) instead of
    two, saving a full shuffle per round."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mv"))
        .select("u", F.least("_mv", F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u) to the min."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
    )


def _signed_checkpoint(edges: DataFrame):
    """:func:`storage.checkpoint` of ``edges`` plus its (count, xor-fold)
    set signature, observed by the checkpoint's own job (no extra
    action). bit_xor of xxhash64(u,v) is order- and
    partitioning-independent and overflow-free (ANSI-safe, unlike an
    integer sum); inputs are distinct so xor cancellation of duplicate
    rows cannot occur."""
    obs = Observation()
    out, release = checkpoint(edges.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("sig"),
    ))
    row = obs.get
    return out, release, (row["n"], row["sig"])


def connected_components(
    pairs: DataFrame,
    id1: str = "doc1",
    id2: str = "doc2",
    max_iter: int = 30,
) -> DataFrame:
    """(node, cluster_id) for every node appearing in ``pairs``, where
    cluster_id is the MINIMUM node id of the node's connected component —
    the deterministic canonical label.

    ``pairs`` is any near-dup pair output (doc1, doc2[, score]); extra
    columns are ignored. Ids must be orderable join keys (int64 in every
    engine surface). Converges when the alternated star ops reach a
    fixpoint (edge set is then exactly one star per component, hub = min);
    a graph that somehow fails to converge within ``max_iter`` rounds
    raises loudly rather than returning partial components.

    Both branches (the bounded single-task fast path and the star loop)
    emit the same schema: node and cluster_id in the edge id type.

    The returned DataFrame reads the final round's localCheckpoint blocks
    (:func:`storage.checkpoint`). Superseded rounds' blocks are released
    eagerly; the final round's are released by the enclosing
    :func:`storage.scope` — without one, that one small edge-set block
    lives until GC + ContextCleaner collect it.
    """
    edges, release, sig = _signed_checkpoint(
        _canon_edges(pairs.select(F.col(id1).alias("u"), F.col(id2).alias("v")))
    )
    # every branch emits (node, cluster_id) in the edge id type
    schema = edges.select(
        F.col("u").alias("node"), F.col("v").alias("cluster_id")
    ).schema
    if sig[0] == 0:
        # explicit empty frame: deriving from the released checkpoint
        # would only work by CollectLimit short-circuit
        release()
        return pairs.sparkSession.createDataFrame([], schema)
    if sig[0] <= gates.CC_LOCAL_EDGES and all(
        f.dataType.typeName() in ("long", "integer", "short", "byte")
        for f in edges.schema.fields
    ):
        # bounded fast path (see gates.CC_LOCAL_EDGES): identical labels,
        # one job instead of ~(2 shuffles + 1 action) x rounds. The label
        # frame is eagerly checkpointed so both downstream consumers read
        # blocks instead of re-running the union-find.
        labels, _ = checkpoint(_cc_single_task(edges, schema))
        release()  # edge blocks superseded by the label blocks
        return labels
    for _ in range(max_iter):
        # large-star output flows RAW into small-star (one canon per round)
        edges2, release2, sig2 = _signed_checkpoint(
            _canon_edges(_small_star(_large_star(edges)))
        )
        release()  # superseded round's blocks, RDD-level release
        edges, release = edges2, release2
        converged, sig = sig2 == sig, sig2
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds (pathological graph?)"
        )
    # fixpoint edge set = one star per multi-node component, canonical
    # (u=min, v=member); hubs label themselves
    members = edges.select(
        F.col("v").alias("node"), F.col("u").alias("cluster_id")
    )
    hubs = edges.select(F.col("u").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    return members.unionByName(hubs)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id1: str = "doc1",
    id2: str = "doc2",
    keeper_order: list[Column] | None = None,
    max_iter: int = 30,
) -> DataFrame:
    """The keep/drop decision: every doc row labeled with its near-dup
    cluster and whether it is the cluster's canonical keeper.

    Output: docs' columns + ``cluster_id`` (component MIN id; a doc in no
    pair is its own singleton cluster) + ``is_keeper`` (exactly one true
    per cluster). Default keeper rule = min id — deterministic and
    join-free. ``keeper_order`` switches to best-first selection: a list
    of ordering Columns over docs' columns (e.g. ``[F.col("quality")
    .desc()]``) ranked within each cluster, id ascending as the final
    tie-break, rank 1 keeps. That is one extra window shuffle on
    cluster_id; partitions are balanced because cluster cardinality is
    near-total (dups are a small fraction of a corpus) and the largest
    cluster costs only its own rows.

    Downstream: ``.where("is_keeper")`` is the deduplicated corpus;
    ``.where(~F.col("is_keeper"))`` is the delete list.
    """
    for reserved in ("cluster_id", "is_keeper"):
        if reserved in docs.columns:
            raise ValueError(
                f"dedup_clusters adds a {reserved!r} column but docs "
                "already has one — rename or drop it first"
            )
    cc = connected_components(pairs, id1=id1, id2=id2, max_iter=max_iter)
    # underscore-aliased join columns so a docs column named 'node' (or any
    # cc-side name) can never be silently dropped or captured
    cc = cc.select(F.col("node").alias("_cc_node"),
                   F.col("cluster_id").alias("_cc_cluster"))
    out = (
        docs.join(cc, docs[id_col] == cc["_cc_node"], "left")
        .withColumn("cluster_id", F.coalesce("_cc_cluster", F.col(id_col)))
        .drop("_cc_node", "_cc_cluster")
    )
    if keeper_order is None:
        return out.withColumn("is_keeper", F.col(id_col) == F.col("cluster_id"))
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        *keeper_order, F.col(id_col).asc()
    )
    return (
        out.withColumn("_kr", F.row_number().over(w))
        .withColumn("is_keeper", F.col("_kr") == 1)
        .drop("_kr")
    )


def dedup_documents(
    docs: DataFrame,
    threshold: float = 0.8,
    prefilter: str = "minhash",
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    keeper_order: list[Column] | None = None,
    max_iter: int = 30,
    **lsh_kw,
) -> DataFrame:
    """One-call corpus dedup — the full pipeline a training run needs:
    LSH candidates -> exact word-Jaccard verify
    (text.lsh_verified_jaccard_pairs, never all-pairs) -> connected
    components -> keeper decision. Returns docs + (cluster_id, is_keeper);
    ``.where("is_keeper")`` is the deduplicated corpus. Every stage is the
    corresponding certified operator, just wired together; ``lsh_kw``
    forwards banding/block tuning (num_hashes/bands/block_bits)."""
    from .text import lsh_verified_jaccard_pairs

    pairs = lsh_verified_jaccard_pairs(
        docs, id_col=id_col, text_col=text_col, threshold=threshold,
        group_col=group_col, prefilter=prefilter, **lsh_kw,
    )
    return dedup_clusters(docs, pairs, id_col=id_col,
                          keeper_order=keeper_order, max_iter=max_iter)


# mean core degree above which grid contraction shrinks the component
# graph enough to pay for its one extra scalar probe + relabel joins:
# the contraction cell is sized so ~14 cells tile an eps-disc, so mean
# degree d -> ~d/14 cores per cell -> >=2x node/edge reduction at d>=32
CONTRACT_DEGREE_THRESHOLD = 32.0

# great-circle distance between two points inside one (dlat x dlon) grid
# cell is <= meridian leg + parallel leg <= KM_PER_DEG*(dlat + dlon)
# (the parallel-arc leg at any latitude is <= its equator length); with
# dlat = 180/n and dlon = 360/n the cell diameter is <= KM_PER_DEG*540/n
_KM_PER_DEG = 111.19492664455873  # pi/180 * 6371.0 (engine R)
_CONTRACT_NUM = _KM_PER_DEG * 540.0


def contraction_half_bits(eps_km: float) -> int | None:
    """Smallest half_bits whose worst-case cell DIAMETER (see
    ``_CONTRACT_NUM``) is <= eps_km — any two points in one cell are then
    provably within eps. None when no legal resolution exists (eps below
    ~0.9 m at MAX_HALF_BITS)."""
    import math

    from .join import MAX_HALF_BITS, MIN_HALF_BITS

    if eps_km <= 0:
        return None
    hb = math.ceil(math.log2(_CONTRACT_NUM / eps_km))
    if hb > MAX_HALF_BITS:
        return None
    return max(MIN_HALF_BITS, hb)


def spatial_dbscan(
    points: DataFrame,
    eps: float,
    min_pts: int,
    unit: str = "km",
    half_bits: int | None = None,
    strategy: str = "auto",
    contract: bool | str = "auto",
    max_iter: int = 30,
) -> DataFrame:
    """Density-based spatial clustering (DBSCAN, Ester et al. KDD'96) as a
    composition of two certified engine primitives: the cell-keyed radius
    self-join (join.radius_join_pairs — never all-pairs) for the eps
    neighborhoods, and alternating-star connected components
    (:func:`connected_components`) for cluster formation.

    Semantics (deterministic variant):

    - ``|N_eps(p)|`` counts every point within ``eps`` INCLUSIVE of p
      itself (the self-pair falls out of the radius join at distance 0)
      and inclusive of the ``<=`` boundary — the engine's reference
      boundary rule (SparkDS.scala:87-90).
    - core point: ``|N_eps(p)| >= min_pts``.
    - clusters: connected components of the core-core eps graph;
      ``cluster_id`` = MIN core id of the component (a core with no other
      core in reach is its own singleton cluster).
    - border point: non-core within eps of >=1 core. Textbook DBSCAN
      assigns it to whichever core claims it first (scan-order dependent);
      here it joins the MINIMUM ``cluster_id`` among its reachable cores —
      deterministic, so results are reproducible across runs, partition
      counts and engines (the DuckDB oracle reproduces it exactly).
    - noise: non-core with no core in reach -> ``cluster_id`` NULL.

    Input needs columns (id, latitude, longitude); ids must be non-NULL
    and unique (they become graph nodes and cluster labels). Rows with
    NULL/out-of-range coordinates are dropped (same contract as the tile
    ops and ``join.validate_points``) — they appear in neither the output
    nor any neighborhood count. Output: (id, is_core, cluster_id).

    Scale posture (100 TB): the eps graph comes from the single int64
    cell equi-join (no cartesian anywhere — plan-asserted in tests); the
    pair set is persisted once and read by the degree count, the
    core-core edge filter and the border assignment (a
    :func:`storage.scope` around the materialization releases it, plus
    the component fixpoint blocks); core-set semi-joins and both groupBys
    shuffle on a single int64 id. eps is a LOCAL density scale — the pair
    set is ~n * avg_neighbors rows, so size eps to the density you mean
    to detect, not to a search radius.

    Grid resolution: DBSCAN points are dense at the eps scale BY
    DEFINITION (clusters need >= min_pts per eps-disc), so the default
    grid is two levels FINER than the generic join heuristic's
    ~cell-per-radius: smaller cells cut false candidates per hot cell
    and spread the join key over ~16x more cells. Measured on the gate
    fixture: 2.0x faster on the dense sf0.1 blobs (157 s -> 79 s
    pair-stage at 10 vs auto 7) and still faster on sparse sf0.01
    (14.0 s vs 16.0 s whole-op warm); the pair SET is identical at any
    resolution (coverage + exact refinement are resolution-invariant —
    verified 47,299,920 pairs at hb 7/8/9/10). Pass ``half_bits`` to
    override either way.

    Grid contraction (``contract``): with a contraction cell sized so
    its worst-case DIAMETER is <= eps (:func:`contraction_half_bits`),
    every pair of cores sharing a cell is provably within eps — so the
    component graph can be contracted to one supernode per occupied cell
    BEFORE the star-contraction loop, EXACTLY (same components, same
    min-id labels; the cross-cell eps edges become the supercell edges).
    This is the standard grid-based DBSCAN contraction and it shrinks
    the CC input by ~(mean core degree)/14 — decisive on dense data,
    pure overhead on sparse data where most cells hold one core.
    ``"auto"`` (default) measures the mean core degree with one scalar
    probe (an extra driver action — pairs materialize there instead of
    inside CC) and contracts at >= ``CONTRACT_DEGREE_THRESHOLD``;
    True/False force it. True raises if eps is too small for a legal
    contraction grid (sub-meter); auto silently skips.
    """
    from .join import (
        MAX_HALF_BITS,
        pick_half_bits,
        radius_join_pairs,
        validate_points,
        with_grid_cell,
    )
    from .geodesy import to_km

    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    if contract not in (True, False, "auto"):
        raise ValueError(f"contract must be True/False/'auto', got {contract!r}")
    eps_km = to_km(float(eps), unit)
    if half_bits is None:
        half_bits = min(pick_half_bits(eps_km) + 2, MAX_HALF_BITS)
    hb_c = contraction_half_bits(eps_km) if contract in (True, "auto") else None
    if contract is True and hb_c is None:
        raise ValueError(
            f"contract=True but eps={eps_km} km is below the finest legal "
            "contraction grid (cell diameter <= eps needs half_bits > "
            "MAX_HALF_BITS); pass contract=False or 'auto'"
        )

    pts = validate_points(points).select("id", "latitude", "longitude")
    if hb_c is not None:
        # contraction candidate: carry each point's supercell through the
        # join (pure Column — no extra pass, just 2 longs on the pair rows)
        pts = with_grid_cell(pts, hb_c, out="scell")
    pairs = cache(radius_join_pairs(
        pts, pts, eps, unit=unit, half_bits=half_bits, strategy=strategy,
        validate=False,
    ).select(
        "origin_id", "neighbor_id",
        *(["origin_scell", "neighbor_scell"] if hb_c is not None else []),
    ))

    deg_keys = ["origin_id"] + (["origin_scell"] if hb_c is not None else [])
    deg = pairs.groupBy(*deg_keys).agg(F.count("*").alias("n_eps"))
    core_rows = deg.where(F.col("n_eps") >= int(min_pts))
    core = core_rows.select(F.col("origin_id").alias("cid"))

    contract_on = False
    core_count: int | None = None
    if hb_c is not None:
        if contract == "auto":
            # one bounded scalar probe (pairs materialize here): mean core
            # degree decides whether contraction shrinks the graph enough.
            # The core COUNT rides the same agg for free and gates the
            # core-set broadcast below — no extra action.
            row = core_rows.agg(
                F.avg("n_eps").alias("_m"), F.count("*").alias("_c")
            ).first()
            mean_deg, core_count = row["_m"], row["_c"]
            contract_on = (mean_deg is not None
                           and mean_deg >= CONTRACT_DEGREE_THRESHOLD)
        else:
            contract_on = True

    # The core-id set is consumed by two semi-joins, one anti-join and
    # (via the label frame) the border claim — each would otherwise
    # re-shuffle the FULL pair set by origin_id/neighbor_id (the pair
    # set's hash(origin_id) layout only serves the origin-keyed aggs).
    # When the probe proved the core set bounded, broadcast it and the
    # equally-sized label frame: the four pair-set shuffles become
    # map-side joins over the persisted pairs (guide §2.4/§3.1 — a
    # broadcast replaces a shuffle of the large side). Hint-only: results
    # identical; with no probe (contract=False/None grid) or a large core
    # set the shuffle plan is unchanged — at 100 TB the gate never fires.
    # A session that disabled broadcasts (autoBroadcastJoinThreshold -1/0)
    # never gets one forced (gates.broadcast_budget is 0 there).
    bcast_core = (
        core_count is not None
        and core_count <= gates.DBSCAN_CORE_BROADCAST_ROWS
        and gates.broadcast_budget(points) > 0
    )
    core_b = F.broadcast(core) if bcast_core else core

    nonself = pairs.where(F.col("origin_id") != F.col("neighbor_id"))
    core_edges = (
        nonself
        .join(core_b, nonself["origin_id"] == core_b["cid"], "left_semi")
        .join(core_b, nonself["neighbor_id"] == core_b["cid"], "left_semi")
    )
    if contract_on:
        # supercell graph: cross-cell core-core eps edges only (same-cell
        # cores are same-cluster by the diameter bound); CC canonicalizes
        # and dedupes (least/greatest + distinct) so the raw edge stream
        # can flow in unaggregated
        super_edges = core_edges.where(
            F.col("origin_scell") != F.col("neighbor_scell")
        ).select("origin_scell", "neighbor_scell")
        comp_s = connected_components(
            super_edges, id1="origin_scell", id2="neighbor_scell", max_iter=max_iter
        ).select(F.col("node").alias("_sc"), F.col("cluster_id").alias("_scomp"))
        core_sc = (
            core_rows.select(F.col("origin_id").alias("cid"),
                             F.col("origin_scell").alias("scell"))
            .join(comp_s, F.col("scell") == F.col("_sc"), "left")
            # cell with no cross-cell edge: its own supercomponent
            .withColumn("_scomp", F.coalesce("_scomp", "scell"))
        )
        # deterministic label = MIN core id of the TRUE component (the
        # supercomponent's member set == the uncontracted component's)
        cl = core_sc.groupBy("_scomp").agg(F.min("cid").alias("_cl"))
        core_lab = (
            core_sc.join(cl, "_scomp")
            .select(
                F.col("cid").alias("id"),
                F.col("_cl").alias("cluster_id"),
                F.lit(True).alias("is_core"),
            )
        )
    else:
        comp = connected_components(
            core_edges, id1="origin_id", id2="neighbor_id", max_iter=max_iter
        )
        core_lab = (
            core.join(comp, core["cid"] == comp["node"], "left")
            # isolated core (no core neighbor): its own singleton cluster
            .select(
                F.col("cid").alias("id"),
                F.coalesce("cluster_id", "cid").alias("cluster_id"),
                F.lit(True).alias("is_core"),
            )
        )

    # border points: non-core origins reaching >=1 core neighbor take the
    # MIN reachable core's cluster label (deterministic claim rule)
    ncl = core_lab.select(
        F.col("id").alias("_nid"), F.col("cluster_id").alias("_ncl")
    )
    if bcast_core:  # same cardinality as the gated core set
        ncl = F.broadcast(ncl)
    border_lab = (
        nonself
        .join(core_b, nonself["origin_id"] == core_b["cid"], "left_anti")
        .join(ncl, F.col("neighbor_id") == F.col("_nid"))
        .groupBy("origin_id")
        .agg(F.min("_ncl").alias("cluster_id"))
        .select(
            F.col("origin_id").alias("id"), "cluster_id",
            F.lit(False).alias("is_core"),
        )
    )

    labels = core_lab.unionByName(border_lab).select(
        F.col("id").alias("_lid"), "cluster_id", "is_core"
    )
    return (
        pts.join(labels, pts["id"] == labels["_lid"], "left")
        .select(
            "id",
            F.coalesce("is_core", F.lit(False)).alias("is_core"),
            "cluster_id",  # NULL == noise
        )
    )
