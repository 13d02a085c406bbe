"""Getis-Ord Gi* hot-spot detection and local Moran's I
(index.getis_ord_gi_star / local_moran_i): handcrafted grids with
numpy twins of the exact formulas."""

import numpy as np
import pytest

from geoengine.index import getis_ord_gi_star, local_moran_i


def _pts(spark, coords):
    return spark.createDataFrame(
        [(float(a), float(b)) for a, b in coords],
        schema="latitude double, longitude double",
    )


def _numpy_twin(cells: dict, n: int, ring: int = 1):
    """cells: {(ix,iy): count} -> {(ix,iy): (sum_x, w, z|None)}."""
    xs = np.array(list(cells.values()), dtype=float)
    N, mean = len(xs), xs.mean()
    s = np.sqrt((xs * xs).mean() - xs.mean() ** 2)
    out = {}
    for (ix, iy), _ in cells.items():
        sum_x = w = 0
        for dx in range(-ring, ring + 1):
            for dy in range(-ring, ring + 1):
                k = ((ix + dx) % n, iy + dy)
                if k in cells:
                    sum_x += cells[k]
                    w += 1
        denom = s * np.sqrt((N * w - w * w) / (N - 1)) if N > 1 else 0.0
        z = (sum_x - mean * w) / denom if denom > 0 else None
        out[(ix, iy)] = (sum_x, w, z)
    return out


class TestGetisOrd:
    def test_values_match_numpy_twin(self, spark):
        hb, n = 4, 16  # 16x16 grid, cell = 11.25 x 22.5 deg
        rng = np.random.default_rng(3)
        coords = [(float(rng.uniform(-85, 85)), float(rng.uniform(-179, 179)))
                  for _ in range(300)]
        # hot block: pile 80 extra points into one spot
        coords += [(40.0 + float(rng.uniform(0, 1)),
                    40.0 + float(rng.uniform(0, 1)))] * 80
        got = {
            (r["ix"], r["iy"]): r
            for r in getis_ord_gi_star(_pts(spark, coords), hb).collect()
        }
        cells: dict = {}
        for la, lo in coords:
            ix = int((lo + 180.0) / 360.0 * n)
            iy = int((la + 90.0) / 180.0 * n)
            cells[(ix, iy)] = cells.get((ix, iy), 0) + 1
        want = _numpy_twin(cells, n)
        assert set(got) == set(want)
        hot = max(got.values(), key=lambda r: r["gi_z"] or -9e9)
        for k, (sum_x, w, z) in want.items():
            r = got[k]
            assert r["sum_x"] == sum_x and r["w"] == w, k
            if z is None:
                assert r["gi_z"] is None, k
            else:
                assert r["gi_z"] == pytest.approx(z, rel=1e-9), k
        # the piled-up cell (or a ring neighbor) carries the max z
        hx = int((40.5 + 180.0) / 360.0 * n)
        hy = int((40.5 + 90.0) / 180.0 * n)
        assert abs(hot["ix"] - hx) <= 1 and abs(hot["iy"] - hy) <= 1

    def test_longitude_wrap(self, spark):
        # occupied cells on both sides of the antimeridian are ring
        # neighbors: ix = 0 and ix = n-1 at the same iy
        hb, n = 4, 16
        coords = [(0.0, -179.0)] * 5 + [(0.0, 179.9)] * 3
        got = {
            (r["ix"], r["iy"]): r
            for r in getis_ord_gi_star(_pts(spark, coords), hb).collect()
        }
        assert {k[0] for k in got} == {0, n - 1}
        for r in got.values():
            assert r["sum_x"] == 8 and r["w"] == 2

    def test_single_cell_frame_is_null(self, spark):
        got = getis_ord_gi_star(_pts(spark, [(10.0, 10.0)] * 4), 4).collect()
        assert len(got) == 1
        assert got[0]["gi_z"] is None and got[0]["sum_x"] == 4


def _moran_twin(cells: dict, n: int, ring: int = 1):
    """cells: {(ix,iy): count} -> {(ix,iy): (w, lag|None, I|None, quad)}."""
    xs = np.array(list(cells.values()), dtype=float)
    mean = xs.mean()
    m2 = (xs * xs).mean() - mean * mean
    out = {}
    for (ix, iy), x in cells.items():
        lag_sum = w = 0
        for dx in range(-ring, ring + 1):
            for dy in range(-ring, ring + 1):
                if dx == 0 and dy == 0:
                    continue
                k = ((ix + dx) % n, iy + dy)
                if k in cells:
                    lag_sum += cells[k]
                    w += 1
        z = x - mean
        lag = lag_sum - w * mean if w > 0 else None
        moran = (z * lag) / m2 if (m2 > 0 and lag is not None) else None
        quad = None
        if m2 > 0 and lag is not None and z != 0 and lag != 0:
            quad = ("H" if z > 0 else "L") + ("H" if lag > 0 else "L")
        out[(ix, iy)] = (w, lag, moran, quad)
    return out


class TestLocalMoran:
    def test_values_match_numpy_twin(self, spark):
        hb, n = 4, 16
        rng = np.random.default_rng(4)
        coords = [(float(rng.uniform(-85, 85)), float(rng.uniform(-179, 179)))
                  for _ in range(300)]
        # a hot block (HH core) and a lone spike in a cold area (HL)
        coords += [(40.0 + float(rng.uniform(0, 3)),
                    40.0 + float(rng.uniform(0, 3)))] * 90
        coords += [(-70.0, -100.0)] * 40
        got = {
            (r["ix"], r["iy"]): r
            for r in local_moran_i(_pts(spark, coords), hb).collect()
        }
        cells: dict = {}
        for la, lo in coords:
            ix = int((lo + 180.0) / 360.0 * n)
            iy = int((la + 90.0) / 180.0 * n)
            cells[(ix, iy)] = cells.get((ix, iy), 0) + 1
        want = _moran_twin(cells, n)
        assert set(got) == set(want)
        quads = set()
        for k, (w, lag, moran, quad) in want.items():
            r = got[k]
            assert r["w"] == w, k
            if lag is None:
                assert r["lag"] is None, k
            else:
                assert r["lag"] == pytest.approx(lag, rel=1e-9), k
            if moran is None:
                assert r["moran_i"] is None, k
            else:
                assert r["moran_i"] == pytest.approx(moran, rel=1e-9), k
            assert r["quadrant"] == quad, k
            quads.add(quad)
        assert "HH" in quads and "LL" in quads  # fixture exercises clusters

    def test_island_and_wrap(self, spark):
        # two cells adjacent only ACROSS the antimeridian + one island
        coords = [(0.0, -179.0)] * 6 + [(0.0, 179.9)] * 2 + [(60.0, 0.0)] * 4
        got = {
            (r["ix"], r["iy"]): r
            for r in local_moran_i(_pts(spark, coords), 4).collect()
        }
        n = 16
        island = got[(int(180.0 / 360.0 * n), int(150.0 / 180.0 * n))]
        assert island["w"] == 0
        assert island["lag"] is None and island["moran_i"] is None
        assert island["quadrant"] is None
        pair = [r for r in got.values() if r["w"] == 1]
        assert len(pair) == 2  # each sees exactly the other, through the wrap

    def test_constant_frame_is_null(self, spark):
        # equal counts everywhere -> m2 == 0 -> moran/quadrant NULL, lag 0
        coords = [(0.0, 10.0)] * 3 + [(0.0, 30.0)] * 3
        got = local_moran_i(_pts(spark, coords), 4).collect()
        assert len(got) == 2
        for r in got:
            assert r["moran_i"] is None and r["quadrant"] is None
            assert r["lag"] == pytest.approx(0.0)


def _global_moran_twin(cells: dict, n: int, ring: int = 1):
    xs = np.array(list(cells.values()), dtype=float)
    N, mean = len(xs), xs.mean()
    num = m2sum = 0.0
    W = wsq = 0
    for (ix, iy), x in cells.items():
        lag_sum = w = 0
        for dx in range(-ring, ring + 1):
            for dy in range(-ring, ring + 1):
                if dx == 0 and dy == 0:
                    continue
                k = ((ix + dx) % n, iy + dy)
                if k in cells:
                    lag_sum += cells[k]
                    w += 1
        z = x - mean
        m2sum += z * z
        W += w
        wsq += w * w
        if w > 0:
            num += z * (lag_sum - w * mean)
    if N < 2 or W == 0 or m2sum == 0:
        return N, W, None, (-1.0 / (N - 1) if N > 1 else None), None
    i_val = (N / W) * (num / m2sum)
    e_i = -1.0 / (N - 1)
    s1, s2 = 2.0 * W, 4.0 * wsq
    var = ((N * N * s1 - N * s2 + 3.0 * W * W)
           / ((W * W) * (N * N - 1.0)) - e_i * e_i)
    zn = (i_val - e_i) / np.sqrt(var) if var > 0 else None
    return N, W, i_val, e_i, zn


class TestGlobalMoran:
    def test_matches_numpy_twin(self, spark):
        from geoengine.index import global_moran_i

        hb, n = 4, 16
        rng = np.random.default_rng(5)
        coords = [(float(rng.uniform(-85, 85)), float(rng.uniform(-179, 179)))
                  for _ in range(400)]
        # clustered mass spanning a ~3x3 BLOCK of hb-4 cells (22.5 x 11.25
        # deg each): adjacent cells all elevated -> positive global I (a
        # single-cell spike would be a high-low OUTLIER, i.e. negative)
        coords += [(10.0 + float(rng.uniform(0, 30)),
                    20.0 + float(rng.uniform(0, 60)))
                   for _ in range(500)]
        row = global_moran_i(_pts(spark, coords), hb).collect()
        assert len(row) == 1
        r = row[0]
        cells: dict = {}
        for la, lo in coords:
            ix = int((lo + 180.0) / 360.0 * n)
            iy = int((la + 90.0) / 180.0 * n)
            cells[(ix, iy)] = cells.get((ix, iy), 0) + 1
        N, W, i_val, e_i, zn = _global_moran_twin(cells, n)
        assert r["n_cells"] == N and r["w_sum"] == W
        assert r["moran_i"] == pytest.approx(i_val, rel=1e-9)
        assert r["e_i"] == pytest.approx(e_i, rel=1e-12)
        assert r["z_norm"] == pytest.approx(zn, rel=1e-9)
        assert r["moran_i"] > 0 and r["z_norm"] > 1.96  # clustered fixture

    def test_degenerate_frames(self, spark):
        from geoengine.index import global_moran_i

        # single occupied cell: N=1 -> everything undefined
        r = global_moran_i(_pts(spark, [(10.0, 10.0)] * 3), 4).collect()[0]
        assert r["n_cells"] == 1 and r["w_sum"] == 0
        assert r["moran_i"] is None and r["e_i"] is None
        assert r["z_norm"] is None
        # two far-apart cells: W=0 (both islands) -> I undefined, E defined
        r = global_moran_i(
            _pts(spark, [(10.0, 10.0), (-60.0, -120.0)]), 4
        ).collect()[0]
        assert r["n_cells"] == 2 and r["w_sum"] == 0
        assert r["moran_i"] is None and r["e_i"] == pytest.approx(-1.0)
        # two adjacent equal-count cells: m2 == 0 -> I undefined
        r = global_moran_i(
            _pts(spark, [(0.0, 10.0), (0.0, 30.0)]), 4
        ).collect()[0]
        assert r["w_sum"] == 2 and r["moran_i"] is None


def _pts_binned(spark, rows):
    return spark.createDataFrame(
        [(float(a), float(b), int(t)) for a, b, t in rows],
        schema="latitude double, longitude double, bin long",
    )


def _emerging_twin(rows, n, crit=1.96):
    """rows: (lat, lon, bin) -> {(ix,iy): (n_bins, s, z_mk, mean, last,
    trend)} via per-bin _numpy_twin Gi* + Mann-Kendall."""
    by_bin: dict = {}
    for la, lo, t in rows:
        ix = int((lo + 180.0) / 360.0 * n)
        iy = int((la + 90.0) / 180.0 * n)
        by_bin.setdefault(t, {})
        by_bin[t][(ix, iy)] = by_bin[t].get((ix, iy), 0) + 1
    series: dict = {}
    for t in sorted(by_bin):
        for cell, (_, _, z) in _numpy_twin(by_bin[t], n).items():
            if z is not None:
                series.setdefault(cell, []).append((t, z))
    out = {}
    for cell, seq in series.items():
        seq.sort()
        zs = [z for _, z in seq]
        T = len(zs)
        s = sum(
            (1 if zs[j] > zs[i] else -1 if zs[j] < zs[i] else 0)
            for i in range(T) for j in range(i + 1, T)
        )
        if T >= 2:
            var = T * (T - 1) * (2 * T + 5) / 18.0
            zmk = ((s - 1) / np.sqrt(var) if s > 0
                   else (s + 1) / np.sqrt(var) if s < 0 else 0.0)
            trend = ("up" if zmk > crit else
                     "down" if zmk < -crit else "flat")
        else:
            zmk, trend = None, None
        out[cell] = (T, s, zmk, float(np.mean(zs)), zs[-1], trend)
    return out


class TestEmergingHotspots:
    def test_matches_numpy_twin(self, spark):
        from geoengine.index import emerging_hotspots

        hb, n, n_bins = 4, 16, 8
        rng = np.random.default_rng(6)
        rows = []
        # background noise every bin
        for t in range(n_bins):
            rows += [(float(rng.uniform(-85, 85)),
                      float(rng.uniform(-179, 179)), t)
                     for _ in range(120)]
            # an INTENSIFYING block: mass grows linearly with t
            rows += [(30.0 + float(rng.uniform(0, 10)),
                      40.0 + float(rng.uniform(0, 20)), t)] * (4 + 10 * t)
            # a COOLING block: mass shrinks with t
            rows += [(-40.0 - float(rng.uniform(0, 10)),
                      -90.0 - float(rng.uniform(0, 20)), t)] * (4 + 10 * (n_bins - 1 - t))
        got = {
            (r["ix"], r["iy"]): r
            for r in emerging_hotspots(_pts_binned(spark, rows), hb).collect()
        }
        want = _emerging_twin(rows, n)
        assert set(got) == set(want)
        trends = set()
        for cell, (T, s, zmk, mean, last, trend) in want.items():
            r = got[cell]
            assert r["n_bins"] == T and r["s"] == s, cell
            if zmk is None:
                assert r["z_mk"] is None, cell
            else:
                assert r["z_mk"] == pytest.approx(zmk, rel=1e-12), cell
            assert r["mean_gi"] == pytest.approx(mean, rel=1e-9), cell
            assert r["last_gi"] == pytest.approx(last, rel=1e-9), cell
            assert r["trend"] == trend, cell
            trends.add(trend)
        assert "up" in trends and "down" in trends  # fixture exercises both

    def test_exact_ties_are_flat(self, spark):
        from geoengine.index import emerging_hotspots

        # bin 1 permutes bin 0's histogram (B and C swap counts, A fixed):
        # frame stats are identical and every cell keeps the same
        # (w, sum_x) — Gi* uses the NEIGHBORHOOD sum, and B+C is invariant
        # under the swap — so all three gi_z series tie exactly:
        # s=0, z_mk=0.0, trend 'flat'
        rows = ([(60.0, 100.0, 0)] * 3
                + [(0.0, 10.0, 0)] + [(0.0, 30.0, 0)] * 2
                + [(60.0, 100.0, 1)] * 3
                + [(0.0, 10.0, 1)] * 2 + [(0.0, 30.0, 1)])
        got = emerging_hotspots(_pts_binned(spark, rows), 4).collect()
        assert len(got) == 3
        for r in got:
            assert r["n_bins"] == 2 and r["s"] == 0, r
            assert r["z_mk"] == 0.0 and r["trend"] == "flat", r

    def test_single_defined_slice_is_null(self, spark):
        from geoengine.index import emerging_hotspots

        # bin 0: 3-cell frame, all gi_z defined; bin 1: only B and C ->
        # N=2 with w=2=N -> gi_z UNDEFINED, slice excluded -> every cell
        # ends with n_bins=1: s=0, NULL z_mk/trend
        rows = ([(60.0, 100.0, 0)] * 3
                + [(0.0, 10.0, 0)] + [(0.0, 30.0, 0)] * 2
                + [(0.0, 10.0, 1)] + [(0.0, 30.0, 1)] * 2)
        got = emerging_hotspots(_pts_binned(spark, rows), 4).collect()
        assert len(got) == 3
        for r in got:
            assert r["n_bins"] == 1 and r["s"] == 0, r
            assert r["z_mk"] is None and r["trend"] is None, r


class TestRipleysK:
    def test_matches_brute(self, spark):
        import math

        from geoengine.geodesy import dist_law_of_cosines_km
        from geoengine.index import ripleys_k

        rng = np.random.default_rng(7)
        pts = [(i, float(rng.uniform(-30, 30)), float(rng.uniform(-40, 40)))
               for i in range(120)]
        # add a tight cluster to push K above CSR at small radii
        pts += [(200 + i, 5.0 + float(rng.uniform(0, 0.5)),
                 5.0 + float(rng.uniform(0, 0.5))) for i in range(30)]
        df = spark.createDataFrame(
            pts, "id long, latitude double, longitude double")
        radii = [50.0, 300.0, 1500.0]
        area = 4.0 * math.pi * 6371.0 ** 2
        got = {r["r_km"]: r for r in ripleys_k(df, radii, area).collect()}
        n = len(pts)
        for r in radii:
            c = sum(
                1
                for i in range(n) for j in range(i + 1, n)
                if dist_law_of_cosines_km(
                    pts[i][1], pts[i][2], pts[j][1], pts[j][2]) <= r
            )
            g = got[r]
            assert g["n_points"] == n and g["n_pairs"] == c, r
            k = area * 2.0 * c / (n * (n - 1.0))
            assert g["k_km2"] == pytest.approx(k, rel=1e-12)
            assert g["l_km"] == pytest.approx(math.sqrt(k / math.pi),
                                              rel=1e-12)
        # the tight cluster inflates small-radius K far above CSR
        # (CSR reference: L(r) ~ r on a uniform process)
        assert got[50.0]["l_km"] > 50.0

    def test_degenerate_and_validation(self, spark):
        from geoengine.index import ripleys_k

        df = spark.createDataFrame(
            [(1, 0.0, 0.0)], "id long, latitude double, longitude double")
        row = ripleys_k(df, [100.0], 1.0e6).collect()
        assert len(row) == 1
        assert row[0]["n_points"] == 1 and row[0]["n_pairs"] == 0
        assert row[0]["k_km2"] is None and row[0]["l_km"] is None
        with pytest.raises(ValueError, match="radii"):
            ripleys_k(df, [], 1.0e6)
        with pytest.raises(ValueError, match="radii"):
            ripleys_k(df, [-5.0], 1.0e6)


class TestClarkEvans:
    def test_matches_brute(self, spark):
        import math

        from geoengine.geodesy import dist_law_of_cosines_km
        from geoengine.index import clark_evans

        rng = np.random.default_rng(8)
        pts = [(i, float(rng.uniform(-40, 40)), float(rng.uniform(-60, 60)))
               for i in range(80)]
        df = spark.createDataFrame(
            pts, "id long, latitude double, longitude double")
        area = 4.0 * math.pi * 6371.0 ** 2
        r = clark_evans(df, area).collect()[0]
        n = len(pts)
        nn = [
            min(dist_law_of_cosines_km(la, lo, lb, ob)
                for j, lb, ob in pts if j != i)
            for i, la, lo in pts
        ]
        mean_nn = sum(nn) / n
        expected = 0.5 / math.sqrt(n / area)
        assert r["n_points"] == n
        assert r["mean_nn_km"] == pytest.approx(mean_nn, rel=1e-9)
        assert r["expected_nn_km"] == pytest.approx(expected, rel=1e-12)
        assert r["clark_evans_r"] == pytest.approx(mean_nn / expected,
                                                   rel=1e-9)
        # a duplicated point makes its NN distance ~0 and drags R down
        df2 = spark.createDataFrame(
            pts + [(900, pts[0][1], pts[0][2])],
            "id long, latitude double, longitude double")
        r2 = clark_evans(df2, area).collect()[0]
        assert r2["clark_evans_r"] < r["clark_evans_r"]

    def test_single_point_nulls(self, spark):
        from geoengine.index import clark_evans

        df = spark.createDataFrame(
            [(1, 0.0, 0.0)], "id long, latitude double, longitude double")
        r = clark_evans(df, 1.0e6).collect()[0]
        assert r["n_points"] == 0  # no point has a neighbor
        assert r["mean_nn_km"] is None and r["clark_evans_r"] is None
