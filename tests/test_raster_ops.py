"""Raster-plane operators vs closed-form numpy references: cast (C1),
mosaic latest-wins (A7), valid-count (A9/F12), pyramid (A8), cover (R8)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geocube_spark.functions.dataformat import cast_expr, cast_numpy
from geocube_spark.operators.cover import (
    RegularGridSpec,
    cover_regular,
    cover_singlecell,
)
from geocube_spark.operators.mosaic import filter_valid_slices, mosaic_blocks
from geocube_spark.operators.pyramid import build_level

SRC = {
    "dtype": "Int16", "no_data": -32768.0, "min_value": 0.0, "max_value": 10000.0,
    "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0,
}
DST = {
    "dtype": "UInt8", "no_data": 0.0, "min_value": 1.0, "max_value": 255.0,
    "real_min_value": 0.0, "real_max_value": 1.0, "exponent": 1.0,
}
DST_EXP = dict(DST, exponent=2.0)


class TestCastExpr:
    def test_matches_numpy(self, spark):
        vals = [0.0, 1.0, 2500.0, 5000.0, 9999.0, 10000.0, -32768.0]
        df = spark.createDataFrame([(vals,)], "px ARRAY<DOUBLE>")
        got = df.select(cast_expr(F.col("px"), SRC, DST).alias("c")).first()["c"]
        want = cast_numpy(np.array(vals), SRC, DST).tolist()
        assert got == want

    def test_exponent_chain(self, spark):
        src = dict(SRC, exponent=2.0)
        vals = [100.0, 2500.0, 10000.0]
        df = spark.createDataFrame([(vals,)], "px ARRAY<DOUBLE>")
        got = df.select(cast_expr(F.col("px"), src, DST_EXP).alias("c")).first()["c"]
        want = cast_numpy(np.array(vals), src, DST_EXP).tolist()
        assert got == pytest.approx(want)

    def test_identity_is_noop(self, spark):
        df = spark.createDataFrame([([1.0, 2.0],)], "px ARRAY<DOUBLE>")
        out = df.select(cast_expr(F.col("px"), SRC, dict(SRC)).alias("c"))
        assert out.first()["c"] == [1.0, 2.0]

    def test_complex_lattice_one_way(self):
        # datatype.go:43-58: complex only to complex, real never to complex
        from geocube_spark.functions.dataformat import CastError
        from geocube_spark.schemas import can_cast_to

        assert can_cast_to("Complex64", "Complex64")
        assert not can_cast_to("Complex64", "Float64")
        assert not can_cast_to("Int16", "Complex64")
        assert can_cast_to("Int16", "UInt8") and can_cast_to("Float32", "Int32")
        assert not can_cast_to("Bool", "UInt8")  # reserved, not modeled
        cm = dict(SRC, dtype="Complex64")
        with pytest.raises(CastError):
            cast_expr(F.lit([1.0]), SRC, cm)  # Int16 -> Complex64
        with pytest.raises(CastError):
            cast_expr(F.lit([1.0]), cm, SRC)  # Complex64 -> Int16


class TestMosaic:
    def _tiles(self, spark):
        """3 records stacked on one block; newer records painted over older,
        nodata (=-1) holes let older values show through."""
        from datetime import datetime

        rows = [
            # (record_id, t, px)
            ("r1", datetime(2018, 1, 1), [1.0, 1.0, 1.0, 1.0]),
            ("r2", datetime(2018, 1, 2), [2.0, -1.0, 2.0, -1.0]),
            ("r3", datetime(2018, 1, 3), [-1.0, -1.0, 3.0, 3.0]),
        ]
        return spark.createDataFrame(
            [(rid, t, 1, 0, 0, 0, px) for rid, t, px in rows],
            "record_id STRING, record_datetime TIMESTAMP, band INT, level INT,"
            " block_x INT, block_y INT, px ARRAY<DOUBLE>",
        )

    def test_latest_wins_with_holes(self, spark):
        out = mosaic_blocks(self._tiles(spark), nodata=-1.0).collect()
        assert len(out) == 1
        # px0: r3 nodata -> r2=2; px1: r3,r2 nodata -> r1=1; px2: r3=3; px3: r3=3
        assert out[0]["px"] == [2.0, 1.0, 3.0, 3.0]
        assert out[0]["n_inputs"] == 3

    def test_tie_break_on_record_id(self, spark):
        from datetime import datetime

        t = datetime(2018, 1, 1)
        df = spark.createDataFrame(
            [
                ("rA", t, 1, 0, 0, 0, [10.0, 10.0]),
                ("rB", t, 1, 0, 0, 0, [20.0, -1.0]),
            ],
            "record_id STRING, record_datetime TIMESTAMP, band INT, level INT,"
            " block_x INT, block_y INT, px ARRAY<DOUBLE>",
        )
        out = mosaic_blocks(df, nodata=-1.0).collect()[0]
        # same datetime -> larger record_id wins (W1 tie-break: datetime, id)
        assert out["px"] == [20.0, 10.0]

    def test_valid_filter(self, spark):
        out = mosaic_blocks(self._tiles(spark), nodata=-1.0)
        kept = filter_valid_slices(out, nodata=-1.0, min_valid_fraction=0.5)
        assert kept.count() == 1
        none = filter_valid_slices(out, nodata=-1.0, min_valid_fraction=1.1)
        assert none.count() == 0

    def test_nan_nodata(self, spark):
        from datetime import datetime

        df = spark.createDataFrame(
            [
                ("r1", datetime(2018, 1, 1), 1, 0, 0, 0, [7.0, 8.0]),
                ("r2", datetime(2018, 1, 2), 1, 0, 0, 0, [float("nan"), 9.0]),
            ],
            "record_id STRING, record_datetime TIMESTAMP, band INT, level INT,"
            " block_x INT, block_y INT, px ARRAY<DOUBLE>",
        )
        out = mosaic_blocks(df, nodata=float("nan")).collect()[0]
        assert out["px"] == [7.0, 9.0]


class TestPyramid:
    def test_average_2x2(self, spark, fixture_dir):
        tiles = spark.read.parquet(f"{fixture_dir}/tiles.parquet")
        one = tiles.filter(
            (F.col("container_uri") == "file:///synth/0.tif") & (F.col("level") == 0)
        )
        lvl1 = build_level(one, level=1, alg="AVERAGE", nodata=-32768.0)
        rows = lvl1.collect()
        assert len(rows) == 1  # 2×2 blocks -> 1 parent block
        got = np.array(rows[0]["px"]).reshape(64, 64)

        # numpy reference: assemble the 128×128 image, nodata-aware 2×2 mean
        src = {(r["block_x"], r["block_y"]): np.array(r["px"]).reshape(64, 64) for r in one.collect()}
        img = np.block([[src[(0, 0)], src[(1, 0)]], [src[(0, 1)], src[(1, 1)]]])
        want = np.empty((64, 64))
        for i in range(64):
            for j in range(64):
                w = img[2 * i : 2 * i + 2, 2 * j : 2 * j + 2].ravel()
                valid = w[w != -32768.0]
                want[i, j] = valid.mean() if valid.size else -32768.0
        np.testing.assert_allclose(got, want, rtol=1e-12)


class TestCover:
    def test_regular_grid_closed_form(self, spark):
        spec = RegularGridSpec(crs="epsg:4326", cell_size=100, resolution=0.01)  # 1° cells
        out = cover_regular(spark, [(0.5, 0.5, 2.5, 1.5)], spec).collect()
        cells = {(r["i"], r["j"]) for r in out}
        assert cells == {(0, 0), (1, 0), (2, 0), (0, 1), (1, 1), (2, 1)}

    def test_boundary_cells_not_included(self, spark):
        spec = RegularGridSpec(crs="epsg:4326", cell_size=100, resolution=0.01)
        # AOI exactly on cell edges: only interior-overlapping cells count
        out = cover_regular(spark, [(1.0, 1.0, 2.0, 2.0)], spec).collect()
        assert {(r["i"], r["j"]) for r in out} == {(1, 1)}

    def test_dedup_across_rects(self, spark):
        spec = RegularGridSpec(crs="epsg:4326", cell_size=100, resolution=0.01)
        out = cover_regular(spark, [(0.2, 0.2, 0.8, 0.8), (0.4, 0.4, 1.6, 0.9)], spec)
        uris = [r["cell_uri"] for r in out.collect()]
        assert len(uris) == len(set(uris))  # L3 dedup

    def test_singlecell(self):
        # reference semantics (singlecellgrid.go:52-86): raw TOP-LEFT
        # origin, sizes rounded half-away-from-zero
        spec = RegularGridSpec(crs="epsg:4326", cell_size=1, resolution=0.5)
        ox, oy, w, h = cover_singlecell([(0.3, 0.2, 2.4, 1.9)], spec)
        assert (ox, oy) == (0.3, 1.9)
        assert (w, h) == (4, 3)  # round(2.1/0.5)=4, round(1.7/0.5)=3

    def test_concave_aoi_cover_excludes_notch(self, spark):
        # France-like concave outline (the reference covers france.geojson in
        # regulargrid_test.go): hexagon-ish ring with a deep Biscay-like bite.
        # A bbox cover would include the bite; the polygon cover must not.
        from geocube_spark.functions.geometry import polygon_wkb, rect_clip_area_wkb
        from geocube_spark.operators.cover import cover_regular_wkb

        outline = [
            (0.0, 0.0), (8.0, 0.0), (10.0, 4.0), (8.0, 8.0), (4.0, 9.0),
            (0.0, 8.0), (0.0, 6.0), (3.0, 5.0), (3.0, 3.0), (0.0, 2.0),
        ]  # the (0,2)->(3,3)->(3,5)->(0,6) segment is a concave bite
        wkb = polygon_wkb(outline)
        spec = RegularGridSpec(crs="epsg:4326", cell_size=100, resolution=0.01)  # 1° cells
        got = {(r["i"], r["j"]) for r in cover_regular_wkb(spark, wkb, spec).collect()}
        # bite interior cells excluded (e.g. (0..1, 3..4) region is outside)
        assert (0, 3) not in got and (0, 4) not in got and (1, 3) not in got
        # cells well inside the outline present
        assert {(4, 4), (5, 5), (6, 2)} <= got
        # every returned cell genuinely overlaps the polygon, and every
        # candidate cell with positive overlap was returned (exact cover)
        want = set()
        for i in range(0, 10):
            for j in range(0, 9):
                if rect_clip_area_wkb(wkb, (i, j, i + 1.0, j + 1.0)) > 1e-12:
                    want.add((i, j))
        assert got == want
        # independent oracle: dense interior point sample (matplotlib-free
        # even-odd ray cast re-derived inline, not the kernel under test)
        import numpy as np

        def pip(px, py):
            inside = False
            pts = outline
            for (ax, ay), (bx, by) in zip(pts, pts[1:] + pts[:1]):
                if (ay > py) != (by > py):
                    if px < ax + (py - ay) * (bx - ax) / (by - ay):
                        inside = not inside
            return inside

        rng = np.random.RandomState(0)
        for px, py in rng.uniform(0, 10, size=(400, 2)):
            if pip(px, py):
                assert (int(px), int(py)) in got, (px, py)


class TestZonalStats:
    """operators/zonal.py: broadcast θ-join + HOF window aggregation."""

    def _tiles(self, spark):
        import numpy as np
        from pyspark.sql import functions as F

        rows = []
        for by in range(2):
            for bx in range(2):
                cc, rr = np.meshgrid(np.arange(4), np.arange(4))
                v = (10.0 * (by * 2 + bx) + rr * 4 + cc).ravel().tolist()
                rows.append((bx, by, v, {"a": 1.0, "b": 0.0, "c": 0.0,
                                         "d": 0.0, "e": -1.0, "f": 8.0}))
        return spark.createDataFrame(
            rows,
            "block_x int, block_y int, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )

    def test_zone_spanning_tiles(self, spark):
        from geocube_spark.operators.zonal import zonal_stats

        # 8x8 raster of 2x2 tiles (4px each), origin (0, 8), res 1.
        # zone covers pixel cols 2..5, rows 2..5 -> 16 px across all 4 tiles
        zones = spark.createDataFrame(
            [(0, 2.0, 8.0 - 6.0, 6.0, 8.0 - 2.0)],
            "zone_id int, xmin double, ymin double, xmax double, ymax double",
        )
        out = zonal_stats(self._tiles(spark), zones, block=4).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_pixels"] == 16
        # manual expectation
        import numpy as np

        full = np.zeros((8, 8))
        for by in range(2):
            for bx in range(2):
                cc, rr = np.meshgrid(np.arange(4), np.arange(4))
                full[by * 4:(by + 1) * 4, bx * 4:(bx + 1) * 4] = (
                    10.0 * (by * 2 + bx) + rr * 4 + cc
                )
        win = full[2:6, 2:6]
        assert r["sum_value"] == win.sum()
        assert r["min_value"] == win.min()
        assert r["max_value"] == win.max()
        assert abs(r["mean_value"] - win.mean()) < 1e-12

    def test_zone_off_raster_empty(self, spark):
        from geocube_spark.operators.zonal import zonal_stats

        zones = spark.createDataFrame(
            [(7, 100.0, 100.0, 110.0, 110.0)],
            "zone_id int, xmin double, ymin double, xmax double, ymax double",
        )
        assert zonal_stats(self._tiles(spark), zones, block=4).count() == 0

    def test_nodata_excluded(self, spark):
        from geocube_spark.operators.zonal import zonal_stats

        zones = spark.createDataFrame(
            [(0, 0.0, 4.0, 4.0, 8.0)],
            "zone_id int, xmin double, ymin double, xmax double, ymax double",
        )
        out = zonal_stats(
            self._tiles(spark), zones, block=4, nodata=0.0
        ).collect()[0]
        # tile (0,0) holds values 0..15; value 0.0 is dropped
        assert out["n_pixels"] == 15
        assert out["min_value"] == 1.0


class TestMapAlgebra:
    def test_single_band_transform(self, spark):
        from geocube_spark.operators.algebra import map_algebra
        from pyspark.sql import functions as F

        df = spark.createDataFrame([([1.0, 2.0, 3.0],)], "px array<double>")
        out = map_algebra(df, lambda x: x * 2 + 1, out_col="y").first()["y"]
        assert out == [3.0, 5.0, 7.0]

    def test_normalized_difference(self, spark):
        from geocube_spark.operators.algebra import normalized_difference

        df = spark.createDataFrame(
            [([1.0, 3.0], [3.0, 1.0])], "a array<double>, b array<double>"
        )
        nd = normalized_difference(df, "a", "b").first()["nd"]
        assert nd == [0.5, -0.5]

    def test_rejects_three_bands(self, spark):
        import pytest as _pytest

        from geocube_spark.operators.algebra import map_algebra

        df = spark.createDataFrame([([1.0],)], "px array<double>")
        with _pytest.raises(ValueError):
            map_algebra(df, lambda a, b, c: a, in_cols=("px", "px", "px"))


class TestTemporalComposite:
    def _layers(self, spark):
        rows = []
        for t in range(4):
            rows.append((0, 0, [float(t), float(10 + t), float(5 - t), 1.0]))
        return spark.createDataFrame(rows, "block_x int, block_y int, px array<double>")

    def test_median_even_layer_count(self, spark):
        from geocube_spark.operators.mosaic import temporal_composite

        out = temporal_composite(self._layers(spark), stat="median", block=2).first()
        # per-pixel sorted values: [0,1,2,3] [10..13] [2,3,4,5] [1,1,1,1]
        # interpolating median of 4 = mean of the two middles (the
        # DuckDB median()/quantile_cont convention the oracles use)
        assert out["px"] == [1.5, 11.5, 3.5, 1.0]
        assert out["n_layers"] == 4

    def test_mean(self, spark):
        from geocube_spark.operators.mosaic import temporal_composite

        out = temporal_composite(self._layers(spark), stat="mean", block=2).first()
        assert out["px"] == [1.5, 11.5, 3.5, 1.0]

    def test_rejects_unknown_stat(self, spark):
        import pytest as _pytest

        from geocube_spark.operators.mosaic import temporal_composite

        with _pytest.raises(ValueError):
            temporal_composite(self._layers(spark), stat="mode")


class TestFocalOps:
    """operators/focal.py: halo-exchange focal mean + point sampling."""

    def _tiles(self, spark, nx=3, ny=3, B=4):
        import numpy as np

        rows = []
        for by in range(ny):
            for bx in range(nx):
                cc, rr = np.meshgrid(np.arange(B), np.arange(B))
                v = (13 * (bx * B + cc) + 7 * (by * B + rr)) % 97
                rows.append(
                    (bx, by, v.astype(float).ravel().tolist(),
                     {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0,
                      "f": float(ny * B)})
                )
        return spark.createDataFrame(
            rows,
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )

    def _reference(self, nx=3, ny=3, B=4):
        import numpy as np

        full = np.zeros((ny * B, nx * B))
        for by in range(ny):
            for bx in range(nx):
                cc, rr = np.meshgrid(np.arange(B), np.arange(B))
                full[by * B:(by + 1) * B, bx * B:(bx + 1) * B] = (
                    13 * (bx * B + cc) + 7 * (by * B + rr)
                ) % 97
        return full

    def test_matches_full_raster_stencil(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_mean

        B, nx, ny = 4, 3, 3
        full = self._reference(nx, ny, B)
        pad = np.pad(full, 1, mode="edge")
        N, M = full.shape
        ref = sum(
            pad[a:a + N, b:b + M] for a in range(3) for b in range(3)
        ) / 9.0
        out = focal_mean(self._tiles(spark, nx, ny, B), block=B).collect()
        assert len(out) == nx * ny
        got = np.zeros_like(full)
        for r in out:
            got[
                r["block_y"] * B:(r["block_y"] + 1) * B,
                r["block_x"] * B:(r["block_x"] + 1) * B,
            ] = np.array(r["px"]).reshape(B, B)
        np.testing.assert_allclose(got, ref, atol=1e-12)

    def test_single_tile_clamps_everywhere(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_mean

        B = 4
        out = focal_mean(self._tiles(spark, 1, 1, B), block=B).collect()
        full = self._reference(1, 1, B)
        pad = np.pad(full, 1, mode="edge")
        ref = sum(pad[a:a + B, b:b + B] for a in range(3) for b in range(3)) / 9.0
        np.testing.assert_allclose(
            np.array(out[0]["px"]).reshape(B, B), ref, atol=1e-12
        )

    def test_point_sampling_values_and_plan(self, spark):
        from geocube_spark.operators.focal import sample_points

        B = 4
        tiles = self._tiles(spark, 2, 2, B)
        full = self._reference(2, 2, B)
        pts = spark.createDataFrame(
            [(1, 2.5, 5.5), (2, 6.5, 1.5), (3, 0.5, 7.5)],
            "point_id long, x double, y double",
        )
        tf = (1.0, 0.0, 0.0, 0.0, -1.0, 8.0)
        res = {
            r["point_id"]: r["value"]
            for r in sample_points(tiles, pts, tf, block=B).collect()
        }
        assert res == {1: full[2, 2], 2: full[6, 6], 3: full[0, 0]}
        plan = (
            sample_points(tiles, pts, tf, block=B)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan  # equi-join on computed keys


class TestFocalSlope:
    def test_horn_slope_matches_full_raster(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_slope

        B, nx, ny = 4, 2, 2
        rows = []
        for by in range(ny):
            for bx in range(nx):
                cc, rr = np.meshgrid(np.arange(B), np.arange(B))
                v = (13 * (bx * B + cc) + 7 * (by * B + rr)) % 97
                rows.append((bx, by, v.astype(float).ravel().tolist(),
                             {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0,
                              "e": -1.0, "f": 8.0}))
        tiles = spark.createDataFrame(
            rows,
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        full = np.zeros((8, 8))
        for by in range(ny):
            for bx in range(nx):
                cc, rr = np.meshgrid(np.arange(B), np.arange(B))
                full[by * B:(by + 1) * B, bx * B:(bx + 1) * B] = (
                    13 * (bx * B + cc) + 7 * (by * B + rr)
                ) % 97
        pad = np.pad(full, 1, mode="edge")
        cs = 2.0
        zx = ((pad[:-2, 2:] + 2 * pad[1:-1, 2:] + pad[2:, 2:])
              - (pad[:-2, :-2] + 2 * pad[1:-1, :-2] + pad[2:, :-2])) / (8 * cs)
        zy = ((pad[2:, :-2] + 2 * pad[2:, 1:-1] + pad[2:, 2:])
              - (pad[:-2, :-2] + 2 * pad[:-2, 1:-1] + pad[:-2, 2:])) / (8 * cs)
        ref = np.arctan(np.sqrt(zx * zx + zy * zy))
        got = np.zeros_like(full)
        for r in focal_slope(tiles, cellsize=cs, block=B).collect():
            got[
                r["block_y"] * B:(r["block_y"] + 1) * B,
                r["block_x"] * B:(r["block_x"] + 1) * B,
            ] = np.array(r["px"]).reshape(B, B)
        np.testing.assert_allclose(got, ref, atol=1e-12)

    def test_flat_surface_zero_slope(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_slope

        B = 4
        tiles = spark.createDataFrame(
            [(0, 0, [42.0] * (B * B),
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 4.0})],
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        out = focal_slope(tiles, cellsize=30.0, block=B).first()["px"]
        assert out == [0.0] * (B * B)


class TestHillshade:
    def test_flat_surface_uniform_shade(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_hillshade

        B = 4
        tiles = spark.createDataFrame(
            [(0, 0, [100.0] * (B * B),
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 4.0})],
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        out = focal_hillshade(tiles, cellsize=30.0, altitude_deg=45.0,
                              block=B).first()["px"]
        # flat terrain: shade = 255*cos(zenith) = 255*cos(45 deg) everywhere
        expect = 255.0 * np.cos(np.radians(45.0))
        np.testing.assert_allclose(out, [expect] * (B * B), rtol=1e-12)

    def test_shade_clamped_nonnegative(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_hillshade

        B = 4
        # steep slope facing AWAY from the light (azimuth 315 -> NW light;
        # surface rising to the NW gives a dark SE-facing... use extreme
        # gradient so raw shade would go negative
        cc, rr = np.meshgrid(np.arange(B), np.arange(B))
        v = (cc * 1000.0 + rr * 1000.0).ravel().tolist()
        tiles = spark.createDataFrame(
            [(0, 0, v,
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 4.0})],
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        out = focal_hillshade(tiles, cellsize=1.0, block=B).first()["px"]
        assert min(out) >= 0.0


class TestRadius2Halo:
    def test_gaussian_matches_full_raster(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_gaussian

        B, nx, ny = 8, 3, 3
        rows = []
        full = np.zeros((ny * B, nx * B))
        for by in range(ny):
            for bx in range(nx):
                cc, rr = np.meshgrid(np.arange(B), np.arange(B))
                v = (13 * (bx * B + cc) + 7 * (by * B + rr)) % 97
                full[by * B:(by + 1) * B, bx * B:(bx + 1) * B] = v
                rows.append((bx, by, v.astype(float).ravel().tolist(),
                             {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0,
                              "e": -1.0, "f": float(ny * B)}))
        tiles = spark.createDataFrame(
            rows,
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        pad = np.pad(full, 2, mode="edge")
        w1 = np.array([1.0, 4.0, 6.0, 4.0, 1.0])
        w = np.outer(w1, w1) / 256.0
        N = ny * B
        ref = sum(
            w[di, dj] * pad[di:di + N, dj:dj + N]
            for di in range(5) for dj in range(5)
        )
        got = np.zeros_like(full)
        for r in focal_gaussian(tiles, block=B).collect():
            got[
                r["block_y"] * B:(r["block_y"] + 1) * B,
                r["block_x"] * B:(r["block_x"] + 1) * B,
            ] = np.array(r["px"]).reshape(B, B)
        np.testing.assert_allclose(got, ref, atol=1e-12)

    def test_radius_bounds_enforced(self, spark):
        import pytest as _pytest

        from geocube_spark.operators.focal import focal_apply

        tiles = spark.createDataFrame(
            [(0, 0, [1.0] * 16,
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 4.0})],
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        with _pytest.raises(ValueError):
            focal_apply(tiles, lambda p: p, block=4, radius=4)
        with _pytest.raises(ValueError):
            focal_apply(tiles, lambda p: p, block=4, radius=0)


class TestAspect:
    def _plane(self, spark, zx_per_px, zy_per_px, B=4):
        import numpy as np

        cc, rr = np.meshgrid(np.arange(B), np.arange(B))
        v = (cc * zx_per_px + rr * zy_per_px).astype(float)
        return spark.createDataFrame(
            [(0, 0, v.ravel().tolist(),
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 4.0})],
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )

    def test_cardinal_directions(self, spark):
        from geocube_spark.operators.focal import focal_aspect

        # rises to the east (zx>0): downslope faces west -> 270
        west = focal_aspect(self._plane(spark, 1.0, 0.0), cellsize=1.0,
                            block=4).first()["px"]
        assert all(abs(a - 270.0) < 1e-9 for a in west)
        # rises downward in grid rows (south, zy>0): downslope faces north
        north = focal_aspect(self._plane(spark, 0.0, 1.0), cellsize=1.0,
                             block=4).first()["px"]
        assert all(abs(a - 0.0) < 1e-9 for a in north)

    def test_flat_is_minus_one(self, spark):
        from geocube_spark.operators.focal import focal_aspect

        flat = focal_aspect(self._plane(spark, 0.0, 0.0), cellsize=1.0,
                            block=4).first()["px"]
        assert flat == [-1.0] * 16


class TestZonalHypothesis:
    def test_random_zone_boxes_match_numpy(self, spark):
        import numpy as np

        from geocube_spark.operators.zonal import zonal_stats

        rng = np.random.default_rng(77)
        B, nx, ny = 4, 2, 2
        rows, full = [], np.zeros((ny * B, nx * B))
        for by in range(ny):
            for bx in range(nx):
                cc, rr = np.meshgrid(np.arange(B), np.arange(B))
                v = (13 * (bx * B + cc) + 7 * (by * B + rr)) % 97
                full[by * B:(by + 1) * B, bx * B:(bx + 1) * B] = v
                rows.append((bx, by, v.astype(float).ravel().tolist(),
                             {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0,
                              "e": -1.0, "f": float(ny * B)}))
        tiles = spark.createDataFrame(
            rows,
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        N = ny * B
        zone_rows = []
        expected = {}
        for z in range(12):
            x0, y0 = rng.integers(0, N, 2)
            w, h = rng.integers(1, N, 2)
            x1, y1 = min(N, x0 + w), min(N, y0 + h)
            # pixel rows y0..y1-1 -> CRS y in (N - y1, N - y0]
            zone_rows.append(
                (z, float(x0), float(N - y1), float(x1), float(N - y0))
            )
            win = full[y0:y1, x0:x1]
            expected[z] = (win.size, win.sum(), win.min(), win.max())
        zones = spark.createDataFrame(
            zone_rows,
            "zone_id int, xmin double, ymin double, xmax double, ymax double",
        )
        got = {r["zone_id"]: r for r in zonal_stats(tiles, zones, block=B).collect()}
        for z, (n, s_, mn, mx) in expected.items():
            r = got[z]
            assert (r["n_pixels"], r["sum_value"], r["min_value"],
                    r["max_value"]) == (n, s_, mn, mx), z


class TestMultibandPlaneIsolation:
    """Review fix: focal/zonal/sample must stay within each (band, level)
    plane — multiband input previously mixed planes nondeterministically."""

    def _two_band_tiles(self, spark, B=4):
        import numpy as np

        rows = []
        for band in (1, 2):
            cc, rr = np.meshgrid(np.arange(B), np.arange(B))
            v = (rr * B + cc + 100.0 * band).astype(float)
            rows.append((band, 0, 0, 0, v.ravel().tolist(),
                         {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0,
                          "e": -1.0, "f": 4.0}))
        return spark.createDataFrame(
            rows,
            "band int, level int, block_x long, block_y long, "
            "px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )

    def test_focal_per_band(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_mean

        B = 4
        tiles = self._two_band_tiles(spark, B)
        out = {r["band"]: np.array(r["px"]).reshape(B, B)
               for r in focal_mean(tiles, block=B).collect()}
        assert set(out) == {1, 2}
        for band in (1, 2):
            cc, rr = np.meshgrid(np.arange(B), np.arange(B))
            full = (rr * B + cc + 100.0 * band).astype(float)
            pad = np.pad(full, 1, mode="edge")
            ref = sum(pad[a:a + B, b:b + B]
                      for a in range(3) for b in range(3)) / 9.0
            np.testing.assert_allclose(out[band], ref, atol=1e-12)

    def test_zonal_per_band(self, spark):
        from geocube_spark.operators.zonal import zonal_stats

        tiles = self._two_band_tiles(spark)
        zones = spark.createDataFrame(
            [(0, 0.0, 0.0, 4.0, 4.0)],
            "zone_id int, xmin double, ymin double, xmax double, ymax double",
        )
        rows = {r["band"]: r for r in zonal_stats(tiles, zones, block=4).collect()}
        assert rows[1]["n_pixels"] == 16 and rows[2]["n_pixels"] == 16
        assert rows[2]["sum_value"] - rows[1]["sum_value"] == 1600.0

    def test_sample_points_per_band(self, spark):
        from geocube_spark.operators.focal import sample_points

        tiles = self._two_band_tiles(spark)
        pts = spark.createDataFrame([(1, 0.5, 3.5)],
                                    "point_id long, x double, y double")
        rows = {r["band"]: r["value"] for r in sample_points(
            tiles, pts, (1.0, 0.0, 0.0, 0.0, -1.0, 4.0), block=4
        ).collect()}
        assert rows == {1: 100.0, 2: 200.0}

    def test_sample_points_negative_blocks(self, spark):
        # pmod fix: a grid extending west/north of the origin (negative
        # global indices) must index the px array correctly
        from geocube_spark.operators.focal import sample_points

        B = 4
        tiles = spark.createDataFrame(
            [(-1, -1, [float(i) for i in range(16)],
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 0.0})],
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        # block (-1,-1) covers x in [-4,0), y in (0, 4]; pixel (gi=-3,
        # gj=-2) = in-block (col 1, row 2) = value 9; center (-2.5, 1.5)
        pts = spark.createDataFrame([(1, -2.5, 1.5)],
                                    "point_id long, x double, y double")
        out = sample_points(tiles, pts, (1.0, 0.0, 0.0, 0.0, -1.0, 0.0),
                            block=B).collect()
        assert out[0]["value"] == 9.0


class TestNanMeanKernel:
    def test_ignores_nodata_neighbors(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_apply, nan_mean_kernel

        B = 4
        v = np.arange(16.0)
        v[5] = np.nan  # interior nodata pixel
        tiles = spark.createDataFrame(
            [(0, 0, v.tolist(),
              {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0, "e": -1.0, "f": 4.0})],
            "block_x long, block_y long, px array<double>, "
            "pix_to_crs struct<a:double,b:double,c:double,d:double,e:double,f:double>",
        )
        out = np.array(
            focal_apply(tiles, nan_mean_kernel(), block=B).first()["px"]
        ).reshape(B, B)
        full = v.reshape(B, B)
        pad = np.pad(full, 1, mode="edge")
        for i in range(B):
            for j in range(B):
                win = pad[i:i + 3, j:j + 3]
                assert abs(out[i, j] - np.nanmean(win)) < 1e-12
        # the nodata CENTER still gets a value from its valid neighbors
        assert not np.isnan(out[1, 1])


class TestMorphology:
    def test_erode_dilate_extrema_semantics(self, spark):
        """A single bright pixel: dilation spreads it to the 3x3
        neighborhood, erosion removes it entirely (min filter)."""
        import numpy as np
        from pyspark.sql import functions as F

        from geocube_spark.operators.focal import focal_dilate, focal_erode

        block = 8
        px = np.zeros((block, block))
        px[4, 4] = 100.0
        df = spark.createDataFrame(
            [(0, 0, px.ravel().tolist())],
            "block_x int, block_y int, px array<double>",
        )
        er = np.array(
            focal_erode(df, block=block).first()["px"]
        ).reshape(block, block)
        di = np.array(
            focal_dilate(df, block=block).first()["px"]
        ).reshape(block, block)
        assert er.max() == 0.0                     # the speck is gone
        assert (di == 100.0).sum() == 9            # spread to the 3x3 box
        assert di[4, 4] == 100.0 and di[3, 3] == 100.0

    def test_opening_removes_speck_keeps_plateau(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import focal_dilate, focal_erode

        block = 16
        px = np.zeros((block, block))
        px[2, 2] = 50.0            # 1-px speck: opening erases it
        px[8:13, 8:13] = 70.0      # 5x5 plateau: opening keeps its interior
        df = spark.createDataFrame(
            [(0, 0, px.ravel().tolist())],
            "block_x int, block_y int, px array<double>",
        )
        opened = np.array(
            focal_dilate(focal_erode(df, block=block), block=block).first()["px"]
        ).reshape(block, block)
        assert opened[2, 2] == 0.0
        assert opened[10, 10] == 70.0


class TestSpatialClustering:
    def test_zorder_sort_within_interlace_groups(self, spark, tmp_path):
        """spatial_cluster=True: within each interlacing group, rows are
        physically ordered by the Morton key of (block_x, block_y)."""
        from pyspark.sql import functions as F

        from geocube_spark.functions.spatialkeys import zorder_expr
        from geocube_spark.operators.consolidation import consolidate_tiles

        rows = [
            ("cell0", b, bx, by, [float(bx * 10 + by)])
            for b in (1, 2)
            for bx in range(4)
            for by in range(4)
        ]
        tiles = spark.createDataFrame(
            rows, "cell_uri string, band int, block_x int, block_y int, px array<double>"
        ).withColumn("level", F.lit(0)).withColumn("record_id", F.lit("r0"))
        out = str(tmp_path / "consolidated")
        consolidate_tiles(tiles, "Z>B>T>R", out, spatial_cluster=True)
        back = spark.read.parquet(out)
        assert "z_order" in back.columns
        # per (band) group, the file order must be z-order monotone
        import pandas as pd

        pdf = back.toPandas()
        for b, grp in pdf.groupby("band"):
            zs = grp["z_order"].tolist()  # parquet preserves row order
            assert zs == sorted(zs)
        # and the z key itself matches the interleave definition
        row = back.filter((F.col("block_x") == 3) & (F.col("block_y") == 1)).first()
        assert row["z_order"] == 0b0111  # x=11, y=01 -> y1x1 y0x0 = 0111

    def test_interlacing_order_survives_partitioned_write(self, spark, tmp_path):
        """Regression: the partitioned writer's own grouping sort must not
        scramble the interlacing order inside a cell (it does unless the
        partition column leads the explicit sort)."""
        from pyspark.sql import functions as F

        from geocube_spark.operators.consolidation import consolidate_tiles

        rows = [
            ("cell0", b, bx, by, [0.0])
            for b in (2, 1)
            for bx in (1, 0)
            for by in (1, 0)
        ]
        tiles = spark.createDataFrame(
            rows, "cell_uri string, band int, block_x int, block_y int, px array<double>"
        ).withColumn("level", F.lit(0)).withColumn("record_id", F.lit("r0"))
        out = str(tmp_path / "plain")
        consolidate_tiles(tiles, "Z>B>T>R", out)
        pdf = spark.read.parquet(out).toPandas()
        keys = list(zip(pdf["band"], pdf["block_y"], pdf["block_x"]))
        assert keys == sorted(keys)  # file order == interlacing order


class TestTerrainIndices:
    def test_flat_surface_all_zero(self, spark):
        from geocube_spark.operators.focal import (
            focal_roughness,
            focal_tpi,
            focal_tri,
        )

        flat = spark.createDataFrame(
            [(0, 0, [5.0] * 64)], "block_x int, block_y int, px array<double>"
        )
        for fn in (focal_tri, focal_tpi, focal_roughness):
            px = fn(flat, block=8).first()["px"]
            assert all(v == 0.0 for v in px), fn.__name__

    def test_single_peak_values(self, spark):
        import numpy as np

        from geocube_spark.operators.focal import (
            focal_roughness,
            focal_tpi,
            focal_tri,
        )

        block = 8
        arr = np.zeros((block, block))
        arr[4, 4] = 8.0
        df = spark.createDataFrame(
            [(0, 0, arr.ravel().tolist())],
            "block_x int, block_y int, px array<double>",
        )
        tri = np.array(focal_tri(df, block=block).first()["px"]).reshape(block, block)
        tpi = np.array(focal_tpi(df, block=block).first()["px"]).reshape(block, block)
        rough = np.array(
            focal_roughness(df, block=block).first()["px"]
        ).reshape(block, block)
        # at the peak: all 8 neighbors are 0 -> TRI = 8, TPI = +8, rough = 8
        assert tri[4, 4] == 8.0 and tpi[4, 4] == 8.0 and rough[4, 4] == 8.0
        # adjacent to the peak: one neighbor is 8 -> TRI = 1, TPI = -1
        assert tri[4, 3] == 1.0 and tpi[4, 3] == -1.0 and rough[4, 3] == 8.0
        # far away: flat
        assert tri[0, 0] == 0.0 and rough[0, 0] == 0.0


class TestAdaptiveSpatialJoin:
    """operators/spatialjoin.adaptive_bbox_join: broadcast-BNLJ while the
    dim side is small, grid-bucketed equi-join when it outgrows the
    broadcast threshold — same results, no O(n*m) explosion at scale."""

    def _random_frames(self, spark, n_big=80, n_q=40, seed=7):
        import numpy as np
        from pyspark.sql import functions as F

        rng = np.random.default_rng(seed)
        big = [
            (i, float(x), float(y), float(x + w), float(y + h))
            for i, (x, y, w, h) in enumerate(
                zip(
                    rng.uniform(0, 100, n_big),
                    rng.uniform(0, 100, n_big),
                    rng.uniform(0.5, 8, n_big),
                    rng.uniform(0.5, 8, n_big),
                )
            )
        ]
        qs = [
            (j, float(x), float(y), float(x + w), float(y + h))
            for j, (x, y, w, h) in enumerate(
                zip(
                    rng.uniform(0, 100, n_q),
                    rng.uniform(0, 100, n_q),
                    rng.uniform(0.5, 15, n_q),
                    rng.uniform(0.5, 15, n_q),
                )
            )
        ]
        bdf = spark.createDataFrame(
            big, "bid int, x0 double, y0 double, x1 double, y1 double"
        )
        qdf = spark.createDataFrame(
            qs, "qid int, qx0 double, qy0 double, qx1 double, qy1 double"
        )
        return bdf, qdf

    def _pairs(self, spark, strategy, closed=True):
        from pyspark.sql import functions as F

        from geocube_spark.operators.spatialjoin import adaptive_bbox_join

        bdf, qdf = self._random_frames(spark)
        out = adaptive_bbox_join(
            bdf,
            qdf,
            big_box=(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")),
            q_box=(F.col("qx0"), F.col("qy0"), F.col("qx1"), F.col("qy1")),
            closed=closed,
            strategy=strategy,
        )
        return sorted((r["bid"], r["qid"]) for r in out.select("bid", "qid").collect())

    def test_bucketed_equals_broadcast(self, spark):
        assert self._pairs(spark, "bucketed") == self._pairs(spark, "broadcast")

    def test_bucketed_equals_broadcast_halfopen(self, spark):
        assert self._pairs(spark, "bucketed", closed=False) == self._pairs(
            spark, "broadcast", closed=False
        )

    def test_bucketed_plan_has_no_bnlj(self, spark):
        from pyspark.sql import functions as F

        from geocube_spark.operators.spatialjoin import adaptive_bbox_join

        bdf, qdf = self._random_frames(spark)
        out = adaptive_bbox_join(
            bdf,
            qdf,
            big_box=(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")),
            q_box=(F.col("qx0"), F.col("qy0"), F.col("qx1"), F.col("qy1")),
            strategy="bucketed",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_auto_flips_on_threshold(self, spark):
        # a dim side above the row threshold must pick the bucketed path
        from pyspark.sql import functions as F

        from geocube_spark.operators.spatialjoin import adaptive_bbox_join

        bdf, qdf = self._random_frames(spark)
        out = adaptive_bbox_join(
            bdf,
            qdf,
            big_box=(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")),
            q_box=(F.col("qx0"), F.col("qy0"), F.col("qx1"), F.col("qy1")),
            strategy="auto",
            threshold_rows=5,  # force "too big to broadcast"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        # below the threshold the broadcast plan is kept
        out2 = adaptive_bbox_join(
            bdf,
            qdf,
            big_box=(F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")),
            q_box=(F.col("qx0"), F.col("qy0"), F.col("qx1"), F.col("qy1")),
            strategy="auto",
            threshold_rows=10_000,
        )
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan2

    def test_zonal_bucketed_matches_broadcast(self, spark):
        from geocube_spark.operators.zonal import zonal_stats

        tiles = TestZonalStats._tiles(TestZonalStats(), spark)
        zones = spark.createDataFrame(
            [(0, 2.0, 2.0, 6.0, 6.0), (1, 0.0, 4.0, 4.0, 8.0)],
            "zone_id int, xmin double, ymin double, xmax double, ymax double",
        )
        def key(rows):
            return sorted(
                (r["zone_id"], r["n_pixels"], r["sum_value"]) for r in rows
            )

        a = key(zonal_stats(tiles, zones, block=4, strategy="broadcast").collect())
        b = key(zonal_stats(tiles, zones, block=4, strategy="bucketed").collect())
        assert a == b and len(a) == 2


class TestFeatherBlend:
    def _layers(self, spark, rows):
        return spark.createDataFrame(
            rows,
            "block_x int, block_y int, px array<double>, "
            "fp_x0 int, fp_x1 int, fp_y0 int, fp_y1 int",
        )

    def test_single_layer_identity(self, spark):
        from geocube_spark.operators.mosaic import feather_blend

        px = [float(i) for i in range(16)]
        out = feather_blend(
            self._layers(spark, [(0, 0, px, 0, 4, 0, 4)]), block=4
        ).collect()[0]["px_blend"]
        assert out == px  # weights cancel in n/d

    def test_outside_all_footprints_is_null(self, spark):
        from geocube_spark.operators.mosaic import feather_blend

        px = [1.0] * 16
        out = feather_blend(
            self._layers(spark, [(0, 0, px, 0, 2, 0, 4)]), block=4
        ).collect()[0]["px_blend"]
        # columns x=2,3 are outside the footprint -> nodata
        assert out[0] is not None and out[2] is None and out[3] is None

    def test_equal_weights_average(self, spark):
        from geocube_spark.operators.mosaic import feather_blend

        a = [10.0] * 16
        b = [20.0] * 16
        out = feather_blend(
            self._layers(
                spark, [(0, 0, a, 0, 4, 0, 4), (0, 0, b, 0, 4, 0, 4)]
            ),
            block=4,
        ).collect()[0]["px_blend"]
        assert all(v == 15.0 for v in out)  # identical footprints -> mean
