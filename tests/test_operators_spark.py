"""Operator tests against brute-force numpy/pandas oracles, on a real
SparkSession (SURVEY.md section 5 engine test plan, items 2-3)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark import codecs, geom, synth
from raster_tools_spark.grid import CELL_SIZE, GeoTransform, cell_of_xy
from raster_tools_spark.operators import knn, mosaic, pip, tile, zonal

TILES_AXIS = 64
N_IMAGES = 300
N_POLYS = 30


@pytest.fixture(scope="module")
def cells(spark):
    images = synth.images_df(spark, N_IMAGES, tiles_axis=TILES_AXIS)
    df = tile.assign_cells(images, tiles_axis=TILES_AXIS)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def polys(spark):
    df = synth.polygons_df(spark, N_POLYS, tiles_axis=TILES_AXIS)
    df.cache().count()
    return df


class TestAssign:
    def test_cell_keys_match_pure_python(self, cells):
        rows = cells.select("cx", "cy", "qk_r9", "qk_r11").collect()
        for r in rows:
            assert r.qk_r9 == int(cell_of_xy(r.cx, r.cy, 9))
            assert r.qk_r11 == int(cell_of_xy(r.cx, r.cy, 11))

    def test_center_inside_tile(self, cells):
        rows = cells.select("x0", "y_top", "cx", "cy", "w", "h").collect()
        for r in rows:
            assert r.x0 <= r.cx < r.x0 + r.w * CELL_SIZE
            assert r.y_top - r.h * CELL_SIZE < r.cy <= r.y_top


class TestPIPJoin:
    def _brute_force(self, cells, polys):
        pts = cells.select("image_id", "cx", "cy").toPandas()
        pp = polys.select("feat_id", "geom_wkb").toPandas()
        expect = set()
        for p in pp.itertuples():
            inside = geom.points_in_wkb(
                pts["cx"].to_numpy(), pts["cy"].to_numpy(), bytes(p.geom_wkb)
            )
            for img in pts["image_id"].to_numpy()[inside]:
                expect.add((img, p.feat_id))
        return expect

    def test_matches_brute_force(self, spark, cells, polys):
        got = set(
            (r.image_id, r.feat_id)
            for r in pip.pip_join(cells, polys)
            .select("image_id", "feat_id")
            .collect()
        )
        assert got == self._brute_force(cells, polys)

    def test_join_res_invariance(self, spark, cells, polys):
        r9 = set(
            (r.image_id, r.feat_id)
            for r in pip.pip_join(cells, polys, join_res=9)
            .select("image_id", "feat_id").collect()
        )
        r8 = set(
            (r.image_id, r.feat_id)
            for r in pip.pip_join(cells, polys, join_res=8)
            .select("image_id", "feat_id").collect()
        )
        assert r9 == r8


class TestZonal:
    def test_matches_numpy_oracle(self, spark, cells, polys):
        got = {
            r.feat_id: r
            for r in zonal.zonal_stats(cells, polys).collect()
        }
        # oracle: decode every image, mask per polygon, numpy stats
        imgs = cells.select(
            "image_id", "bytes", "fmt", "x0", "y_top", "w", "h"
        ).toPandas()
        pp = polys.select("feat_id", "geom_wkb").toPandas()
        checked = 0
        for p in pp.itertuples():
            vals, size = [], 0
            env = geom.envelope(bytes(p.geom_wkb))
            for t in imgs.itertuples():
                ix1, ix2 = t.x0, t.x0 + t.w * CELL_SIZE
                iy1, iy2 = t.y_top - t.h * CELL_SIZE, t.y_top
                if ix2 <= env[0] or ix1 >= env[1] or iy2 <= env[2] or iy1 >= env[3]:
                    continue
                px = codecs.decode(bytes(t.bytes), t.fmt)
                gt = GeoTransform((t.x0, CELL_SIZE, 0, t.y_top, 0, -CELL_SIZE))
                m = geom.rasterize_mask(bytes(p.geom_wkb), gt, t.h, t.w)
                size += int(m.sum())
                sel = px[m]
                vals.append(sel[sel != 255])
            if size == 0:
                assert p.feat_id not in got
                continue
            data = (
                np.concatenate(vals) if vals else np.array([], dtype=np.uint8)
            )
            row = got[p.feat_id]
            assert row.size == size
            assert row.cnt == data.size
            if data.size:
                assert row.mn == float(data.min())
                assert row.mx == float(data.max())
                np.testing.assert_allclose(
                    row.mean, data.mean(), rtol=1e-12
                )
                np.testing.assert_allclose(
                    row.median, np.percentile(data, 50), rtol=1e-12
                )
                np.testing.assert_allclose(
                    row.p75, np.percentile(data, 75), rtol=1e-12
                )
                np.testing.assert_allclose(
                    row.std, data.astype(np.float64).std(), rtol=1e-9
                )
                checked += 1
        assert checked >= 5  # the fixture must actually exercise stats

    def test_percentile_from_hist_matches_numpy(self, spark):
        """Random data plus n = 1, a single occupied bin and bins at both
        ends of the u8 range; an empty histogram gives NaN."""
        rng = np.random.default_rng(3)
        datas = [rng.integers(0, 256, size=rng.integers(1, 500))
                 for _ in range(20)]
        datas += [np.array([0]), np.array([255]), np.array([17]),
                  np.full(40, 200), np.array([0, 255]),
                  np.array([0, 0, 255, 255, 255])]
        hists = [np.bincount(d, minlength=256) for d in datas]
        hists.append(np.zeros(256, np.int64))
        qs = (25, 50, 75, 90)
        df = spark.createDataFrame(
            [(i, h.tolist()) for i, h in enumerate(hists)],
            "i int, hist array<bigint>",
        )
        rows = df.select("i", *[
            zonal.percentile_from_hist(F.col("hist"), q).alias(f"q{q}")
            for q in qs
        ]).orderBy("i").collect()
        for data, r in zip(datas, rows):
            for q in qs:
                np.testing.assert_allclose(
                    r[f"q{q}"], np.percentile(data, q), rtol=1e-12,
                )
        assert all(np.isnan(rows[-1][f"q{q}"]) for q in qs)


class TestMosaic:
    def test_merge_last_wins(self, spark):
        pdf = pd.DataFrame(
            {
                "cell_id": [1, 1, 1, 2, 2, 3],
                "layer": [0, 1, 2, 0, 1, 0],
                "value": [10.0, None, 30.0, 5.0, None, None],
            }
        )
        df = spark.createDataFrame(pdf)
        got = {
            r.cell_id: (r.value, r.top_layer)
            for r in mosaic.merge_last_wins(df).collect()
        }
        # cell 1: layer 2 active wins; cell 2: layer 1 null -> layer 0
        assert got[1] == (30.0, 2)
        assert got[2] == (5.0, 0)
        assert 3 not in got  # all-nodata cell drops (skip-empty P2)

    def test_rebase(self, spark):
        base = spark.createDataFrame(
            pd.DataFrame({"cell_id": [1, 2, 3], "value": [1.0, 2.0, 3.0]})
        )
        update = spark.createDataFrame(
            pd.DataFrame({"cell_id": [1, 2, 4], "value": [1.0, 9.0, 4.0]})
        )
        got = {r.cell_id: r.value for r in mosaic.rebase(base, update).collect()}
        assert got == {2: 9.0, 4: 4.0}  # unchanged cell 1 masked out


def _knn_brute_force(queries_pdf, candidates_pdf, k):
    """Exact kNN via the full distance matrix (numpy)."""
    qx = queries_pdf[["cx", "cy"]].to_numpy()
    cx = candidates_pdf[["cx", "cy"]].to_numpy()
    d = np.sqrt(((qx[:, None, :] - cx[None, :, :]) ** 2).sum(axis=2))
    rows = []
    cids = candidates_pdf["cid"].to_numpy()
    for qi, qid in enumerate(queries_pdf["qid"].to_numpy()):
        order = np.lexsort((cids, d[qi]))[:k]
        for rn, ci in enumerate(order, 1):
            rows.append((qid, cids[ci], float(d[qi, ci]), rn))
    return pd.DataFrame(rows, columns=["qid", "cid", "dist", "rn"])


class TestKNN:
    def test_matches_brute_force(self, spark):
        rng = np.random.default_rng(11)
        n = 150
        from raster_tools_spark.grid import WORLD_TOP
        xs = rng.uniform(0, 4000, n)
        ys = WORLD_TOP - rng.uniform(0, 4000, n)
        pdf = pd.DataFrame(
            {"pid": np.arange(n), "cx": xs, "cy": ys}
        )
        pdf["cell"] = [int(cell_of_xy(x, y, 9)) for x, y in zip(xs, ys)]
        df = spark.createDataFrame(pdf)
        q = df.selectExpr("pid as qid", "cx", "cy", "cell")
        c = df.selectExpr("pid as cid", "cx", "cy", "cell")
        got = (
            knn.knn_join(q, c, k=3)
            .toPandas()
            .sort_values(["qid", "rn"])
            .reset_index(drop=True)
        )
        exp = _knn_brute_force(
            pdf.rename(columns={"pid": "qid"}),
            pdf.rename(columns={"pid": "cid"}),
            k=3,
        )
        assert len(got) == len(exp)
        merged = got.merge(exp, on=["qid", "rn"], suffixes=("_g", "_e"))
        # distances must agree exactly (ties may swap equal-distance ids)
        np.testing.assert_allclose(
            merged["dist_g"], merged["dist_e"], rtol=1e-12
        )


class TestManifestResume:
    def test_anti_join_resume(self, spark, tmp_path):
        from raster_tools_spark import manifest as mf

        out_dir = str(tmp_path / "out")
        man_dir = str(tmp_path / "manifest")
        work = spark.range(0, 100).select(
            (F.col("id") % 10).alias("unit"), F.col("id").alias("v")
        )

        def process(df):
            return df.withColumn("v2", F.col("v") * 2)

        inc1 = mf.run_with_manifest(
            spark, work.filter(F.col("unit") < 5), "unit", process,
            out_dir, man_dir, "job1",
        )
        assert inc1.count() == 5
        # second run with the full work list: only units 5-9 pending
        inc2 = mf.run_with_manifest(
            spark, work, "unit", process, out_dir, man_dir, "job1"
        )
        assert sorted(r.unit for r in inc2.collect()) == [5, 6, 7, 8, 9]
        # idempotent third run: nothing pending
        inc3 = mf.run_with_manifest(
            spark, work, "unit", process, out_dir, man_dir, "job1"
        )
        assert inc3.count() == 10  # returns full manifest, no new work
        # output complete and not duplicated
        assert spark.read.parquet(out_dir).count() == 100
        man = mf.read_manifest(spark, man_dir)
        assert man.count() == 10
        assert man.agg(F.sum("rows")).first()[0] == 100


class TestZonalExpr:
    def test_expr_and_range_frac(self, spark, cells, polys):
        got = {
            r.feat_id: r
            for r in zonal.zonal_stats(
                cells, polys, expr="clip(v * 2.0, 0, 400)",
                range_frac=(100, 160),
            ).collect()
        }
        base = {
            r.feat_id: r for r in zonal.zonal_stats(cells, polys).collect()
        }
        for fid, r in got.items():
            b = base[fid]
            if b.cnt == 0:
                continue
            # mean of clip(2v) vs raw mean: equal when no clipping binds
            if b.mx * 2.0 <= 400.0:
                np.testing.assert_allclose(r.mean, 2.0 * b.mean, rtol=1e-12)
            assert 0.0 <= r.frac_in_range <= 1.0

    def test_expr_whitelist_rejects(self):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            zonal.eval_band_expr("__import__('os')", np.arange(3))
        with _pytest.raises(ValueError):
            zonal.eval_band_expr("v.__class__", np.arange(3))

    def test_rgb_expr_whitelist_rejects(self):
        """The rgb entry point shares the band checker: builtins,
        dunder attributes and non-whitelisted np calls are rejected
        before eval; a whitelisted calculation runs."""
        r, g, b = (np.arange(k, k + 4, dtype=np.int64) for k in (0, 2, 5))
        for bad in ("__import__('os')", "r.__class__",
                    "np.save('x', r)", "np.mean(r).__class__",
                    "open('x')"):
            with pytest.raises(ValueError):
                zonal.eval_rgb_expr(bad, r, g, b)
        assert zonal.eval_rgb_expr("np.mean(3.0 * g - r - b)", r, g, b) == (
            float(np.mean(3.0 * g - r - b))
        )
