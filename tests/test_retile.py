"""Retile assembly tests: window placement via the reference's grid
math, last-wins merge, skip-empty, manifest resume."""

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from raster_tools_spark import codecs, synth
from raster_tools_spark.grid import (
    CELL_SIZE,
    TILE_SIZE,
    WORLD_TOP,
    cell_of_xy,
)
from raster_tools_spark.operators import retile as op_retile
from raster_tools_spark.operators import tile as op_tile


def _mk_images(spark, specs):
    """specs: list of (image_id, tx, ty, w, h, fill_value)."""
    rows = []
    for image_id, tx, ty, w, h, val in specs:
        px = np.full((h, w), val, dtype=np.uint8)
        rows.append(
            (
                image_id,
                codecs.png_encode(px),
                w,
                h,
                "png",
                f"cap {image_id}",
                0,
                tx * TILE_SIZE,
                WORLD_TOP - ty * TILE_SIZE,
            )
        )
    pdf = pd.DataFrame(
        rows,
        columns=[
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "x0", "y_top",
        ],
    )
    return spark.createDataFrame(pdf)


class TestRetile:
    def test_assemble_partial_and_merge(self, spark):
        # two images on the same tile anchor: a full 256 tile of 10s,
        # then a 100x100 patch of 20s -> patch wins where active
        images = _mk_images(
            spark,
            [
                ("img_a", 3, 4, 256, 256, 10),
                ("img_b", 3, 4, 100, 100, 20),
            ],
        )
        out = op_retile.retile(images).collect()
        assert len(out) == 1
        t = out[0]
        px = codecs.png_decode(bytes(t.bytes))
        assert px.shape == (256, 256)
        assert (px[:100, :100] == 20).all()      # later image_id wins
        assert (px[100:, :] == 10).all()
        assert (px[:100, 100:] == 10).all()
        assert t.n_sources == 2
        assert t.active_px == 256 * 256

    def test_partial_tile_padded_with_nodata(self, spark):
        images = _mk_images(spark, [("img_c", 7, 7, 100, 250, 30)])
        out = op_retile.retile(images).collect()
        assert len(out) == 1
        px = codecs.png_decode(bytes(out[0].bytes))
        assert (px[:250, :100] == 30).all()
        assert (px[:, 100:] == 255).all()        # nodata pad
        assert out[0].active_px == 100 * 250

    def test_nodata_only_tile_skipped(self, spark):
        images = _mk_images(spark, [("img_d", 2, 2, 64, 64, 255)])
        assert op_retile.retile(images).count() == 0

    def test_tile_anchor_matches_grid(self, spark):
        images = _mk_images(spark, [("img_e", 5, 9, 256, 256, 40)])
        t = op_retile.retile(images).collect()[0]
        assert t.x0 == 5 * TILE_SIZE
        assert t.y_top == WORLD_TOP - 9 * TILE_SIZE
        assert t.cell_id == int(
            cell_of_xy(t.x0 + 1.0, t.y_top - 1.0, 10)
        )

    def test_retile_job_resume(self, spark, tmp_path):
        images = synth.images_df(spark, 60, tiles_axis=16)
        cells = op_tile.assign_cells(images, tiles_axis=16)
        out_dir = str(tmp_path / "tiles")
        man_dir = str(tmp_path / "manifest")

        inc1 = op_retile.retile_job(spark, cells, out_dir, man_dir)
        n_units = inc1.count()
        assert n_units > 0
        total1 = spark.read.parquet(out_dir).count()

        # idempotent replay: no new units, output unchanged
        inc2 = op_retile.retile_job(spark, cells, out_dir, man_dir)
        assert spark.read.parquet(out_dir).count() == total1
        assert inc2.count() == n_units
        assert len(_parquet_files(man_dir)) == 1  # the replay commits nothing

        # every output tile decodes and carries active pixels
        sample = spark.read.parquet(out_dir).limit(5).collect()
        for r in sample:
            px = codecs.png_decode(bytes(r.bytes))
            assert px.shape == (256, 256)
            assert (px != 255).sum() == r.active_px

    def test_retile_job_crash_replay(self, spark, tmp_path):
        """A crash between the output write and the manifest commit
        (simulated by deleting the manifest): the replay rewrites every
        unit in place and re-commits identical (unit, rows, bytes).  A
        unit whose tiles are all skip-empty still records rows=0.  Each
        unit's output is one parquet file and each commit one manifest
        file (every file created costs a local-filesystem chmod)."""
        tx = 40  # r7 unit outside the 16x16-tile synth extent
        blank_unit = int(cell_of_xy(tx * TILE_SIZE + 1.0,
                                    WORLD_TOP - tx * TILE_SIZE - 1.0, 7))
        cells = op_tile.assign_cells(
            synth.images_df(spark, 60, tiles_axis=16), tiles_axis=16
        )
        blank = _mk_images(spark, [("img_blank", tx, tx, 64, 64, 255)])
        cells = cells.unionByName(
            blank.withColumn("qk_r7", F.lit(blank_unit)),
            allowMissingColumns=True,
        )
        units = {r[0] for r in cells.select("qk_r7").distinct().collect()}
        out_dir = str(tmp_path / "tiles")
        man_dir = str(tmp_path / "manifest")

        def state():
            out = spark.read.parquet(out_dir)
            ids = [r[0] for r in out.select("cell_id").collect()]
            assert len(ids) == len(set(ids))  # no duplicate tiles
            shas = sorted(r[0] for r in out.select(F.sha2("bytes", 256))
                          .collect())
            man = sorted(tuple(r) for r in spark.read.parquet(man_dir)
                         .select("unit", "rows", "bytes").collect())
            unit_dirs = [d for d in os.listdir(out_dir)
                         if d.startswith("_unit=")]
            assert unit_dirs and all(
                len(_parquet_files(os.path.join(out_dir, d))) == 1
                for d in unit_dirs
            ), {d: os.listdir(os.path.join(out_dir, d)) for d in unit_dirs}
            assert len(_parquet_files(man_dir)) == 1
            return len(ids), shas, man

        op_retile.retile_job(spark, cells, out_dir, man_dir)
        first = state()
        assert {u for u, _, _ in first[2]} == units
        assert (blank_unit, 0, 0) in first[2]

        shutil.rmtree(man_dir)
        op_retile.retile_job(spark, cells, out_dir, man_dir)
        assert state() == first


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]
