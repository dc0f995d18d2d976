"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship workload is the BASELINE.json metric: tiles+PIP-join --
synthetic image tiles (written once to a parquet cache, so the timed
run reads parquet like a production scan), cell assignment, two-phase
PIP join against a polygon layer with hot polygons, zonal aggregation.
``tiles_pip_rows_per_sec`` reports its throughput.

Usage: python bench.py [--images N] [--no-flagship]
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_CACHE = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/rts_bench_cache")


def _flagship_images(spark, n_images: int, tiles_axis: int):
    """Synth image table, parquet-cached so the timed path is a scan."""
    from raster_tools_spark import synth

    path = f"{BENCH_CACHE}/images_n{n_images}_ax{tiles_axis}"
    if not os.path.isdir(path):
        synth.images_df(spark, n_images, tiles_axis=tiles_axis).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def run_bench(spark, sf_dir: str, n_images: int = 20000,
              flagship: bool = True):
    from pyspark.sql import functions as F

    from raster_tools_spark import queries as Q, synth
    from raster_tools_spark.operators import pip as op_pip
    from raster_tools_spark.operators import tile as op_tile
    from raster_tools_spark.operators import zonal as op_zonal

    qcat = Q.queries()
    timings = {}
    extras = {}

    def timed(name, fn, repeats: int = 2):
        """Best-of-N timing: the first run of any Python-UDF stage pays
        one-off worker spinup + page-cache + JIT warmup (measured 3-6x
        inflation); the min is the steady-state number."""
        best = None
        n = None
        for _ in range(repeats):
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        return n

    if flagship:
        tiles_axis = 256
        images = _flagship_images(spark, n_images, tiles_axis)
        polys = synth.polygons_df(spark, 200, tiles_axis=tiles_axis)
        polys.cache().count()

        def flagship_fn():
            cells = op_tile.assign_cells(images, tiles_axis=tiles_axis)
            pairs = op_pip.pip_join(cells, polys)
            # zonal-style aggregation over the join output
            return pairs.groupBy("feat_id").agg(
                F.count(F.lit(1)).alias("n"),
            ).count()

        n_feats = timed("flagship_tiles_pip", flagship_fn, repeats=3)
        extras["flagship_images"] = n_images
        extras["flagship_pip_feats"] = n_feats
        extras["tiles_pip_rows_per_sec"] = round(
            n_images / timings["flagship_tiles_pip"], 1
        )

        def zonal_fn():
            cells = op_tile.assign_cells(images, tiles_axis=tiles_axis)
            return op_zonal.zonal_stats(cells, polys).count()

        timed("flagship_zonal_pixels", zonal_fn, repeats=3)

        def enhance_fn():
            from raster_tools_spark.functions import image_enhance

            return image_enhance.box_blur_stats(images).count()

        timed("image_box_blur_full", enhance_fn, repeats=2)
        extras["box_blur_images_per_sec"] = round(
            n_images / timings["image_box_blur_full"], 1
        )

    for name in (
        "grid_assign",
        "pip_rect",
        "zonal_rect",
        "quad_rollup",
        "mosaic_merge",
        "minhash_lsh",
        "cosine_topk",
        "token_quality",
        "streaming_window_batch",
        # round-2 operators
        "retile_tiles",
        "floor_level",
        "mask_difference",
        "lsh_ann",
        "dedup_clusters",
        "xyz_bin",
        "sessionize",
        "ivf_ann",
        # round-2 continuation operators
        "upstream_levels",
        "grid_linear",
        "roof_grid",
        "fix_nodata",
        "flow_direction_f4",
        "flow_accumulation_f4",
        "remote_extract",
        # round-3 operators
        "jdbc_reclass",
        "shadow_march_towers",
        "difference_rings",
        "contamination",
        "pack_sequences",
        "curation_pipeline",
        # round-4 operators
        "difference_convex",
        "difference_star",
        "difference_general",
        "union_exact",
        "difference_multi",
        "srs_transform",
        "multimodal_curation",
        "simhash_near_dup",
        "repetition_quality",
        "oov_quality",
        "pii_redaction",
        "asof_rates",
        "kmv_users",
        # round-5 operators
        "asof_bucketed",
        "difference_overlap",
        "flow_direction",
        "flow_accumulation",
        "contour_footprint",
        "difference_polygons",
        "fill_voids",
        "cm_heavy",
        "srs_webmerc",
        "srs_utm",
        "hll_users",
        "bm25_rank",
        "line_dedup",
        "bloom_semijoin",
        "grouped_quantile",
        "kmv_setops",
        "box_blur",
        "sobel_edges",
        "quadtree_compress",
        "hist_equalize",
        "otsu_threshold",
        "rle_stats",
        "simplify_vw",
        "poly_centroid",
        "morph_gradient",
        "hist_match",
        "span_dedup",
        "pagerank",
        "text_clean",
        "aspect_class",
        "streaming_image_stats",
        "interval_union",
        "contrast_stretch",
        "funnel",
        "priority_sample",
        # round-5 late batch
        "rollup_agg",
        "pivot_wide",
        "gap_fill",
        "triangle_count",
        "fuzzy_dedup",
        "image_moments",
        "ssd_match",
        "blob_label",
        "cohort_retention",
        "skyline",
        "event_transitions",
        "unpivot_long",
    ):
        fn = qcat[name]
        timed(name, lambda fn=fn: fn(spark, sf_dir).count())

    total = round(sum(timings.values()), 3)
    return {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        **extras,
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    n_images = 20000
    flagship = True
    args = sys.argv[1:]
    if "--images" in args:
        n_images = int(args[args.index("--images") + 1])
    if "--no-flagship" in args:
        flagship = False

    from raster_tools_spark.session import get_spark

    spark = get_spark(master=f"local[{cpus}]", app_name="bench")
    try:
        result = run_bench(spark, sf_dir, n_images=n_images,
                           flagship=flagship)
        result["cpus"] = int(cpus)
        print(json.dumps(result))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
