"""Physical-plan audit: capture .explain('formatted') for the headline
queries and assert the plan properties that matter at 100 TB --
predicate pushdown, column pruning, broadcast joins where intended, no
gratuitous exchanges.  Writes docs/PLANS.md.

Usage: python tools/plan_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

# import the package of the checkout this file lives in
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def qcat_polys_small(spark):
    from raster_tools_spark.queries import _zrect_polygons

    return _zrect_polygons(spark, SF)


def qcat_polys_rect(spark):
    from raster_tools_spark.queries import _rect_polygons

    return _rect_polygons(spark, SF)


def main():
    from pyspark.sql import functions as F

    from raster_tools_spark import queries as Q, synth
    from raster_tools_spark.operators import tile as op_tile, zonal as op_zonal
    from raster_tools_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="plan_audit")
    qcat = Q.queries()
    sections = []
    failures = []

    def audit(name, df, checks):
        plan = df if isinstance(df, str) else plan_of(df)
        results = []
        for desc, pred in checks:
            ok = pred(plan)
            results.append((desc, ok))
            if not ok:
                failures.append(f"{name}: {desc}")
        sections.append((name, plan, results))

    # 1. scan pushdown + pruning: filter on a driver table
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    pruned = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_quantity"
    )
    audit(
        "scan_pushdown",
        pruned,
        [
            ("filter pushed to scan", lambda p: "PushedFilters: [IsNotNull(l_shipdate)" in p),
            ("columns pruned to 3", lambda p: re.search(
                r"ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate:timestamp", p) is not None),
        ],
    )

    # 2. reclass LUT join must be broadcast (dimension table)
    audit(
        "reclass_lut_broadcast",
        qcat["reclass_lut"](spark, SF),
        [("BroadcastHashJoin used", lambda p: "BroadcastHashJoin" in p)],
    )

    # 3. anti-join resume stays a broadcast/shuffle HASH join (no NL)
    audit(
        "antijoin_resume",
        qcat["antijoin_resume"](spark, SF),
        [
            ("hash anti join", lambda p: "LeftAnti" in p),
            ("no nested loop", lambda p: "NestedLoop" not in p
             or "BroadcastNestedLoopJoin" not in p.split("LeftAnti")[0]),
        ],
    )

    # 4. grid_assign: pure map -- no Exchange anywhere
    audit(
        "grid_assign_no_shuffle",
        qcat["grid_assign"](spark, SF),
        [("no exchange in plan", lambda p: "Exchange" not in p)],
    )

    # 5. zonal (broadcast path): image side never shuffled before the
    # partials UDF -- exactly one Exchange (the final tiny groupBy)
    images = synth.images_df(spark, 50, tiles_axis=16)
    cells = op_tile.assign_cells(images, tiles_axis=16)
    polys = synth.polygons_df(spark, 10, tiles_axis=16)
    zdf = op_zonal.zonal_stats(cells, polys)
    audit(
        "zonal_broadcast_path",
        zdf,
        [
            ("polygon side broadcast", lambda p: "BroadcastHashJoin" in p),
            (
                "single shuffle (final agg only)",
                lambda p: len(re.findall(r"[+:]- Exchange ", p)) == 1,
            ),
            ("partials merged by JVM aggregates (no grouped-pandas "
             "stage)", lambda p: "FlatMapGroupsInPandas" not in p),
        ],
    )

    # 5b. floor_level: same broadcast shape as zonal -- the image side
    # is never shuffled; the only exchange carries histograms
    fl = op_zonal.floor_level(
        synth.linear_images_df(spark, 40),
        qcat_polys_small(spark),
    )
    audit(
        "floor_level_broadcast_path",
        fl,
        [
            ("polygon side broadcast", lambda p: "BroadcastHashJoin" in p),
            (
                "single shuffle (final agg only)",
                lambda p: len(re.findall(r"[+:]- Exchange ", p)) == 1,
            ),
            ("histograms merged by JVM aggregates (no grouped-pandas "
             "stage)", lambda p: "FlatMapGroupsInPandas" not in p),
        ],
    )

    # 5b-bis. rgb_zonal: the same candidate join -- the image side is
    # never shuffled; the only exchange groups the band-vector partials
    audit(
        "rgb_zonal_broadcast_path",
        qcat["rgb_zonal"](spark, SF),
        [
            ("polygon side broadcast", lambda p: "BroadcastHashJoin" in p),
            (
                "single shuffle (final group only)",
                lambda p: len(re.findall(r"[+:]- Exchange ", p)) == 1,
            ),
        ],
    )

    # 5c. lsh_ann: the candidate join is an EQUI-join on the signature
    # bucket -- never a cross join (the shape that survives 10^12 rows)
    audit(
        "lsh_ann_bucket_equijoin",
        qcat["lsh_ann"](spark, SF),
        [
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
            (
                # r6: the within-bucket self-join became a grouped
                # Arrow batch per (band, sig) bucket with local top-k
                # -- same bucketed candidate model, no all-pair rows
                "bucketed scoring (grouped per (band, sig))",
                lambda p: "FlatMapGroupsInPandas" in p,
            ),
        ],
    )

    # 5d. xyz_bin: text parse stays whole-stage codegen; the envelope
    # is a broadcast 1-row aggregate, the bin reduce one hash agg
    audit(
        "xyz_bin_codegen",
        qcat["xyz_bin"](spark, SF),
        [
            ("hash aggregate bins", lambda p: "HashAggregate" in p),
            ("no python row UDF", lambda p: "BatchEvalPython" not in p),
        ],
    )

    # 5e. retile: exactly one exchange (the groupBy(cell) assembling
    # reducer); the image scan is never shuffled twice
    from raster_tools_spark.operators import retile as op_retile

    rt_cells = op_tile.assign_cells(
        synth.images_df(spark, 30, tiles_axis=8), tiles_axis=8
    )
    rt = op_retile.retile(rt_cells)
    audit(
        "retile_single_shuffle",
        rt,
        [
            (
                "single exchange",
                lambda p: len(re.findall(r"[+:]- Exchange ", p)) == 1,
            ),
        ],
    )

    # 5f. upstream: polygon pairing is broadcast; samples are grouped
    # per cell (collect_list) BEFORE the tile join so tile bytes cross
    # the exchange once per cell, never once per sample
    audit(
        "upstream_cell_grouped",
        qcat["upstream_levels"](spark, SF),
        [
            ("polygon pairing broadcast", lambda p: "BroadcastHashJoin" in p),
            ("samples grouped per cell pre-join",
             lambda p: "collect_list" in p),
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5g. grid_linear: sampler map + ONE exchange (the per-feature
    # triangulation group)
    audit(
        "grid_linear_single_shuffle",
        qcat["grid_linear"](spark, SF),
        [
            (
                "single exchange",
                lambda p: len(re.findall(r"[+:]- Exchange ", p)) == 1,
            ),
        ],
    )

    # 5h. fix_nodata: pure map over the image table -- no shuffle
    audit(
        "fix_nodata_no_shuffle",
        qcat["fix_nodata"](spark, SF),
        [("no exchange in plan", lambda p: "Exchange" not in p)],
    )

    # 5i. stratified_sample: the quota filter is whole-stage-codegen
    # JVM expressions on the scan -- no Python, no shuffle
    audit(
        "stratified_sample_codegen",
        qcat["stratified_sample"](spark, SF),
        [
            ("no exchange in plan", lambda p: "Exchange" not in p),
            ("no python UDF", lambda p: "EvalPython" not in p),
            ("columns pruned", lambda p: "doc_id" in p),
        ],
    )

    # 5j. jdbc dim source (S6): the attribute filter must be pushed
    # into the remote query (PostGIS pushdown semantics on Derby)
    audit(
        "jdbc_pushdown",
        qcat["jdbc_reclass"](spark, SF),
        [
            ("JDBC relation scanned", lambda p: "JDBCRelation" in p),
            ("filter pushed to the database",
             lambda p: "LessThanOrEqual(hi,60)" in p),
            ("dim side broadcast", lambda p: "BroadcastNestedLoopJoin"
             in p or "BroadcastHashJoin" in p),
        ],
    )

    # 5k. mask_difference: layer 2 pre-aggregated to one list-row per
    # cell BEFORE the join (round-2 verdict's |l1|x|l2| blowup fix) --
    # the join emits one row per (feature, cell), never per candidate
    audit(
        "mask_difference_preagg",
        qcat["mask_difference"](spark, SF),
        [
            ("layer-2 collected per cell pre-join",
             lambda p: "collect_list" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5l. pip phase N: the envelope predicate rides the cell equi-join
    # JVM-side, so boundary-cell candidates are dropped before the
    # Arrow refine stage ever sees them
    audit(
        "pip_bbox_prefilter",
        qcat["pip_rect"](spark, SF),
        [
            ("envelope predicate in the join",
             lambda p: "_ex1" in p and "_ey1" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5m. contamination: the eval shingle set is broadcast -- the
    # (100 TB) training side is hash-joined map-side and aggregated
    # once; no shuffle of raw shingles
    audit(
        "contamination_broadcast",
        qcat["contamination"](spark, SF),
        [
            ("eval side broadcast", lambda p: "BroadcastHashJoin" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5n. simhash_near_dup: banded candidates via equi-join on
    # (band, slice); popcount filter JVM-side, never all-pairs
    audit(
        "simhash_band_equijoin",
        qcat["simhash_near_dup"](spark, SF),
        [
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
            ("equi-join candidates",
             lambda p: "SortMergeJoin" in p or "HashJoin" in p),
            ("no python UDF", lambda p: "EvalPython" not in p),
        ],
    )

    # 5o. srs_transform: the layer reprojection is ONE Arrow-batched
    # UDF over the scan -- zero exchanges before the envelope project
    from raster_tools_spark.operators import srs as op_srs
    from raster_tools_spark import wkb as wkbmod
    import pandas as pd

    layer = spark.createDataFrame(
        pd.DataFrame(
            [(k, wkbmod.box_wkb(k * 10.0, 0.0, k * 10.0 + 4.0, 4.0))
             for k in range(16)],
            columns=["feat_id", "geom_wkb"],
        )
    )
    audit(
        "srs_transform_no_shuffle",
        op_srs.transform_layer(
            layer, src=(0.0, -2.0, 1000.0, 2.0, 0.0, 500.0)
        ),
        [
            ("no exchange at all", lambda p: "Exchange" not in p),
            ("one Arrow UDF stage", lambda p: "ArrowEvalPython" in p),
        ],
    )

    # 5o-bis. curvilinear SRS (geographic->projected): same shuffle-free
    # contract as the planar path -- a 10^12-row layer reprojects with
    # scan partitioning as the execution partitioning
    audit(
        "srs_curvilinear_no_shuffle",
        op_srs.transform_layer_curvilinear(layer, "geodetic->utm"),
        [
            ("no exchange at all", lambda p: "Exchange" not in p),
            ("one Arrow UDF stage", lambda p: "ArrowEvalPython" in p),
        ],
    )

    # 5p. banded hamming joins (image/audio/multimodal shape): the
    # popcount filter must sit BELOW the final dedup aggregate, so the
    # dedup exchange carries only true near-dups
    audit(
        "banded_hamming_filter_before_dedup",
        qcat["multimodal_curation"](spark, SF),
        [
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
            ("popcount filter in plan", lambda p: "bit_count" in p),
            ("no python UDF", lambda p: "EvalPython" not in p),
        ],
    )

    # 5q. convex exact difference rides the same pinned-repartition
    # applyInPandas shape as the rect path (AQE must not serialize it)
    audit(
        "difference_convex_pinned_parts",
        qcat["difference_convex"](spark, SF),
        [
            ("layer-2 collected per cell pre-join",
             lambda p: "collect_list" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5r. asof join: ONE hash-partitioning exchange, NO join operator
    # (the union + running-last-value formulation, never a range join)
    audit(
        "asof_single_shuffle_no_join",
        qcat["asof_rates"](spark, SF),
        [
            ("no join operator", lambda p: "Join" not in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
            ("window resolves the match", lambda p: "Window" in p),
        ],
    )

    # 5s. KMV sketch: two-stage bottom-k merge -- hash aggregates,
    # never a per-key window sort over the full distinct set
    audit(
        "kmv_bottomk_no_window_sort",
        qcat["kmv_users"](spark, SF),
        [
            ("no window operator", lambda p: "Window" not in p),
            ("aggregate-based", lambda p: "Aggregate" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5t. count-min sketch: corpus side must collapse to partial hash
    # aggregates map-side (<= depth*width groups cross the exchange)
    # and the probe join must broadcast the tiny sketch
    audit(
        "cm_sketch_partial_agg_broadcast",
        qcat["cm_heavy"](spark, SF),
        [
            ("hash aggregate (map-side partial)",
             lambda p: "HashAggregate" in p),
            ("sketch side broadcast",
             lambda p: "BroadcastHashJoin" in p
             or "BroadcastExchange" in p),
            ("no window operator", lambda p: "Window" not in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
            ("pure JVM (no python UDF)",
             lambda p: "EvalPython" not in p),
        ],
    )

    # 5u. bucketed as-of: the big-side window must partition by
    # (key, _bkt) -- a hot key sorts in n_buckets tasks -- and the
    # carry table must broadcast
    audit(
        "asof_bucketed_parallel_hot_key",
        qcat["asof_bucketed"](spark, SF),
        [
            ("window keyed by (key, bucket)",
             lambda p: "_bkt" in p and "Window" in p),
            ("carry table broadcast",
             lambda p: "BroadcastHashJoin" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5v. HLL: aggregate-only pipeline -- two hash-agg pairs
    # (register max, then per-key harmonic fold), never a window or
    # sort; pure JVM end to end
    audit(
        "hll_aggregate_only",
        qcat["hll_users"](spark, SF),
        [
            ("hash aggregate", lambda p: "HashAggregate" in p),
            ("no window operator", lambda p: "Window" not in p),
            ("no global sort",
             lambda p: "Exchange rangepartitioning" not in p),
            ("pure JVM (no python UDF)",
             lambda p: "EvalPython" not in p),
        ],
    )

    # 5w. BM25: corpus stats reduce to ONE row broadcast back -- a
    # BroadcastNestedLoopJoin over a single-row build is the right
    # shape (constant per-row cost); the corpus side itself must not
    # shuffle, and tf extraction must stay JVM codegen
    audit(
        "bm25_broadcast_stats_no_corpus_shuffle",
        qcat["bm25_rank"](spark, SF),
        [
            ("stats broadcast",
             lambda p: "BroadcastExchange" in p),
            ("no hash-partition exchange of the corpus",
             lambda p: "Exchange hashpartitioning" not in p),
            ("pure JVM (no python UDF)",
             lambda p: "EvalPython" not in p),
            ("no window operator", lambda p: "Window" not in p),
        ],
    )

    # 5x. line dedup: the df-count and reassembly are hash
    # aggregates; the hot-line set joins back without a cartesian;
    # no python in the pipeline
    audit(
        "line_dedup_hash_agg_anti_join",
        qcat["line_dedup"](spark, SF),
        [
            ("hash or object-hash aggregate",
             lambda p: "HashAggregate" in p
             or "ObjectHashAggregate" in p),
            ("anti join for hot lines",
             lambda p: "LeftAnti" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
            ("pure JVM (no python UDF)",
             lambda p: "EvalPython" not in p),
        ],
    )

    # 5y. bloom semi-join: the pandas prefilter must sit BELOW the
    # semi-join exchange (filter the scan, then join survivors), and
    # the final join must be a semi join
    audit(
        "bloom_prefilter_below_semijoin",
        qcat["bloom_semijoin"](spark, SF),
        [
            ("bloom prefilter evaluated python-side",
             lambda p: "EvalPython" in p),
            ("left semi join present",
             lambda p: "LeftSemi" in p),
            ("prefilter below the join",
             lambda p: "EvalPython" in p and "LeftSemi" in p
             and p.index("LeftSemi") < p.index("EvalPython")),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5z. image-enhance family: one Arrow stage over the image scan,
    # ZERO exchanges -- per-payload operators must never shuffle
    for section, query in (
        ("box_blur_no_shuffle", "box_blur"),
        ("otsu_no_shuffle", "otsu_threshold"),
        ("hist_equalize_no_shuffle", "hist_equalize"),
        ("rle_stats_no_shuffle", "rle_stats"),
        ("sobel_edges_no_shuffle", "sobel_edges"),
        ("quadtree_compress_no_shuffle", "quadtree_compress"),
        ("morph_gradient_no_shuffle", "morph_gradient"),
        ("contrast_stretch_no_shuffle", "contrast_stretch"),
        ("image_moments_no_shuffle", "image_moments"),
        ("ssd_match_no_shuffle", "ssd_match"),
        ("blob_label_no_shuffle", "blob_label"),
    ):
        audit(
            section,
            qcat[query](spark, SF),
            [
                ("no exchange at all", lambda p: "Exchange" not in p),
                ("single Arrow mapInPandas stage",
                 lambda p: "FlatMapGroupsInPandas" not in p
                 and "MapInPandas" in p),
                ("no sort", lambda p: "Sort" not in p),
            ],
        )

    # 5z2. vertex-table geometry: pure JVM (no Python at all), exactly
    # one hash shuffle on the feature key
    audit(
        "simplify_vw_pure_jvm_single_shuffle",
        qcat["simplify_vw"](spark, SF),
        [
            ("zero python stages", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
            ("exactly one exchange",
             lambda p: p.count("Arguments: hashpartitioning") == 1),
            ("window + filter fused in one stage",
             lambda p: "Window" in p),
        ],
    )

    audit(
        "poly_centroid_pure_jvm",
        qcat["poly_centroid"](spark, SF),
        [
            ("zero python stages", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
            ("hash aggregate (partial+final)",
             lambda p: "HashAggregate" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5z3. span dedup: anchor filter must sit below the pair join
    # (the corpus-side explode+hash never shuffles unfiltered), the
    # hot-gram guard is an anti join, and nothing goes cartesian
    audit(
        "span_dedup_anchor_below_join",
        qcat["span_dedup"](spark, SF),
        [
            # r6: the per-position md5 moved to a batched mapInPandas
            # pass that emits only anchors (same predicate); the join
            # side is unchanged
            ("anchor grams from one batched pass, join side JVM",
             lambda p: "MapInPandas" in p
             and re.search(r"md5\(substring", p) is None),
            ("anti join hot-gram guard", lambda p: "LeftAnti" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
        ],
    )

    # 5z4. interval union: pure JVM, one shuffle, window+aggs fused
    audit(
        "interval_union_pure_jvm",
        qcat["interval_union"](spark, SF),
        [
            ("zero python stages", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
            ("window present", lambda p: "Window" in p),
        ],
    )


    # 5z5. round-5 late batch: grouping sets / pivot collapse to ONE
    # shuffle; gap fill generates its grid (no calendar join); the
    # blocked fuzzy join and triangle joins never go cartesian; the
    # three image operators never shuffle at all.
    audit(
        "rollup_single_shuffle",
        qcat["rollup_agg"](spark, SF),
        [
            ("rollup expands in-place", lambda p: "Expand" in p),
            ("partial+final hash agg", lambda p: "HashAggregate" in p),
            ("exactly one exchange",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) == 1),
        ],
    )
    audit(
        "pivot_single_shuffle",
        qcat["pivot_wide"](spark, SF),
        [
            ("single hash-agg pass", lambda p: "HashAggregate" in p),
            ("fact shuffles once, post-partial-agg; the second "
             "exchange carries only |groups x statuses| rows",
             lambda p: len(re.findall(r"\(\d+\) Exchange", p)) <= 2
             and re.search(r"Exchange \(3\)\s*\n\s*\+- HashAggregate",
                           p) is not None),
            ("zero python stages", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
        ],
    )
    audit(
        "gap_fill_generated_grid",
        qcat["gap_fill"](spark, SF),
        [
            ("grid generated executor-side (explode), not joined "
             "from a calendar table", lambda p: "Generate" in p),
            ("no cartesian product",
             lambda p: "CartesianProduct" not in p),
            ("single window pass carries all four anchors",
             lambda p: p.count("Window") <= 2),
            ("zero python stages", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
        ],
    )
    audit(
        "triangle_count_no_cartesian",
        qcat["triangle_count"](spark, SF),
        [
            ("wedge/closure joins are equi-joins, never cartesian",
             lambda p: "CartesianProduct" not in p),
            ("zero python stages", lambda p: "EvalPython" not in p
             and "InPandas" not in p),
        ],
    )
    audit(
        "fuzzy_dedup_blocked_join",
        qcat["fuzzy_dedup"](spark, SF),
        [
            ("corpus joins on the prefix block (equi), not cartesian",
             lambda p: "CartesianProduct" not in p
             and "NestedLoop" not in p),
            ("levenshtein kernel runs JVM-side",
             lambda p: "levenshtein" in p and "EvalPython" not in p
             and "InPandas" not in p),
        ],
    )
    for img_q in ("image_moments", "ssd_match", "blob_label"):
        audit(
            f"{img_q}_zero_shuffle",
            qcat[img_q](spark, SF),
            [
                ("per-payload operator never shuffles",
                 lambda p: p.count("Exchange") == 0),
                ("arrow-batched python stage",
                 lambda p: "InPandas" in p),
            ],
        )

    # 6. mosaic merge: single hash agg pair (partial+final), no window
    audit(
        "mosaic_merge_hashagg",
        qcat["mosaic_merge"](spark, SF),
        [
            ("hash aggregate", lambda p: "HashAggregate" in p),
            ("no window/sort path", lambda p: "Window" not in p),
        ],
    )

    # 7. round-6 optimization gates
    audit(
        "skyline_distributed_front",
        qcat["skyline"](spark, SF),
        [
            ("front is range-partitioned by price desc (no data-wide "
             "single-partition window)",
             lambda p: re.search(
                 r"rangepartitioning\(price#\d+ DESC", p) is not None),
            ("per-partition prefix-max window keyed by partition id",
             lambda p: re.search(r"hashpartitioning\(_pid#\d+", p)
             is not None),
        ],
    )
    audit(
        "ivf_ann_local_topk",
        qcat["ivf_ann"](spark, SF),
        [
            ("per-list scoring is one cogrouped Arrow batch (no "
             "per-pair HOF dot / no all-candidate window input)",
             lambda p: "FlatMapCoGroupsInPandas" in p),
            ("no cartesian", lambda p: "CartesianProduct" not in p),
        ],
    )
    audit(
        "lsh_ann_local_topk",
        qcat["lsh_ann"](spark, SF),
        [
            ("per-bucket scoring is one grouped Arrow batch",
             lambda p: "FlatMapGroupsInPandas" in p),
            ("no cartesian", lambda p: "CartesianProduct" not in p),
        ],
    )
    audit(
        "span_dedup_batch_anchor",
        qcat["span_dedup"](spark, SF),
        [
            ("anchor grams come from a batched mapInPandas pass, not "
             "a per-position JVM md5 explode",
             lambda p: "MapInPandas" in p
             and re.search(r"md5\(substring", p) is None),
            ("pair join stays an equi-join on the hash",
             lambda p: "CartesianProduct" not in p),
        ],
    )
    audit(
        "retile_cover_jvm",
        qcat["retile_tiles"](spark, SF),
        [
            ("covering-cell generation is pure JVM (no EvalPython "
             "before the tile assemble)",
             lambda p: "EvalPython" not in p),
            ("tile assemble is the only python stage",
             lambda p: "InPandas" in p),
        ],
    )
    # r5 late-batch analytics sections (VERDICT r5 item 6)
    audit(
        "cohort_retention_two_agg",
        qcat["cohort_retention"](spark, SF),
        [
            ("first-seen join is an equi-join (no cartesian)",
             lambda p: "CartesianProduct" not in p
             and "NestedLoop" not in p),
            ("no window pass (min-agg cohort, not a sort)",
             lambda p: "Window" not in p),
        ],
    )
    audit(
        "event_transitions_one_window",
        qcat["event_transitions"](spark, SF),
        [
            ("exactly one per-user window",
             lambda p: len(re.findall(r"\(\d+\) Window", p)) == 1),
            ("window partitioned by user (never single-partition)",
             lambda p: re.search(r"hashpartitioning\(user_id#\d+", p)
             is not None),
        ],
    )
    audit(
        "gap_fill_no_explode_join",
        qcat["gap_fill"](spark, SF),
        [
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
            ("pure JVM (no python stage)",
             lambda p: "EvalPython" not in p and "InPandas" not in p),
        ],
    )
    audit(
        "unpivot_long_single_agg",
        qcat["unpivot_long"](spark, SF),
        [
            ("stack expands in the projection; only the final agg "
             "shuffles",
             lambda p: len(re.findall(r"[+:]- Exchange ", p)) == 1),
            ("no window/sort", lambda p: "Window" not in p),
        ],
    )
    audit(
        "pivot_wide_single_scan",
        qcat["pivot_wide"](spark, SF),
        [
            ("one scan of the fact (pivot never self-unions)",
             lambda p: len(re.findall(r"\(\d+\) Scan parquet", p)) == 1),
            ("no cartesian product", lambda p: "CartesianProduct" not in p),
        ],
    )
    audit(
        "xyz_bin_parse_once",
        qcat["xyz_bin"](spark, SF),
        [
            ("envelope and binning share one parsed materialization",
             lambda p: p.count("Scan ExistingRDD") >= 2
             and "localCheckpoint" in p),
            ("no python stage in the binning path",
             lambda p: "EvalPython" not in p and "InPandas" not in p),
        ],
    )

    # the PIP refine is a JVM ray-cast filter: no Python node reads the
    # candidate pairs.  The one Python stage left is the polygon meta
    # (one ArrowEvalPython over the polygon layer), which pip_join
    # checkpoints, so the pip_rect plan reads it as an ExistingRDD scan;
    # it is audited on the frame that checkpoint materializes.
    from raster_tools_spark.operators import pip as op_pip

    audit(
        "pip_jvm_refine",
        qcat["pip_rect"](spark, SF),
        [
            ("no MapInPandas / BatchEvalPython / ArrowEvalPython: the "
             "refine runs JVM-side",
             lambda p: not re.search(
                 r"MapInPandas|BatchEvalPython|ArrowEvalPython", p)),
            ("point proxy and polygon meta are checkpointed "
             "(ExistingRDD scans feed the joins)",
             lambda p: p.count("Scan ExistingRDD") >= 2),
        ],
    )
    audit(
        "pip_polygon_meta",
        qcat_polys_rect(spark).withColumn(
            "_pm", op_pip._poly_meta_udf(9, 64)(F.col("geom_wkb"))
        ),
        [
            ("exactly one ArrowEvalPython (the polygon meta)",
             lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython", p))
             == 1),
            ("no other Python node",
             lambda p: not re.search(r"MapInPandas|BatchEvalPython", p)),
        ],
    )
    audit(
        "zonal_single_anchor_eval",
        zdf,
        [
            ("no Python evaluation left before the partials stage: "
             "the anchor is a JVM expression (was one ArrowEvalPython "
             "after the duplicate-eval fix, two before it)",
             lambda p: len(re.findall(r"\(\d+\) ArrowEvalPython", p))
             == 0 and "BatchEvalPython" not in p),
        ],
    )

    # 5e-bis. retile_job: the write plan, as executed (a fresh job into
    # a scratch directory; the plan is read back from the SQL status
    # store).  The payload crosses one exchange, keyed on the output
    # unit; no exchange on _unit sits above the pandas assemble.  It
    # runs last: its jobs would shift the plan and RDD ids printed in
    # every later section
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        op_retile.retile_job(spark, rt_cells, f"{d}/out", f"{d}/man")
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    write_plan = next(
        p for p in (execs.apply(i).physicalPlanDescription()
                    for i in reversed(range(execs.size())))
        if "InsertIntoHadoopFsRelationCommand" in p
        and "FlatMapGroupsInPandas" in p
    )
    # AQE prints the final plan, then the initial one; check the final
    def final(p):
        return p.split("== Initial Plan ==")[0]

    audit(
        "retile_job_write_single_shuffle",
        write_plan,
        [
            (
                "single exchange in the executed write plan",
                lambda p: len(re.findall(r"[+:]- Exchange ", final(p))) == 1,
            ),
            (
                "no exchange above the pandas assemble, none keyed on _unit",
                lambda p: "Exchange" not in final(p).split(
                    "FlatMapGroupsInPandas")[0]
                and not re.search(r"hashpartitioning\(_unit", p),
            ),
        ],
    )

    with open("docs/PLANS.md", "w") as f:
        f.write(
            "# Physical plan audit\n\n"
            "Captured via `python tools/plan_audit.py` "
            "(.explain('formatted'); checks below gate the properties "
            "that matter at 100 TB).\n\n"
        )
        for name, plan, results in sections:
            f.write(f"## {name}\n\n")
            for desc, ok in results:
                f.write(f"- {'PASS' if ok else 'FAIL'}: {desc}\n")
            f.write("\n```\n")
            # expression ids (#123L) change on every run; the checks
            # above see them, the committed text does not
            f.write(re.sub(r"#\d+L?", "", plan)[:4000])
            f.write("\n```\n\n")

    spark.stop()
    if failures:
        print("PLAN AUDIT FAILURES:")
        for x in failures:
            print(" -", x)
        sys.exit(1)
    print("plan audit passed; wrote docs/PLANS.md")


if __name__ == "__main__":
    import os

    os.makedirs("docs", exist_ok=True)
    main()
