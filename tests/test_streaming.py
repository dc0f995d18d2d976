"""Streaming/batch parity: the image-stats stream drained via the memory
sink must equal the batch operator on the same rows."""


def test_streaming_image_stats_equals_batch(spark, tmp_path):
    from raster_tools_spark import synth
    from raster_tools_spark.functions import image_enhance
    from raster_tools_spark.streaming import image_stream as sim

    path = str(tmp_path / "imgs")
    images = synth.linear_images_df(spark, 8).select(
        "image_id", "bytes", "w", "h", "fmt"
    )
    images.repartition(4).write.mode("overwrite").parquet(path)

    batch = {
        r["image_id"]: r
        for r in image_enhance.box_blur_stats(images).collect()
    }
    streamed = {
        r["image_id"]: r
        for r in sim.run_image_stats_to_memory(
            spark, path, query_name="t_img_stream").collect()
    }
    assert set(streamed) == set(batch)
    for iid in batch:
        for c in ("n_px", "blur_sum", "blur_min", "blur_max"):
            assert streamed[iid][c] == batch[iid][c], (iid, c)

    # re-running under the same name must not leak prior results
    again = sim.run_image_stats_to_memory(
        spark, path, query_name="t_img_stream")
    assert again.count() == len(batch)
