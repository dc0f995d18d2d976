"""Structured Streaming over image payloads (axis B x streaming):
file-source image stream (kafka-shaped in production) -> stateless
Arrow mapInPandas enhancement stats -> append sink.

The enhancement operators are stateless per-payload transforms, so
they lift into a stream unchanged -- the SAME
``image_enhance.box_blur_stats`` plan object runs in both engines'
modes, which is what makes the streaming registry row oracle-hard:
the streamed result must equal the batch SQL mirror bit-for-bit.
Watermarks/state are not needed (no aggregation across payloads);
backpressure comes from maxFilesPerTrigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import image_enhance

IMAGE_FILE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string"
)


def read_image_stream(spark: SparkSession, path: str) -> DataFrame:
    return (
        spark.readStream.schema(IMAGE_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(path)
    )


def run_image_stats_to_memory(
    spark: SparkSession,
    path: str,
    query_name: str = "image_stats_stream",
) -> DataFrame:
    """Drive the image stream to completion synchronously (memory
    sink + processAllAvailable) and return the result table."""
    # the batch operator applies verbatim: mapInPandas is
    # streaming-safe for stateless transforms
    stats = image_enhance.box_blur_stats(read_image_stream(spark, path))
    q = (
        stats.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
