"""Raster repair: sentinel rewrite + nodata remap with skip-if-clean
(reference srtm/fix_nodata.py:22-56: pixels equal to the -32767
sentinel become 0, the nodata value becomes 0, and rasters already
clean -- nodata == target and no sentinel pixel -- are skipped
untouched).

Spark shape: one mapInPandas over the image table, no shuffle at all;
the changed flag makes the skip path visible downstream (the reference
leaves clean files in place and only rewrites dirty ones)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import codecs

_FIX_SCHEMA = (
    "image_id string, bytes binary, fmt string, nodata double, "
    "changed int, n_fixed long"
)


def fix_nodata(
    images: DataFrame,
    sentinel: float = -32767.0,
) -> DataFrame:
    """images(image_id, bytes, fmt, nodata) -> same payload with
    sentinel pixels rewritten to 0 and the nodata value remapped to 0;
    clean rasters pass through byte-identical with changed = 0
    (fix_nodata.py:30-33 skip)."""

    def kernel(px, t):
        hit = px == sentinel
        n = int(hit.sum())
        if n == 0 and float(t.nodata) == 0.0:
            return [(t.image_id, bytes(t.bytes), t.fmt,
                     float(t.nodata), 0, 0)]
        out = px.copy()
        out[hit] = 0.0
        # dispatch on the row's own format so bytes and fmt stay
        # consistent (a lossy source re-encodes lossy -- the
        # reference's SRTM inputs are lossless i2 tifs)
        return [(t.image_id, codecs.encode(out, t.fmt), t.fmt, 0.0, 1, n)]

    return codecs.map_payloads(
        images.select("image_id", "bytes", "fmt", "nodata"), kernel,
        _FIX_SCHEMA,
    )
