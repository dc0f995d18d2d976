"""Line profile sampling ("drape"): sample raster values along
linestrings (SURVEY.md S8/W6 raster side; reference semantics from
raster_tools/line_up.py:191-247 -- pixel-spaced samples along the
parameterized line -- and vectors.py parameterization).

Distributed shape:

1. a vectorized UDF walks each linestring emitting samples every
   ``step`` meters (seq-numbered -> deterministic ordering);
2. samples get canonical-tile cell keys (JVM floor math) and equi-join
   the tile table on the cell -- the same bbox-prejoin pattern as PIP;
3. per-tile batch lookup: decode once, index all its samples via the
   inverse-affine pixel math;
4. per-line reductions (min/max/argmax-position) are plain Window
   functions over (line_id, seq) -- the reference's rank-along-line
   (line_up.py:169-188) maps 1:1 to Window.partitionBy(line).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import codecs, wkb as _wkb
from ..grid import CELL_SIZE, RES_TILE
from .tile import cell_col

SAMPLES_SCHEMA = "line_id long, seq int, sx double, sy double"


def sample_line_points(lines: DataFrame, step: float = CELL_SIZE
                       ) -> DataFrame:
    """lines(line_id, geom_wkb) -> point samples every ``step`` meters
    along the line (vertices included at parameter breaks)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                gtype, coords = _wkb.parse(bytes(t.geom_wkb))
                if gtype != _wkb.LINESTRING or len(coords) < 2:
                    continue
                seg = np.diff(coords, axis=0)
                seg_len = np.hypot(seg[:, 0], seg[:, 1])
                total = float(seg_len.sum())
                if total <= 0:
                    continue
                n = max(int(np.floor(total / step)), 1)
                params = np.arange(n + 1) * step
                params[-1] = min(params[-1], total)
                cum = np.concatenate([[0.0], np.cumsum(seg_len)])
                idx = np.clip(
                    np.searchsorted(cum, params, side="right") - 1,
                    0,
                    len(seg) - 1,
                )
                frac = (params - cum[idx]) / np.where(
                    seg_len[idx] > 0, seg_len[idx], 1.0
                )
                pts = coords[idx] + seg[idx] * frac[:, None]
                for k, (x, y) in enumerate(pts):
                    rows.append((t.line_id, k, float(x), float(y)))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["line_id", "seq", "sx", "sy"]
                )

    return lines.select("line_id", "geom_wkb").mapInPandas(
        gen, schema=SAMPLES_SCHEMA
    )


_PROFILE_SCHEMA = "line_id long, seq int, sx double, sy double, value int"


def line_profile(
    lines: DataFrame,
    tiles: DataFrame,
    step: float = CELL_SIZE,
) -> DataFrame:
    """Drape lines over the tile table: (line_id, seq, value).

    ``tiles``: retile output (cell_id, bytes, fmt, x0, y_top).  Samples
    falling on cells with no tile are dropped (outside coverage).
    """
    samples = sample_line_points(lines, step).withColumn(
        "cell_id", cell_col(F.col("sx"), F.col("sy"), RES_TILE)
    )
    t = tiles.select("cell_id", "bytes", "fmt", "x0", "y_top")
    cand = samples.join(t, "cell_id").select(
        "line_id", "seq", "sx", "sy", "bytes", "fmt", "x0", "y_top",
        "cell_id",
    )

    def lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Vectorized batch lookup: decode each tile ONCE per batch
        group, then one fancy-index gather for ALL of its samples --
        no per-sample Python (the work per row is one array index, so
        a row loop here would be the banned row-at-a-time pattern)."""
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for cid, sub in pdf.groupby("cell_id", sort=False):
                px = codecs.decode(
                    bytes(sub["bytes"].iloc[0]), sub["fmt"].iloc[0]
                )
                j = np.floor(
                    (sub["sx"].to_numpy() - sub["x0"].to_numpy())
                    / CELL_SIZE
                ).astype(np.int64)
                i = np.floor(
                    (sub["y_top"].to_numpy() - sub["sy"].to_numpy())
                    / CELL_SIZE
                ).astype(np.int64)
                ok = (
                    (i >= 0) & (i < px.shape[0])
                    & (j >= 0) & (j < px.shape[1])
                )
                if not ok.any():
                    continue
                outs.append(
                    pd.DataFrame(
                        {
                            "line_id": sub["line_id"].to_numpy()[ok],
                            "seq": sub["seq"].to_numpy()[ok],
                            "sx": sub["sx"].to_numpy()[ok],
                            "sy": sub["sy"].to_numpy()[ok],
                            "value": px[i[ok], j[ok]].astype(np.int32),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    # co-locate samples of a tile so each tile decodes once per task
    n_parts = lines.sparkSession.sparkContext.defaultParallelism
    return (
        cand.repartition(n_parts, "cell_id")
        .sortWithinPartitions("cell_id")
        .mapInPandas(lookup, schema=_PROFILE_SCHEMA)
    )


CARPET_SCHEMA = (
    "line_id long, seq int, off int, sx double, sy double, "
    "cx double, cy double"
)


def sample_carpet_points(
    lines: DataFrame,
    step: float = CELL_SIZE,
    carpet_step: float = CELL_SIZE,
) -> DataFrame:
    """Carpet sampling (line_up.py get_carpet semantics): every
    arc-length sample expands into a row of points offset along the
    local segment NORMAL at ``carpet_step`` spacing up to 1 m each
    side.  (cx, cy) carries the on-line center of each row."""
    n_off = int(np.floor(1.0 / carpet_step))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                gtype, coords = _wkb.parse(bytes(t.geom_wkb))
                if gtype != _wkb.LINESTRING or len(coords) < 2:
                    continue
                # drop zero-length segments (duplicate consecutive
                # vertices) BEFORE normals: a trailing duplicate would
                # otherwise produce a 0/0 normal and NaN samples
                keep = np.concatenate(
                    [[True], (np.diff(coords, axis=0) != 0).any(axis=1)]
                )
                coords = coords[keep]
                if len(coords) < 2:
                    continue
                seg = np.diff(coords, axis=0)
                seg_len = np.hypot(seg[:, 0], seg[:, 1])
                total = float(seg_len.sum())
                if total <= 0:
                    continue
                n = max(int(np.floor(total / step)), 1)
                params = np.arange(n + 1) * step
                params[-1] = min(params[-1], total)
                cum = np.concatenate([[0.0], np.cumsum(seg_len)])
                idx = np.clip(
                    np.searchsorted(cum, params, side="right") - 1,
                    0, len(seg) - 1,
                )
                frac = (params - cum[idx]) / seg_len[idx]
                pts = coords[idx] + seg[idx] * frac[:, None]
                # unit normal of the carrying segment
                nx = -seg[idx, 1] / seg_len[idx]
                ny = seg[idx, 0] / seg_len[idx]
                for k in range(len(pts)):
                    cx0, cy0 = float(pts[k, 0]), float(pts[k, 1])
                    for o in range(-n_off, n_off + 1):
                        d = o * carpet_step
                        rows.append(
                            (
                                t.line_id, k, o,
                                cx0 + float(nx[k]) * d,
                                cy0 + float(ny[k]) * d,
                                cx0, cy0,
                            )
                        )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["line_id", "seq", "off", "sx", "sy",
                             "cx", "cy"],
                )

    return lines.select("line_id", "geom_wkb").mapInPandas(
        gen, schema=CARPET_SCHEMA
    )


def line_carpet_profile(
    lines: DataFrame,
    tiles: DataFrame,
    step: float = CELL_SIZE,
    carpet_step: float = CELL_SIZE,
) -> DataFrame:
    """Carpet drape (line_up.py --distance mode): per on-line sample,
    the maximum of the raster over the perpendicular 1 m carpet row;
    nodata (255) carpet points are ignored, rows whose whole carpet is
    nodata (or off-coverage) are dropped.  Returns
    (line_id, seq, cx, cy, value)."""
    samples = sample_carpet_points(
        lines, step, carpet_step
    ).withColumn("cell_id", cell_col(F.col("sx"), F.col("sy"), RES_TILE))
    t = tiles.select("cell_id", "bytes", "fmt", "x0", "y_top")
    cand = samples.join(t, "cell_id").select(
        "line_id", "seq", "off", "sx", "sy", "cx", "cy",
        "bytes", "fmt", "x0", "y_top", "cell_id",
    )

    def lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            for cid, sub in pdf.groupby("cell_id", sort=False):
                px = codecs.decode(
                    bytes(sub["bytes"].iloc[0]), sub["fmt"].iloc[0]
                )
                j = np.floor(
                    (sub["sx"].to_numpy() - sub["x0"].to_numpy())
                    / CELL_SIZE
                ).astype(np.int64)
                i = np.floor(
                    (sub["y_top"].to_numpy() - sub["sy"].to_numpy())
                    / CELL_SIZE
                ).astype(np.int64)
                ok = (
                    (i >= 0) & (i < px.shape[0])
                    & (j >= 0) & (j < px.shape[1])
                )
                if not ok.any():
                    continue
                outs.append(
                    pd.DataFrame(
                        {
                            "line_id": sub["line_id"].to_numpy()[ok],
                            "seq": sub["seq"].to_numpy()[ok],
                            "cx": sub["cx"].to_numpy()[ok],
                            "cy": sub["cy"].to_numpy()[ok],
                            "value": px[i[ok], j[ok]].astype(np.int32),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    n_parts = lines.sparkSession.sparkContext.defaultParallelism
    vals = (
        cand.repartition(n_parts, "cell_id")
        .sortWithinPartitions("cell_id")
        .mapInPandas(
            lookup,
            schema=(
                "line_id long, seq int, cx double, cy double, value int"
            ),
        )
    )
    return (
        vals.filter(F.col("value") != 255)
        .groupBy("line_id", "seq")
        .agg(
            F.min("cx").alias("cx"),
            F.min("cy").alias("cy"),
            F.max("value").alias("value"),
        )
    )


def line_extremum(profile: DataFrame) -> DataFrame:
    """Per-line maximum sample (first along the line on ties) with its
    position -- the reference's rank-along-line (line_up.py:169-188)
    as a Window row_number."""
    w = Window.partitionBy("line_id").orderBy(
        F.col("value").desc(), F.col("seq").asc()
    )
    return (
        profile.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "line_id",
            F.col("seq").alias("extremum_seq"),
            F.col("sx").alias("extremum_x"),
            F.col("sy").alias("extremum_y"),
            F.col("value").alias("extremum_value"),
        )
    )
