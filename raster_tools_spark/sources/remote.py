"""Remote raster extraction + upload (SURVEY.md S7/K5; reference
rextract.py:108-430 and upload.py:21-90).

The reference streams GeoTIFF chunks from an HTTP raster service with
bounded concurrency, status-code-based retry (503 sleeps then retries,
504 retries immediately), abort-on-error that REMEMBERS the last
completed serial (the ``.pro`` indicator file), and resumes by
fetching only the remaining serials; uploads push a file in parts and
commit.  This module re-expresses that shape Spark-first with a
PLUGGABLE TRANSPORT:

- ``chunk_requests``: the Index.get_chunks analog
  (rextract.py:108-183) -- one row per (feat_id, serial) chunk of the
  feature's pixel window, pure closed-form math;
- ``fetch_chunks``: mapInPandas over the request table; each task
  walks its requests through ``transport`` with the reference's retry
  classes; the per-row attempt count and status are emitted so the
  driver-side bookkeeping is queryable instead of a progress file;
- resume is a left-anti of the completed (feat_id, serial) set from
  the request table before ``fetch_chunks`` (as manifest.pending_units
  does for units): the indicator-file semantics, partition-parallel;
- ``upload_parts`` (K5): split a payload into fixed-size parts, push
  each through ``transport`` with the same retry classes, emit part
  receipts (upload.py's chunked POST loop).

NO REAL NETWORK CALLS exist in this container, so the default
transport raises NotImplementedError (disclosed stub, like the
audio/video decoders); ``fake_raster_transport`` stands in with a
deterministic closed-form pixel service (value(wi, wj) = (7*wi +
13*wj + 3) % 251) plus an injectable failure schedule, which makes the
whole pipeline -- chunking, retry, resume, assembly -- hard-oracle
checkable (queries.remote_extract).
"""

from __future__ import annotations

import math
import zlib
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..grid import CELL_SIZE, WORLD_TOP

# retry classes (rextract.py:85-90): retryable statuses map to a
# nominal backoff; anything else non-200 is fatal for the chunk
RETRY_STATUS = {503: 10.0, 504: 0.0}

FETCH_SCHEMA = (
    "feat_id long, serial int, status int, attempts int, "
    "width int, height int, x1 double, y2 double, bytes binary"
)
UPLOAD_SCHEMA = (
    "object_id string, part int, status int, attempts int, n_bytes long"
)


def default_transport(params: dict):
    """The real HTTP transport would live here (requests.Session.get
    against the raster API).  No network exists in this container."""
    raise NotImplementedError(
        "network transport is environment-provided; use "
        "fake_raster_transport for tests/oracles"
    )


def fake_raster_transport(fail_first_every: int = 0):
    """Deterministic stand-in raster service: returns the closed-form
    pixel window for a bbox request as zlib'd u8.  With
    ``fail_first_every`` = k > 0, the FIRST attempt of every k-th
    serial returns 503 (retryable), exercising the retry path."""
    seen: set = set()

    def transport(params: dict):
        serial = int(params["serial"])
        key = (int(params.get("feat_id", 0)), serial)
        if (
            fail_first_every
            and serial % fail_first_every == 0
            and key not in seen
        ):
            seen.add(key)
            return 503, b""
        w, h = int(params["width"]), int(params["height"])
        # world pixel indices of the window's top-left
        wj0 = int(math.floor(float(params["x1"]) / CELL_SIZE))
        wi0 = int(math.floor((WORLD_TOP - float(params["y2"])) / CELL_SIZE))
        ii, jj = np.meshgrid(
            np.arange(wi0, wi0 + h, dtype=np.int64),
            np.arange(wj0, wj0 + w, dtype=np.int64),
            indexing="ij",
        )
        px = ((7 * ii + 13 * jj + 3) % 251).astype(np.uint8)
        return 200, zlib.compress(px.tobytes(), 1)

    return transport


def chunk_requests(features: DataFrame, chunk_px: int = 256) -> DataFrame:
    """features(feat_id, x1, y1, x2, y2) -> one request row per chunk
    of the pixel-snapped window (rextract Index semantics: the window
    is floor/ceil-snapped to the grid, then tiled row-major by
    ``chunk_px``; serials start at 1)."""
    f = features.selectExpr(
        "feat_id",
        f"floor(x1 / {CELL_SIZE!r}) * {CELL_SIZE!r} AS wx1",
        f"ceil(x2 / {CELL_SIZE!r}) * {CELL_SIZE!r} AS wx2",
        f"floor(y1 / {CELL_SIZE!r}) * {CELL_SIZE!r} AS wy1",
        f"ceil(y2 / {CELL_SIZE!r}) * {CELL_SIZE!r} AS wy2",
    ).selectExpr(
        "feat_id", "wx1", "wy1", "wy2",
        f"CAST(round((wx2 - wx1) / {CELL_SIZE!r}) AS INT) AS wpx",
        f"CAST(round((wy2 - wy1) / {CELL_SIZE!r}) AS INT) AS hpx",
    ).selectExpr(
        "feat_id", "wx1", "wy1", "wy2", "wpx", "hpx",
        f"CAST(ceil(wpx / CAST({chunk_px} AS DOUBLE)) AS INT) AS ncx",
        f"CAST(ceil(hpx / CAST({chunk_px} AS DOUBLE)) AS INT) AS ncy",
    )
    # degenerate (zero-area) windows produce no chunks; without the
    # guard sequence(0, -1) would count DOWN and emit phantom serials
    c = f.filter("wpx > 0 AND hpx > 0").selectExpr(
        "feat_id", "wx1", "wy1", "wy2", "wpx", "hpx", "ncx",
        "explode(sequence(0, ncx * ncy - 1)) AS k",
    )
    return c.selectExpr(
        "feat_id",
        "CAST(k + 1 AS INT) AS serial",
        f"wx1 + (k % ncx) * {chunk_px} * {CELL_SIZE!r} AS x1",
        f"greatest(wy2 - (CAST(k AS BIGINT) DIV ncx + 1)"
        f" * {chunk_px} * {CELL_SIZE!r}, wy1) AS y1",
        f"least(wx1 + ((k % ncx) + 1) * {chunk_px} * {CELL_SIZE!r},"
        f" wx1 + wpx * {CELL_SIZE!r}) AS x2",
        f"wy2 - (CAST(k AS BIGINT) DIV ncx) * {chunk_px} * {CELL_SIZE!r}"
        " AS y2",
        f"CAST(least(wpx - (k % ncx) * {chunk_px}, {chunk_px}) AS INT)"
        " AS width",
        f"CAST(least(hpx - (CAST(k AS BIGINT) DIV ncx) * {chunk_px},"
        f" {chunk_px}) AS INT) AS height",
    )


def fetch_chunks(
    requests: DataFrame,
    transport: Callable = default_transport,
) -> DataFrame:
    """Fetch every request through ``transport`` with the reference's
    retry classes, at most 2 retries.  To resume, left-anti the
    completed (feat_id, serial) rows from ``requests`` first (the
    indicator-file resume, partition-parallel).

    Emits per chunk: status (last), attempts, and the payload on
    success -- failures surface as rows, not exceptions, so a resume
    manifest can be derived with a plain filter."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                params = {
                    "feat_id": int(t.feat_id),
                    "serial": int(t.serial),
                    "x1": float(t.x1),
                    "y2": float(t.y2),
                    "width": int(t.width),
                    "height": int(t.height),
                }
                attempts = 0
                status, payload = 0, b""
                while attempts <= 2:
                    attempts += 1
                    status, payload = transport(params)
                    if status == 200 or status not in RETRY_STATUS:
                        break
                    # the reference sleeps RETRY_STATUS[status]; the
                    # distributed task records the class and retries
                    # immediately (a cluster scheduler, not time.sleep,
                    # owns backoff)
                rows.append(
                    (
                        int(t.feat_id), int(t.serial), int(status),
                        attempts, int(t.width), int(t.height),
                        float(t.x1), float(t.y2),
                        payload if status == 200 else b"",
                    )
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "feat_id", "serial", "status", "attempts",
                        "width", "height", "x1", "y2", "bytes",
                    ],
                )

    return requests.mapInPandas(run, schema=FETCH_SCHEMA)


def upload_parts(payloads: DataFrame) -> DataFrame:
    """K5 upload sink: split each payload(object_id, bytes) into
    64 KiB parts and push each through ``default_transport`` with the
    same retry classes, at most 2 retries (upload.py's chunked POST
    loop); emits one receipt row per part."""
    transport = default_transport
    part_bytes = 65536

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                data = bytes(t.bytes)
                n_parts = max(
                    (len(data) + part_bytes - 1) // part_bytes, 1
                )
                for p in range(n_parts):
                    part = data[p * part_bytes: (p + 1) * part_bytes]
                    attempts = 0
                    status = 0
                    while attempts <= 2:
                        attempts += 1
                        status = transport(
                            {
                                "object_id": t.object_id,
                                "part": p,
                                "body": part,
                            }
                        )
                        if status == 200 or status not in RETRY_STATUS:
                            break
                    rows.append(
                        (str(t.object_id), p, int(status), attempts,
                         len(part))
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "object_id", "part", "status", "attempts",
                        "n_bytes",
                    ],
                )

    return payloads.mapInPandas(run, schema=UPLOAD_SCHEMA)

