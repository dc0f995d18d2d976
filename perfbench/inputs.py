"""Seeded, cached benchmark inputs.

Each (seed, size, table) gets one images parquet table and one
polygon-layer parquet file, generated once into ``perfbench/.cache`` and
reused by later runs.  Generation is never timed; only its duration is
logged.  The measured program receives nothing but these two files.

Rows come from ``synth.images_pdf`` at the seed: image ids, phash (and so
the tile anchor), sizes, formats and captions.  Payloads come from a pool
of ``synth`` tiles, ``POOL_PER_CLASS`` per (height, width, format) class,
picked by phash.  Encoding one tile per row would make generation cost
more than a run, and the decode cost per image would drift with the seed.

The polygon layer is the fixed ``synth`` default-seed layer, as in
``bench.py``: its few hot polygons set most of the work, so a per-seed
layer would make the work per run, not the program, differ between seeds.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

# tiles_pip: bench.py's window and polygon layer at 4096 images;
# zonal_pixels: a quarter of that window at twice that density; retile: a
# smaller window, because a retile job's cost is mostly per-unit and
# per-file.  (images, tiles_axis)
SIZES = {
    "bench": {"pip": (4096, 256), "zonal": (2048, 128), "retile": (256, 32),
              "polys": (200, 50)},
    "tiny": {"pip": (96, 16), "zonal": (96, 16), "retile": (48, 16),
             "polys": (24, 8)},
}
MAX_CACHED = 8  # table entries kept; the least recently used is evicted
POLYGON_SEED = 42  # synth.DEFAULT_SEED
POOL_SEED = 42
POOL_PER_CLASS = 8
FILES = 8
ROW_GROUP = 256


@dataclass(frozen=True)
class Inputs:
    images: str        # parquet directory
    polygons: str      # parquet file
    n_images: int
    tiles_axis: int
    n_polygons: int
    payload_bytes: int  # sum of image payload lengths


def _payload_pool(cache_dir: str) -> dict:
    """(h, w, fmt) -> list of encoded synth tiles; cached on disk."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raster_tools_spark import synth

    path = os.path.join(cache_dir,
                        f"pool_s{POOL_SEED}_k{POOL_PER_CLASS}.parquet")
    if not os.path.isfile(path):
        pool, start = {}, 0
        # 5 size classes x 2 formats; the rarest class is 1 row in 64
        while len(pool) < 10 or min(map(len, pool.values())) < POOL_PER_CLASS:
            pdf = synth.images_pdf(start, start + 256, seed=POOL_SEED)
            for r in pdf.itertuples():
                got = pool.setdefault((int(r.h), int(r.w), r.fmt), [])
                if len(got) < POOL_PER_CLASS:
                    got.append(r.bytes)
            start += 256
        rows = [(h, w, f, b) for (h, w, f), bs in pool.items() for b in bs]
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(pa.table({k: [r[i] for r in rows] for i, k in
                                 enumerate(("h", "w", "fmt", "bytes"))}), tmp)
        os.rename(tmp, path)
    pool = {}
    for r in pq.read_table(path).to_pylist():
        pool.setdefault((r["h"], r["w"], r["fmt"]), []).append(r["bytes"])
    return pool


def _write_images(pool, n, seed, axis, out_dir) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raster_tools_spark import synth

    payload = 0
    step = -(-n // FILES)
    for i, start in enumerate(range(0, n, step)):
        pdf = synth.images_pdf(start, min(n, start + step), seed=seed,
                               tiles_axis=axis, with_pixels=False)
        pdf["bytes"] = [
            pool[(int(h), int(w), f)][p % POOL_PER_CLASS]
            for h, w, f, p in zip(pdf["h"], pdf["w"], pdf["fmt"],
                                  pdf["phash"])
        ]
        payload += int(pdf["bytes"].map(len).sum())
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(out_dir, f"part-{i:02d}.parquet"),
            row_group_size=ROW_GROUP,
            use_dictionary=["image_id", "fmt", "caption"],
        )
    return payload


def _write_polygons(axis, n, hot_every, path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from raster_tools_spark import synth

    pdf = synth.polygons_pdf(n, seed=POLYGON_SEED, tiles_axis=axis,
                             hot_every=hot_every)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def ensure(cache_dir: str, seed: int, size: str,
           table: str) -> tuple[Inputs, float]:
    """Return the cached inputs of (seed, size, table), generating them
    first if needed; the second value is the generation time."""
    n, axis = SIZES[size][table]
    m, hot_every = SIZES[size]["polys"]
    final = os.path.join(cache_dir,
                         f"s{seed}_n{n}_ax{axis}_p{m}h{hot_every}")
    done = os.path.join(final, "_DONE")
    t0 = time.perf_counter()
    if not os.path.isfile(done):
        tmp = f"{final}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "images"))
        payload = _write_images(_payload_pool(cache_dir), n, seed, axis,
                                os.path.join(tmp, "images"))
        _write_polygons(axis, m, hot_every,
                        os.path.join(tmp, "polygons.parquet"))
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write(str(payload))
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        _evict(cache_dir, keep=final)
    gen_s = time.perf_counter() - t0
    os.utime(done)
    with open(done) as f:
        payload = int(f.read())
    return Inputs(os.path.join(final, "images"),
                  os.path.join(final, "polygons.parquet"),
                  n, axis, m, payload), gen_s


def _evict(cache_dir: str, keep: str) -> None:
    entries = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
               if os.path.isfile(os.path.join(cache_dir, d, "_DONE"))]
    entries.sort(key=lambda d: os.path.getmtime(os.path.join(d, "_DONE")))
    for d in entries[:max(0, len(entries) - MAX_CACHED)]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
