"""The three benchmark workloads, each driven through the public operator
API of ``raster_tools_spark``.

Every workload gives:

- ``open(spark)``: the set-up part after the session is up (open the
  inputs, cache the polygon layer);
- ``iterate(phase)``: one closed-loop job; returns an ``Iteration``;
- ``check(out)``: output errors of one iteration (empty when correct);
- ``final_check()``: once-per-run checks that need extra jobs;
- ``prefixes()``: prefix pipelines for the ``noop`` sink, whose
  differences give each operator's marginal time;
- ``kernels()``: driver-side kernel timings on a fixed input sample.

Checks run after the timed loop, so the reference data loaded into the
driver never counts toward the measured memory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

import probes

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "digests.json")


@dataclass
class Iteration:
    out: object           # what check() inspects
    wall_s: float         # the timed job, the images_per_s basis
    cpu_s: float          # process-tree CPU during the timed job
    extra: dict = field(default_factory=dict)


def timed(fn):
    c0 = probes.tree_cpu_s()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, probes.tree_cpu_s() - c0


def digest(rows) -> str:
    """Order-independent digest of result rows."""
    def canon(v):
        if isinstance(v, float):
            return format(v, ".12g")
        if isinstance(v, (bytes, bytearray)):
            return hashlib.sha1(bytes(v)).hexdigest()
        return repr(v)

    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:20]


def pinned_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def per_unit_ms(fn, items, min_s: float = 0.2) -> float:
    """Milliseconds per item of ``fn`` over ``items``, repeated until
    ``min_s`` has passed."""
    if not items:
        return 0.0
    n, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n * 1e3


class Workload:
    name = ""
    table = ""
    uses_polygons = True
    meta_columns = None  # all

    def __init__(self, inputs, size: str, seed: int, work_dir: str):
        self.inputs = inputs
        self.size = size
        self.seed = seed
        self.work_dir = work_dir
        self.axis = inputs.tiles_axis
        self.key = f"{self.name} {size} seed={seed}"
        self.pinned = pinned_digests().get(self.key)
        self.first_digest = None
        self._meta = None

    # -- session-bound ----------------------------------------------------
    def open(self, spark):
        self.spark = spark
        self.images = spark.read.parquet(self.inputs.images)
        if self.uses_polygons:
            self.polys = spark.read.parquet(self.inputs.polygons).cache()
            self.polys.count()

    def cells(self):
        from raster_tools_spark.operators import tile

        return tile.assign_cells(self.images, tiles_axis=self.axis)

    # -- driver-side reference data (loaded after the timed loop) ---------
    def meta(self):
        """Images table in image_id order with tile centers computed
        independently of the engine's cell assignment."""
        if self._meta is None:
            import pyarrow.parquet as pq

            from raster_tools_spark import synth

            df = pq.read_table(self.inputs.images,
                               columns=self.meta_columns).to_pandas()
            df = df.sort_values("image_id", ignore_index=True)
            x0, y_top = synth.anchor_of_phash_windowed(
                df["phash"].to_numpy(), self.axis)
            df["x0"], df["y_top"] = x0, y_top
            df["cx"] = x0 + df["w"].to_numpy() * 0.25
            df["cy"] = y_top - df["h"].to_numpy() * 0.25
            self._meta = df
        return self._meta

    def polygons(self):
        import pyarrow.parquet as pq

        return pq.read_table(self.inputs.polygons).to_pandas()

    def decode_sample(self, per_fmt: int = 24):
        """First ``per_fmt`` images of each format in image_id order."""
        meta = self.meta()
        return {fmt: [(bytes(b), fmt) for b in
                      meta.loc[meta["fmt"] == fmt, "bytes"].head(per_fmt)]
                for fmt in ("png", "jpeg")}

    def decode_kernels(self):
        from raster_tools_spark import codecs

        return {f"codecs.decode_{fmt}_ms_per_image": per_unit_ms(
                    lambda a: codecs.decode(*a), items)
                for fmt, items in self.decode_sample().items()}

    def _digest_check(self, d: str) -> list[str]:
        if self.first_digest is None:
            self.first_digest = d
        errs = []
        if d != self.first_digest:
            errs.append(f"digest {d} differs from the first iteration's")
        if self.pinned and d != self.pinned:
            errs.append(f"digest {d} != pinned {self.pinned}")
        return errs

    def final_check(self) -> list[str]:
        return []


# ==========================================================================

class TilesPip(Workload):
    """scan -> tile.assign_cells -> pip.pip_join -> groupBy(feat_id).count
    (bench.py: flagship_tiles_pip).  The bytes column is pruned, so no
    pixel is decoded."""

    name = "tiles_pip"
    table = "pip"
    meta_columns = ["image_id", "phash", "w", "h"]

    def iterate(self, phase):
        from raster_tools_spark.operators import pip

        phase("iter")
        rows, wall, cpu = timed(lambda: pip.pip_join(
            self.cells(), self.polys).groupBy("feat_id").count().collect())
        return Iteration({int(r["feat_id"]): int(r["count"]) for r in rows},
                         wall, cpu)

    def brute_pairs(self):
        """All centers x all polygons with geom.points_in_wkb: no cell
        index, no hot/normal split."""
        from raster_tools_spark import geom

        if not hasattr(self, "_brute"):
            meta, polys = self.meta(), self.polygons()
            cx, cy = meta["cx"].to_numpy(), meta["cy"].to_numpy()
            ids = meta["image_id"].to_numpy()
            pairs = set()
            t0 = time.perf_counter()
            for fid, wkb in zip(polys["feat_id"], polys["geom_wkb"]):
                inside = geom.points_in_wkb(cx, cy, bytes(wkb))
                pairs.update((i, int(fid)) for i in ids[inside])
            self.pip_us_per_point = ((time.perf_counter() - t0) * 1e6
                                     / (len(cx) * len(polys)))
            self._brute = pairs
        return self._brute

    def check(self, out):
        want = Counter(fid for _, fid in self.brute_pairs())
        errs = self._digest_check(digest(out.items()))
        if out != dict(want):
            errs.append(f"per-feature counts differ from the brute force "
                        f"({sum(out.values())} vs {sum(want.values())} "
                        f"pairs)")
        return errs

    def final_check(self):
        from raster_tools_spark.operators import pip

        got = [(r["image_id"], int(r["feat_id"])) for r in pip.pip_join(
            self.cells(), self.polys).select("image_id", "feat_id").collect()]
        want = self.brute_pairs()
        errs = []
        if len(got) != len(set(got)):
            errs.append("pip_join emitted duplicate pairs")
        if set(got) != want:
            errs.append(f"pair set differs from the brute force: "
                        f"{len(set(got) - want)} extra, "
                        f"{len(want - set(got))} missing")
        return errs

    def prefixes(self):
        from raster_tools_spark.operators import pip

        return {
            "scan": lambda: self.images.select("image_id", "phash", "w", "h"),
            "assign": lambda: self.cells().select(
                "image_id", "cx", "cy", "qk_r9"),
            "op": lambda: pip.pip_join(self.cells(), self.polys),
        }

    def kernels(self):
        from raster_tools_spark import geom
        from raster_tools_spark.grid import JOIN_RES, covering_cells, n_covering

        self.brute_pairs()
        envs = [geom.envelope(bytes(b)) for b in self.polygons()["geom_wkb"]]
        envs = [e for e in envs if n_covering(e, JOIN_RES) <= 64]
        return {
            "geom.pip_us_per_point": self.pip_us_per_point,
            "grid.covering_ms_per_poly": per_unit_ms(
                lambda e: covering_cells(e, JOIN_RES), envs),
        }


class ZonalPixels(Workload):
    """scan -> tile.assign_cells -> zonal.zonal_stats
    (bench.py: flagship_zonal_pixels).  Decodes every paired tile and
    rasterizes each polygon; its only shuffle is the partials groupBy."""

    name = "zonal_pixels"
    table = "zonal"
    n_ref_features = 6

    def iterate(self, phase):
        from raster_tools_spark.operators import zonal

        phase("iter")
        rows, wall, cpu = timed(lambda: zonal.zonal_stats(
            self.cells(), self.polys).collect())
        return Iteration([tuple(r) for r in rows], wall, cpu)

    def reference(self):
        """Driver-side stats of a few non-hot polygons: every image whose
        bounds meet the polygon envelope is decoded and masked with
        geom.rasterize_mask, with no cell join and no partials."""
        if hasattr(self, "_ref"):
            return self._ref
        from raster_tools_spark import codecs, geom
        from raster_tools_spark.grid import CELL_SIZE, GeoTransform
        from raster_tools_spark.operators.zonal import NODATA_DEFAULT

        meta, polys = self.meta(), self.polygons()
        ref = {}
        x0, yt = meta["x0"].to_numpy(), meta["y_top"].to_numpy()
        x1 = x0 + meta["w"].to_numpy() * CELL_SIZE
        y1 = yt - meta["h"].to_numpy() * CELL_SIZE
        area = [(geom.area(bytes(b)), int(f), bytes(b))
                for f, b in zip(polys["feat_id"], polys["geom_wkb"])]
        # the smallest polygons: never a hot one, few tiles to decode
        for _, fid, wkb in sorted(area)[: 4 * self.n_ref_features]:
            ex1, ex2, ey1, ey2 = geom.envelope(wkb)
            hit = np.flatnonzero((x0 < ex2) & (x1 > ex1)
                                 & (y1 < ey2) & (yt > ey1))
            size = cnt = 0
            s, mn, mx = 0.0, np.inf, -np.inf
            for i in hit:
                r = meta.iloc[i]
                px = codecs.decode(bytes(r["bytes"]), r["fmt"])
                gt = GeoTransform((r["x0"], CELL_SIZE, 0.0, r["y_top"], 0.0,
                                   -CELL_SIZE))
                mask = geom.rasterize_mask(wkb, gt, px.shape[0], px.shape[1])
                vals = px[mask]
                data = vals[vals != NODATA_DEFAULT].astype(np.float64)
                size += int(mask.sum())
                cnt += int(data.size)
                if data.size:
                    s += float(data.sum())
                    mn, mx = min(mn, data.min()), max(mx, data.max())
            if size:
                ref[fid] = (size, cnt, s / cnt if cnt else None,
                            float(mn), float(mx))
            if len(ref) == self.n_ref_features:
                break
        self._ref = ref
        return ref

    def check(self, out):
        errs = self._digest_check(digest(out))
        by_fid = {r[0]: r for r in out}
        for fid, (size, cnt, mean, mn, mx) in self.reference().items():
            r = by_fid.get(fid)
            if r is None:
                errs.append(f"feature {fid} missing from zonal_stats")
                continue
            _, gsize, gcnt, gmean, _, gmn, gmx = r[:7]
            if (gsize, gcnt) != (size, cnt) or (cnt and (
                    (gmn, gmx) != (mn, mx)
                    or abs(gmean - mean) > 1e-9 * max(1.0, abs(mean)))):
                errs.append(f"feature {fid}: zonal {r[1:7]} vs reference "
                            f"{(size, cnt, mean, mn, mx)}")
        return errs

    def prefixes(self):
        from raster_tools_spark.operators import zonal

        return {
            "scan": lambda: self.images.select(
                "image_id", "bytes", "fmt", "phash", "w", "h"),
            "assign": lambda: self.cells().select(
                "image_id", "bytes", "fmt", "x0", "y_top", "w", "h"),
            "op": lambda: zonal.zonal_stats(self.cells(), self.polys),
        }

    def kernels(self):
        from raster_tools_spark import geom
        from raster_tools_spark.grid import CELL_SIZE, GeoTransform

        meta = self.meta().head(32)
        rings = [(geom.envelope(bytes(b)), geom._rings_of(bytes(b)))
                 for b in self.polygons()["geom_wkb"]]
        pairs = []
        for r in meta.itertuples():
            bx1, bx2 = r.x0, r.x0 + r.w * CELL_SIZE
            by1, by2 = r.y_top - r.h * CELL_SIZE, r.y_top
            gt = GeoTransform((r.x0, CELL_SIZE, 0.0, r.y_top, 0.0,
                               -CELL_SIZE))
            pairs += [(rg, gt, r.h, r.w) for (ex1, ex2, ey1, ey2), rg in rings
                      if ex1 < bx2 and ex2 > bx1 and ey1 < by2 and ey2 > by1]
        return {
            "geom.rasterize_ms_per_pair": per_unit_ms(
                lambda p: geom.rasterize_mask_rings(*p), pairs[:64]),
            **self.decode_kernels(),
        }


class RetileResume(Workload):
    """retile.retile_job into fresh output and manifest directories, then
    an identical replay that must find nothing pending.  The only
    workload that writes, shuffles full payloads and png-encodes."""

    name = "retile_resume"
    table = "retile"
    uses_polygons = False
    job_id = "retile"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.out_dir = os.path.join(self.work_dir, "retile_out")
        self.man_dir = os.path.join(self.work_dir, "retile_manifest")

    def _job(self):
        from raster_tools_spark.operators import retile

        retile.retile_job(self.spark, self.cells(), self.out_dir,
                          self.man_dir, job_id=self.job_id)

    def _state(self):
        from pyspark.sql import functions as F

        out = self.spark.read.parquet(self.out_dir).select(
            "_unit", "cell_id", F.sha2("bytes", 256), "n_sources",
            "active_px", "x0", "y_top").collect()
        man = self.spark.read.parquet(self.man_dir).select(
            "unit", "rows", "bytes").collect()
        return digest([("o", *r) for r in out] + [("m", *r) for r in man]), \
            [int(r["unit"]) for r in man]

    def iterate(self, phase):
        from pyspark.sql import functions as F

        from raster_tools_spark import manifest

        for d in (self.out_dir, self.man_dir):
            shutil.rmtree(d, ignore_errors=True)
        phase("iter")
        _, wall, cpu = timed(self._job)
        phase("check")
        d1, units1 = self._state()
        disk = sum(os.path.getsize(os.path.join(dp, f))
                   for top in (self.out_dir, self.man_dir)
                   for dp, _, fs in os.walk(top) for f in fs)
        files = sum(f.endswith(".parquet")
                    for top in (self.out_dir, self.man_dir)
                    for _, _, fs in os.walk(top) for f in fs)
        phase("iter")
        t0 = time.perf_counter()
        self._job()
        resume_s = time.perf_counter() - t0
        phase("check")
        d2, units2 = self._state()
        pending = manifest.pending_units(
            self.cells().withColumn("unit", F.col("qk_r7")), self.spark,
            self.man_dir, self.job_id).count()
        return Iteration((d1, units1, d2, units2, pending), wall, cpu, {
            "resume_s": resume_s,
            "write_amp": disk / self.inputs.payload_bytes,
            "write.bytes": disk, "write.files": files,
            "manifest.units": len(units1), "manifest.pending_on_replay": pending,
        })

    def check(self, out):
        from raster_tools_spark.grid import cell_of_xy

        d1, units1, d2, units2, pending = out
        errs = self._digest_check(d1)
        if d2 != d1 or len(units2) != len(units1):
            errs.append(f"replay changed the output or manifest "
                        f"({len(units1)} -> {len(units2)} manifest rows)")
        if pending:
            errs.append(f"{pending} units still pending after the replay")
        meta = self.meta()
        want = {int(c) for c in cell_of_xy(meta["cx"].to_numpy(),
                                           meta["cy"].to_numpy(), 7)}
        if set(units1) != want or len(units1) != len(want):
            errs.append(f"manifest units {len(units1)} != the {len(want)} "
                        f"distinct r7 units of the input")
        return errs

    def prefixes(self):
        from raster_tools_spark.operators import retile

        return {
            "scan": lambda: self.images.select(
                "image_id", "bytes", "fmt", "phash", "w", "h"),
            "assign": lambda: self.cells().select(
                "image_id", "bytes", "fmt", "x0", "y_top", "w", "h",
                "qk_r7"),
            "op": lambda: retile.retile(self.cells()),
        }

    def kernels(self):
        from raster_tools_spark import codecs

        arrays = [codecs.decode(*a) for a in self.decode_sample()["png"]]
        return {
            **self.decode_kernels(),
            "codecs.png_encode_ms_per_tile": per_unit_ms(
                codecs.png_encode, arrays),
        }


WORKLOADS = {w.name: w for w in (TilesPip, ZonalPixels, RetileResume)}
