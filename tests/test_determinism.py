"""North-rule determinism: the same job at two parallelism levels must
produce bit-identical tile assignments and PIP join rows
(SURVEY.md section 5 item 4)."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys
sys.path.insert(0, sys.argv[2])
cpus = int(sys.argv[1])
from raster_tools_spark.session import get_spark
from raster_tools_spark import synth
from raster_tools_spark.operators import pip, tile

spark = get_spark(master=f"local[{cpus}]", app_name=f"det{cpus}")
images = synth.images_df(spark, 200, tiles_axis=64)
cells = tile.assign_cells(images, tiles_axis=64)
polys = synth.polygons_df(spark, 25, tiles_axis=64)
assign = sorted(
    (r.image_id, r.qk_r9, r.qk_r11)
    for r in cells.select("image_id", "qk_r9", "qk_r11").collect()
)
pairs = sorted(
    (r.image_id, r.feat_id)
    for r in pip.pip_join(cells, polys)
    .select("image_id", "feat_id")
    .collect()
)

# round-3 training-data ops: stateful/banded paths must also be
# partitioning-invariant
import pandas as pd
from raster_tools_spark.functions import dedup, text as ftext

docs = spark.createDataFrame(
    pd.DataFrame(
        [(i, " ".join(f"tok{(i * 13 + j * 7) % 23}" for j in range(30)))
         for i in range(60)],
        columns=["doc_id", "text"],
    ),
    schema="doc_id long, text string",
).repartition(cpus)
packs = sorted(
    (r.doc_id, r.shard, r.pack_id)
    for r in ftext.pack_sequences(docs, budget=64).collect()
)
near = sorted(
    (r.doc_a, r.doc_b, r.hamming)
    for r in dedup.simhash_near_dup(docs).collect()
)
contam = sorted(
    (r.doc_id, r.n_grams, r.n_hits)
    for r in dedup.contamination(
        docs.filter("doc_id % 7 != 0"), docs.filter("doc_id % 7 = 0")
    ).collect()
)
# round-4 ops: exact convex difference and the planar SRS transform
import numpy as np
from raster_tools_spark import wkb
from raster_tools_spark.operators import overlay, srs

def _diamond(cx, cy, r):
    return wkb.polygon_wkb(
        [(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r)]
    )

l1 = spark.createDataFrame(
    pd.DataFrame(
        [(k, _diamond(k * 200.0 + 64.0, 500.0, 8.0 + k % 4))
         for k in range(12)],
        columns=["feat_id", "geom_wkb"],
    )
).repartition(cpus)
l2 = spark.createDataFrame(
    pd.DataFrame(
        [(k, wkb.box_wkb(k * 200.0 + 64.0 + 2.0, 480.0,
                         k * 200.0 + 120.0, 520.0))
         for k in range(12)],
        columns=["feat_id", "geom_wkb"],
    )
).repartition(cpus)
diffs = sorted(
    (r.feat_id, r.ring_id, r.n_pts, round(r.area, 9), r.is_hole)
    for r in overlay.mask_difference_polygons(l1, l2)
    .collect()
)
tf = sorted(
    (r.feat_id, bytes(r.geom_wkb).hex())
    for r in srs.transform_layer(
        l1, src=(0.0, -2.0, 1000.0, 2.0, 0.0, 500.0),
        dst=(0.5, 0.0, 10.0, 0.0, 0.5, 20.0),
    ).collect()
)
print(json.dumps({"assign": assign, "pairs": pairs, "packs": packs,
                  "near": near, "contam": contam, "diffs": diffs,
                  "tf": tf}))
spark.stop()
"""


def _run(cpus: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(cpus), ROOT],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_bit_identical_across_parallelism():
    a = _run(8)
    b = _run(32)
    assert a["assign"] == b["assign"]
    assert a["pairs"] == b["pairs"]
    assert len(a["pairs"]) > 0
    assert a["packs"] == b["packs"] and len(a["packs"]) == 60
    assert a["near"] == b["near"]
    assert a["contam"] == b["contam"] and len(a["contam"]) > 0
    assert a["diffs"] == b["diffs"] and len(a["diffs"]) >= 12
    assert a["tf"] == b["tf"] and len(a["tf"]) == 12
