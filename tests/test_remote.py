"""Remote extraction/upload plumbing (sources/remote.py, reference
rextract.py / upload.py): resume semantics, fatal-status surfacing,
chunk assembly, and upload part splitting.  The happy path + retry
schedule + pixel integrity are oracle-checked by queries.remote_extract."""

import math
import zlib

import numpy as np
import pytest

from raster_tools_spark.grid import CELL_SIZE, WORLD_TOP
from raster_tools_spark.sources import remote

FEATS_SCHEMA = (
    "feat_id long, x1 double, y1 double, x2 double, y2 double"
)


def _feats(spark):
    return spark.createDataFrame(
        [
            (1, 100.0, WORLD_TOP - 90.0, 180.0, WORLD_TOP - 20.0),
            (2, 400.0, WORLD_TOP - 50.0, 430.0, WORLD_TOP - 10.0),
        ],
        FEATS_SCHEMA,
    )


def test_resume_left_anti(spark):
    reqs = remote.chunk_requests(_feats(spark), chunk_px=64)
    full = remote.fetch_chunks(reqs, remote.fake_raster_transport())
    rows = full.collect()
    keys = {(r.feat_id, r.serial) for r in rows}
    done = spark.createDataFrame(
        [k for k in sorted(keys)[: len(keys) // 2]],
        "feat_id long, serial int",
    )
    pending = reqs.join(done, ["feat_id", "serial"], "left_anti")
    rest = remote.fetch_chunks(
        pending, remote.fake_raster_transport()
    ).collect()
    rest_keys = {(r.feat_id, r.serial) for r in rest}
    assert rest_keys == keys - set(
        (r.feat_id, r.serial) for r in done.collect()
    )
    assert all(r.status == 200 for r in rest)


def test_fatal_status_surfaces_as_row(spark):
    def fatal(params):
        if params["serial"] == 2:
            return 404, b""
        return remote.fake_raster_transport()(params)

    reqs = remote.chunk_requests(_feats(spark), chunk_px=64)
    out = {
        (r.feat_id, r.serial): r
        for r in remote.fetch_chunks(reqs, fatal).collect()
    }
    bad = [r for k, r in out.items() if k[1] == 2]
    assert bad and all(
        r.status == 404 and r.attempts == 1 and len(bytes(r.bytes)) == 0
        for r in bad
    )
    # everything else still fetched
    assert all(
        r.status == 200 for k, r in out.items() if k[1] != 2
    )


def test_chunk_assembly_matches_service(spark):
    """Stitching a feature's chunks reproduces the service's window."""
    reqs = remote.chunk_requests(_feats(spark), chunk_px=64)
    rows = remote.fetch_chunks(
        reqs, remote.fake_raster_transport()
    ).filter("feat_id = 1").collect()
    # window of feature 1: x [100, 180), y [TOP-90, TOP-20) -> 160x140
    W, H = 160, 140
    wj0 = int(100.0 / CELL_SIZE)
    wi0 = int((WORLD_TOP - (WORLD_TOP - 20.0)) / CELL_SIZE)
    canvas = np.full((H, W), 255, np.uint8)
    for r in rows:
        px = np.frombuffer(
            zlib.decompress(bytes(r.bytes)), np.uint8
        ).reshape(r.height, r.width)
        j0 = int(math.floor(r.x1 / CELL_SIZE)) - wj0
        i0 = int(math.floor((WORLD_TOP - r.y2) / CELL_SIZE)) - wi0
        canvas[i0:i0 + r.height, j0:j0 + r.width] = px
    ii, jj = np.meshgrid(
        np.arange(wi0, wi0 + H), np.arange(wj0, wj0 + W), indexing="ij"
    )
    expect = ((7 * ii + 13 * jj + 3) % 251).astype(np.uint8)
    assert np.array_equal(canvas, expect)


def fake_upload_transport(sink: dict, fail_first_every: int = 0):
    """Collecting stand-in upload endpoint (tests reassemble from
    ``sink`` to prove part integrity)."""
    seen: set = set()

    def transport(params: dict):
        key = (params["object_id"], params["part"])
        if (
            fail_first_every
            and params["part"] % fail_first_every == 0
            and key not in seen
        ):
            seen.add(key)
            return 503
        sink.setdefault(params["object_id"], {})[params["part"]] = (
            params["body"]
        )
        return 200

    return transport


def test_upload_receipts(spark, monkeypatch):
    data = bytes(bytearray(range(256)) * 600)  # 153,600 B -> 3 parts
    df = spark.createDataFrame(
        [("obj1", data)], "object_id string, bytes binary"
    )
    sink: dict = {}
    monkeypatch.setattr(
        remote, "default_transport",
        fake_upload_transport(sink, fail_first_every=2),
    )
    out = remote.upload_parts(df).collect()
    got = {r.part: r for r in out}
    assert sorted(got) == [0, 1, 2]
    assert [got[p].n_bytes for p in (0, 1, 2)] == [65536, 65536, 22528]
    assert all(r.status == 200 for r in out)
    # parts 0 and 2 hit the injected 503 once
    assert got[0].attempts == 2 and got[2].attempts == 2
    assert got[1].attempts == 1


def test_upload_reassembly_in_process():
    """The collecting transport reassembles byte-identically (run in
    process: executor-side sink dicts are not visible to the driver)."""
    sink: dict = {}
    tr = fake_upload_transport(sink)
    data = b"abcdefgh" * 5000
    part_bytes = 16384
    n = (len(data) + part_bytes - 1) // part_bytes
    for p in range(n):
        assert tr({
            "object_id": "o", "part": p,
            "body": data[p * part_bytes:(p + 1) * part_bytes],
        }) == 200
    joined = b"".join(sink["o"][p] for p in range(n))
    assert joined == data


def test_default_transport_is_disclosed_stub(spark):
    reqs = remote.chunk_requests(_feats(spark), chunk_px=64)
    with pytest.raises(Exception):
        remote.fetch_chunks(reqs).collect()
