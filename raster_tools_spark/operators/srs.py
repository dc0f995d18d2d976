"""Planar spatial-reference transforms for vector layers (SURVEY.md
missing-item: the reference reprojects feature geometries between
spatial reference systems before extraction/rasterization --
extract.py:574-580 ``geometry.Transform(osr.CoordinateTransformation
(sr, self.sr))`` and postgis.py:108-117.  This environment has no
PROJ, and the engine fixes one planar world CRS by design
(grid.py:36-44), so the re-expression covers the planar family:
every CRS is an affine frame (local -> world), and a CRS-to-CRS
transform is the exact 2x2-inverse composition inv(dst) o src --
which is what a projected-to-projected coordinate transformation is
once both sides are planar.

The transform itself runs as ONE Arrow-batched pandas UDF over the
WKB column (every ring transformed vectorized in numpy, geometry
types preserved), so a 10^12-row layer reprojects embarrassingly
parallel with no shuffle at all -- the scan partitioning is the
execution partitioning.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import wkb as _wkb
from ..grid import get_inverse

#: affine frame (a, b, tx, c, d, ty): world_x = a*x + b*y + tx,
#: world_y = c*x + d*y + ty
Affine = Tuple[float, float, float, float, float, float]

#: the engine's canonical world frame (identity)
WORLD: Affine = (1.0, 0.0, 0.0, 0.0, 1.0, 0.0)


def compose(outer: Affine, inner: Affine) -> Affine:
    """outer o inner as an affine frame."""
    a1, b1, tx1, c1, d1, ty1 = outer
    a2, b2, tx2, c2, d2, ty2 = inner
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        a1 * tx2 + b1 * ty2 + tx1,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        c1 * tx2 + d1 * ty2 + ty1,
    )


def inverse(frame: Affine) -> Affine:
    """Exact affine inverse (2x2 inverse via grid.get_inverse, the
    reference's own matrix-inverse helper, utils.py:13-16)."""
    a, b, tx, c, d, ty = frame
    ia, ib, ic, id_ = get_inverse(a, b, c, d)
    return (ia, ib, -(ia * tx + ib * ty),
            ic, id_, -(ic * tx + id_ * ty))


def crs_transform(src: Affine, dst: Affine) -> Affine:
    """Coordinates in ``src`` frame -> coordinates in ``dst`` frame
    (the osr.CoordinateTransformation(sr, self.sr) analog)."""
    return compose(inverse(dst), src)


def _apply(arr: np.ndarray, t: Affine) -> np.ndarray:
    a, b, tx, c, d, ty = t
    out = np.empty_like(arr)
    out[:, 0] = a * arr[:, 0] + b * arr[:, 1] + tx
    out[:, 1] = c * arr[:, 0] + d * arr[:, 1] + ty
    return out


def transform_wkb(payload: bytes, t: Affine) -> bytes:
    """Transform every coordinate of one WKB geometry, preserving the
    geometry type (Point/LineString/Polygon/MultiPolygon)."""
    gtype, data = _wkb.parse(payload)
    if gtype == _wkb.POINT:
        x, y = data
        a, b, tx, c, d, ty = t
        return _wkb.point_wkb(a * x + b * y + tx, c * x + d * y + ty)
    if gtype == _wkb.LINESTRING:
        return _wkb.linestring_wkb(_apply(data, t))
    if gtype == _wkb.POLYGON:
        rings = [_apply(r, t) for r in data]
        return _wkb.polygon_wkb(rings[0], rings[1:])
    if gtype == _wkb.MULTIPOLYGON:
        return _wkb.multipolygon_wkb(
            [
                _wkb.polygon_wkb(
                    _apply(p[0], t), [_apply(r, t) for r in p[1:]]
                )
                for p in data
            ]
        )
    raise ValueError(f"unsupported geometry type {gtype}")


# ---------------------------------------------------------------------------
# curvilinear family: geographic (lon/lat, WGS84) <-> projected
# ---------------------------------------------------------------------------
# The reference's osr path (extract.py:574-580) also reprojects between
# geographic and projected CRSs.  No PROJ exists in this environment, so
# the two workhorse projections are implemented from their published
# closed forms: spherical Web Mercator (the EPSG:3857 definition) and
# ellipsoidal transverse Mercator via the Krueger alpha/beta series
# (Karney 2011, "Transverse Mercator with an accuracy of a few
# nanometers" -- public formulas).  Hyperbolic functions are spelled as
# exp/ln compositions so an ANSI-SQL engine without sinh/atanh can
# mirror every step with the same arithmetic.

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
#: third flattening n = f / (2 - f)
WGS84_N = WGS84_F / (2.0 - WGS84_F)
#: rectifying radius A = a/(1+n) * (1 + n^2/4 + n^4/64 + n^6/256)
WGS84_RECT_A = (
    WGS84_A
    / (1.0 + WGS84_N)
    * (1.0 + WGS84_N ** 2 / 4.0 + WGS84_N ** 4 / 64.0
       + WGS84_N ** 6 / 256.0)
)


def _krueger_alpha(n: float) -> Tuple[float, ...]:
    """Forward (geodetic -> TM) series coefficients, order 6."""
    return (
        n / 2 - 2 * n ** 2 / 3 + 5 * n ** 3 / 16 + 41 * n ** 4 / 180
        - 127 * n ** 5 / 288 + 7891 * n ** 6 / 37800,
        13 * n ** 2 / 48 - 3 * n ** 3 / 5 + 557 * n ** 4 / 1440
        + 281 * n ** 5 / 630 - 1983433 * n ** 6 / 1935360,
        61 * n ** 3 / 240 - 103 * n ** 4 / 140 + 15061 * n ** 5 / 26880
        + 167603 * n ** 6 / 181440,
        49561 * n ** 4 / 161280 - 179 * n ** 5 / 168
        + 6601661 * n ** 6 / 7257600,
        34729 * n ** 5 / 80640 - 3418889 * n ** 6 / 1995840,
        212378941 * n ** 6 / 319334400,
    )


def _krueger_beta(n: float) -> Tuple[float, ...]:
    """Inverse (TM -> geodetic) series coefficients, order 6."""
    return (
        n / 2 - 2 * n ** 2 / 3 + 37 * n ** 3 / 96 - n ** 4 / 360
        - 81 * n ** 5 / 512 + 96199 * n ** 6 / 604800,
        n ** 2 / 48 + n ** 3 / 15 - 437 * n ** 4 / 1440
        + 46 * n ** 5 / 105 - 1118711 * n ** 6 / 3870720,
        17 * n ** 3 / 480 - 37 * n ** 4 / 840 - 209 * n ** 5 / 4480
        + 5569 * n ** 6 / 90720,
        4397 * n ** 4 / 161280 - 11 * n ** 5 / 504
        - 830251 * n ** 6 / 7257600,
        4583 * n ** 5 / 161280 - 108847 * n ** 6 / 3991680,
        20648693 * n ** 6 / 638668800,
    )


ALPHA = _krueger_alpha(WGS84_N)
BETA = _krueger_beta(WGS84_N)


def _sinh(x):
    # exp/ln spelling so the SQL mirror is the same arithmetic
    return 0.5 * (np.exp(x) - np.exp(-x))


def _cosh(x):
    return 0.5 * (np.exp(x) + np.exp(-x))


def _atanh(x):
    return 0.5 * np.log((1.0 + x) / (1.0 - x))


def webmerc_forward(lon, lat):
    """Spherical (Web) Mercator EPSG:3857 forward: lon/lat degrees ->
    meters.  x = a*radians(lon); y = a*ln(tan(pi/4 + radians(lat)/2))."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = WGS84_A * np.radians(lon)
    y = WGS84_A * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def webmerc_inverse(x, y):
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon = np.degrees(x / WGS84_A)
    lat = np.degrees(2.0 * np.arctan(np.exp(y / WGS84_A)) - np.pi / 2.0)
    return lon, lat


def tm_forward(lon, lat):
    """Ellipsoidal transverse Mercator forward in UTM zone 31 (central
    meridian 3 E, scale 0.9996, false easting 500 km): degrees ->
    (easting, northing) meters.  Krueger alpha series, order 6
    (sub-nanometer within a zone)."""
    lam = np.radians(np.asarray(lon, dtype=np.float64) - 3.0)
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    n = WGS84_N
    e2n = 2.0 * np.sqrt(n) / (1.0 + n)
    sphi = np.sin(phi)
    # conformal latitude via tau' = sinh(atanh(sin phi) - e2n*atanh(e2n*sin phi))
    t = _sinh(_atanh(sphi) - e2n * _atanh(e2n * sphi))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = _atanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, a_j in enumerate(ALPHA, start=1):
        xi = xi + a_j * np.sin(2 * j * xi_p) * _cosh(2 * j * eta_p)
        eta = eta + a_j * np.cos(2 * j * xi_p) * _sinh(2 * j * eta_p)
    easting = 500000.0 + 0.9996 * WGS84_RECT_A * eta
    northing = 0.0 + 0.9996 * WGS84_RECT_A * xi
    return easting, northing


def tm_inverse(easting, northing):
    """Ellipsoidal transverse Mercator inverse in UTM zone 31 (Krueger
    beta series + conformal-to-geodetic latitude series)."""
    n = WGS84_N
    xi = np.asarray(northing, dtype=np.float64) / (
        0.9996 * WGS84_RECT_A
    )
    eta = (np.asarray(easting, dtype=np.float64) - 500000.0) / (
        0.9996 * WGS84_RECT_A
    )
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, b_j in enumerate(BETA, start=1):
        xi_p = xi_p - b_j * np.sin(2 * j * xi) * _cosh(2 * j * eta)
        eta_p = eta_p - b_j * np.cos(2 * j * xi) * _sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / _cosh(eta_p))
    # conformal -> geodetic latitude, order-4 series in n
    phi = (
        chi
        + (2 * n - 2 * n ** 2 / 3 - 2 * n ** 3 + 116 * n ** 4 / 45)
        * np.sin(2 * chi)
        + (7 * n ** 2 / 3 - 8 * n ** 3 / 5 - 227 * n ** 4 / 45)
        * np.sin(4 * chi)
        + (56 * n ** 3 / 15 - 136 * n ** 4 / 35) * np.sin(6 * chi)
        + (4279 * n ** 4 / 630) * np.sin(8 * chi)
    )
    lam = np.arctan2(_sinh(eta_p), np.cos(xi_p))
    return np.degrees(lam) + 3.0, np.degrees(phi)


#: pointwise curvilinear maps by name (each: (x_arr, y_arr) -> (x, y))
CURVILINEAR = {
    "geodetic->webmerc": webmerc_forward,
    "webmerc->geodetic": webmerc_inverse,
    "geodetic->utm": tm_forward,
    "utm->geodetic": tm_inverse,
}


def transform_layer_curvilinear(layer: DataFrame, kind: str) -> DataFrame:
    """Reproject a vector layer's WKB geometries through a pointwise
    curvilinear map (``kind`` from :data:`CURVILINEAR`).  Same
    shuffle-free shape as :func:`transform_layer`: one Arrow-batched
    pandas UDF, scan partitioning = execution partitioning, geometry
    types preserved.  Curvilinear maps do NOT preserve straight lines;
    vertices are mapped exactly and segments stay chords, which matches
    the reference's osr behavior (vertex transform, no densification)."""
    fn = CURVILINEAR[kind]

    def tf_arr(arr: np.ndarray) -> np.ndarray:
        x, y = fn(arr[:, 0], arr[:, 1])
        return np.column_stack([x, y])

    def tf_one(payload: bytes) -> bytes:
        gtype, data = _wkb.parse(payload)
        if gtype == _wkb.POINT:
            x, y = fn(np.array([data[0]]), np.array([data[1]]))
            return _wkb.point_wkb(float(x[0]), float(y[0]))
        if gtype == _wkb.LINESTRING:
            return _wkb.linestring_wkb(tf_arr(data))
        if gtype == _wkb.POLYGON:
            rings = [tf_arr(r) for r in data]
            return _wkb.polygon_wkb(rings[0], rings[1:])
        if gtype == _wkb.MULTIPOLYGON:
            return _wkb.multipolygon_wkb(
                [
                    _wkb.polygon_wkb(tf_arr(p[0]),
                                     [tf_arr(r) for r in p[1:]])
                    for p in data
                ]
            )
        raise ValueError(f"unsupported geometry type {gtype}")

    @F.pandas_udf("binary")
    def tf(col: pd.Series) -> pd.Series:
        return col.map(lambda b: tf_one(bytes(b)))

    return layer.withColumn("geom_wkb", tf(F.col("geom_wkb")))


def transform_layer(
    layer: DataFrame,
    src: Affine,
    dst: Affine = WORLD,
) -> DataFrame:
    """Reproject a vector layer's WKB geometries from the ``src``
    planar frame into the ``dst`` frame (the _prepare_geometry step of
    the reference's extract pipeline).  One vectorized pandas UDF, no
    shuffle; all other columns pass through untouched."""
    t = crs_transform(src, dst)

    @F.pandas_udf("binary")
    def tf(col: pd.Series) -> pd.Series:
        return col.map(lambda b: transform_wkb(bytes(b), t))

    return layer.withColumn("geom_wkb", tf(F.col("geom_wkb")))
