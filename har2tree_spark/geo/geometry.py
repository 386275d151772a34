"""Vectorized geometry kernels (numpy; no external geo libs).

Polygons in this engine are the "page-root region" analogue of the
reference's per-page fallback attachment (reference har2tree.py:806-853):
every attached ``html`` span (page root) owns a hexagonal region around its
point; dangling points falling inside a region attach to that page root.

These kernels are shared verbatim by the Python oracle and by the exact
kernel's ``fallback_pip`` step so float behavior is bit-identical on both
sides.
"""

from __future__ import annotations

import numpy as np

# region radius in degrees (~ width of a resolution-7 grid cell)
REGION_RADIUS_DEG = 360.0 / (1 << 7)
_HEX_ANGLES = np.deg2rad(np.arange(0, 360, 60, dtype=np.float64))


def hex_polygon(lon: float, lat: float, radius: float = REGION_RADIUS_DEG) -> np.ndarray:
    """(6,2) vertex array of the hexagon centered at (lon, lat)."""
    return np.stack(
        [lon + radius * np.cos(_HEX_ANGLES), lat + radius * np.sin(_HEX_ANGLES)],
        axis=1,
    )


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Vectorized even-odd ray casting: bool mask of points inside ``poly``.

    Standard crossing-number algorithm; edges (x1,y1)->(x2,y2), a rightward
    ray from each point toggles on each crossed edge. Vectorized across
    edges AND points in one shot (same elementwise float formula as the
    per-edge loop, so results are bit-identical)."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x1 = poly[:, 0][None, :]
    y1 = poly[:, 1][None, :]
    x2 = np.roll(poly[:, 0], -1)[None, :]
    y2 = np.roll(poly[:, 1], -1)[None, :]
    crosses = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    hits = crosses & (px < xint)
    # even-odd: odd number of crossed edges => inside
    return (hits.sum(axis=1) % 2).astype(bool)
