"""Hierarchical grid-cell index (H3-style, integer quadtree).

The reference groups URL nodes by hostname level-by-level to build the
hostname tree (reference har2tree.py:680-708); our re-grounding replaces the
hostname key with a hierarchical spatial cell id. We implement the index
from first principles (no external geo lib): a feature key hashes to a
deterministic point on the [-180,180)x[-90,90) plane via two multiplicative
integer hashes, and the cell at resolution ``r`` is the quadtree square
containing it.

The cell math comes in THREE synchronized forms:
  * numpy (vectorized, used by the Python oracle and the exact kernel),
  * pyspark Column expressions (JVM-side, whole-stage-codegen — the hot path),
  * a SQL-text builder (DuckDB dialect, for the driver's oracle cross-check).
The numpy cell assembly and parent that the other two forms are checked
against live with the tests (``tests/grid_ref.py``).

Cell id layout (resolution <= 16):
    cell = (ix * 2^16 + iy) * 32 + r        (< 2^37)
where ix = hx >> (32 - r), iy = hy >> (32 - r) and
    hx = (key_num * HX_MULT) mod 2^32,  hy = (key_num * HY_MULT) mod 2^32.
Pure multiply/floor arithmetic so Spark, DuckDB and numpy agree bit-for-bit;
values stay far below 2^53 so a null-induced Arrow->pandas float64 round
trip cannot corrupt them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

HX_MULT = 2654435761  # Knuth multiplicative hash
HY_MULT = 2246822519  # xxhash prime 2
MOD32 = 1 << 32

FINE_RES = 12  # per-feature cell resolution (hostname analogue)
COARSE_RES = 5  # fallback_host grouping resolution (registrable-domain analogue)
TILE_LEVELS = (3, 6, 9, 12)  # hostname-tree levels analogue (har2tree.py:680-708)

_IY = 1 << 16  # ix multiplier
_RB = 32  # resolution field width


# ---------------------------------------------------------------- numpy ----
def np_hashes(key_num: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    k = np.asarray(key_num).astype(np.uint64)
    hx = (k * np.uint64(HX_MULT)) % np.uint64(MOD32)
    hy = (k * np.uint64(HY_MULT)) % np.uint64(MOD32)
    return hx.astype(np.int64), hy.astype(np.int64)


def np_point(key_num: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    hx, hy = np_hashes(key_num)
    lon = hx / MOD32 * 360.0 - 180.0
    lat = hy / MOD32 * 180.0 - 90.0
    return lon, lat


def np_cell(key_num: np.ndarray, res: int = FINE_RES) -> np.ndarray:
    hx, hy = np_hashes(key_num)
    ix = hx >> (32 - res)
    iy = hy >> (32 - res)
    return (ix * _IY + iy) * _RB + res


def np_cell_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    cell = np.asarray(cell, dtype=np.int64)
    res = cell % _RB
    rest = cell // _RB
    return res, rest // _IY, rest % _IY


_RING_OFFSETS: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def _ring_offsets(r: int) -> tuple[np.ndarray, np.ndarray]:
    if r not in _RING_OFFSETS:
        offs = [
            (dx, dy)
            for dx in range(-r, r + 1)
            for dy in range(-r, r + 1)
            if max(abs(dx), abs(dy)) == r
        ]
        arr = np.asarray(offs, dtype=np.int64)
        _RING_OFFSETS[r] = (arr[:, 0], arr[:, 1])
    return _RING_OFFSETS[r]


def np_ring(cell: int, radius: int) -> np.ndarray:
    """All cells at exactly Chebyshev distance ``radius`` from ``cell``
    (H3 kRing hollow-ring analogue), toroidal wrap at the grid edge so
    every cell has a full ring — keeps the kNN expansion deterministic.
    Offsets are cached and the ring is built in one vectorized shot."""
    cell = int(cell)
    res = cell % _RB
    rest = cell // _RB
    ix, iy = rest // _IY, rest % _IY
    if radius == 0:
        return np.asarray([cell], dtype=np.int64)
    n = 1 << res
    dx, dy = _ring_offsets(radius)
    return (((ix + dx) % n) * _IY + ((iy + dy) % n)) * _RB + res


# ------------------------------------------------------- Spark columns ----
def col_key_num(key: Column) -> Column:
    """'k123' -> 123; null-safe."""
    return F.substring(key, 2, 18).cast("long")


def col_hashes(key_num: Column) -> tuple[Column, Column]:
    """(k * MULT) mod 2^32 with every int64 intermediate < 2^48: k is split
    into 16-bit halves so no multiply can overflow under ANSI mode even for
    the 15-digit keys the key grammar admits. Only bits 0-31 of k influence
    the result (higher bits are ≡ 0 mod 2^32), matching numpy's uint64 wrap
    and the DuckDB builder below bit-for-bit."""
    lo = F.pmod(key_num, F.lit(1 << 16))
    hi = F.pmod(F.floor(key_num / F.lit(1 << 16)).cast("long"), F.lit(1 << 16))

    def h(mult: int) -> Column:
        return F.pmod(
            F.pmod(lo * F.lit(mult), F.lit(MOD32))
            + F.pmod(hi * F.lit(mult), F.lit(1 << 16)) * F.lit(1 << 16),
            F.lit(MOD32),
        )

    return h(HX_MULT), h(HY_MULT)


def col_point(key_num: Column) -> tuple[Column, Column]:
    hx, hy = col_hashes(key_num)
    return hx / MOD32 * 360.0 - 180.0, hy / MOD32 * 180.0 - 90.0


def _col_make_cell(res: int, ix: Column, iy: Column) -> Column:
    return ((ix * F.lit(_IY) + iy) * F.lit(_RB) + F.lit(res)).cast("long")


def col_cell_xy(cell: Column) -> tuple[Column, Column]:
    """(ix, iy) of a cell column (np_cell_xy without the resolution)."""
    rest = F.floor(cell / F.lit(_RB))
    return F.floor(rest / F.lit(_IY)), F.pmod(rest, F.lit(_IY))


def col_cell(key_num: Column, res: int = FINE_RES) -> Column:
    hx, hy = col_hashes(key_num)
    ix = F.floor(hx / F.lit(1 << (32 - res)))
    iy = F.floor(hy / F.lit(1 << (32 - res)))
    return _col_make_cell(res, ix, iy)


def col_cell_parent(cell: Column, res: int, parent_res: int) -> Column:
    """Coarsen a resolution-``res`` cell column to ``parent_res``."""
    ix, iy = col_cell_xy(cell)
    shift = 1 << (res - parent_res)
    return _col_make_cell(
        parent_res, F.floor(ix / F.lit(shift)), F.floor(iy / F.lit(shift))
    )


def col_cell_offset(cell: Column, dx: Column, dy: Column, res: int) -> Column:
    """The resolution-``res`` cell ``(dx, dy)`` steps from ``cell``, with
    np_ring's toroidal wrap at the grid edge."""
    n = 1 << res
    ix, iy = col_cell_xy(cell)
    return _col_make_cell(res, F.pmod(ix + dx, F.lit(n)), F.pmod(iy + dy, F.lit(n)))


# ------------------------------------------------------------ SQL text ----
def sql_hash(key_num_expr: str, mult: int) -> str:
    """DuckDB/ANSI text for (k * mult) mod 2^32 via the same 16-bit-half
    split as col_hashes — avoids BIGINT overflow for keys > ~3.47e9."""
    lo = f"(({key_num_expr}) % 65536)"
    hi = f"(CAST(FLOOR(({key_num_expr}) / 65536) AS BIGINT) % 65536)"
    return (
        f"((({lo} * {mult}) % {MOD32} + (({hi} * {mult}) % 65536) * 65536) % {MOD32})"
    )


def sql_cell(key_num_expr: str, res: int = FINE_RES) -> str:
    """DuckDB/ANSI SQL text computing the same cell id (oracle side)."""
    hx = sql_hash(key_num_expr, HX_MULT)
    hy = sql_hash(key_num_expr, HY_MULT)
    ix = f"CAST(FLOOR(({hx}) / {1 << (32 - res)}) AS BIGINT)"
    iy = f"CAST(FLOOR(({hy}) / {1 << (32 - res)}) AS BIGINT)"
    return f"((({ix}) * {_IY} + ({iy})) * {_RB} + {res})"


def sql_cell_parent(cell_expr: str, res: int, parent_res: int) -> str:
    shift = 1 << (res - parent_res)
    rest = f"CAST(FLOOR(({cell_expr}) / {_RB}) AS BIGINT)"
    ix = f"CAST(FLOOR(({rest}) / {_IY}) AS BIGINT)"
    iy = f"(({rest}) % {_IY})"
    return (
        f"((CAST(FLOOR(({ix}) / {shift}) AS BIGINT) * {_IY} "
        f"+ CAST(FLOOR(({iy}) / {shift}) AS BIGINT)) * {_RB} + {parent_res})"
    )
