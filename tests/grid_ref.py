"""numpy reference forms of the cell assembly and parent, kept next to the
tests that check the Column and SQL forms of ``geo/grid.py`` against them."""

import numpy as np

from har2tree_spark.geo.grid import _IY, _RB, np_cell_xy


def make_cell(res, ix, iy):
    return (np.asarray(ix, dtype=np.int64) * _IY + np.asarray(iy, dtype=np.int64)) * _RB + res


def np_cell_parent(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Re-index a cell at a coarser resolution (H3 cellToParent analogue)."""
    res, ix, iy = np_cell_xy(cell)
    shift = res - parent_res
    return ((ix >> shift) * _IY + (iy >> shift)) * _RB + parent_res
