"""Grid math: numpy / Spark-column / SQL forms must agree bit-for-bit."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

from har2tree_spark.geo import grid


def test_cell_roundtrip():
    k = np.arange(1, 5000, dtype=np.int64)
    cell = grid.np_cell(k, grid.FINE_RES)
    res, ix, iy = grid.np_cell_xy(cell)
    assert (res == grid.FINE_RES).all()
    assert (ix < (1 << grid.FINE_RES)).all() and (iy < (1 << grid.FINE_RES)).all()
    assert (grid.make_cell(grid.FINE_RES, ix, iy) == cell).all()
    assert int(cell.max()) < (1 << 53)  # float64-safe


def test_parent_consistency():
    k = np.arange(1, 2000, dtype=np.int64)
    fine = grid.np_cell(k, grid.FINE_RES)
    coarse_direct = grid.np_cell(k, grid.COARSE_RES)
    coarse_via_parent = grid.np_cell_parent(fine, grid.COARSE_RES)
    assert (coarse_direct == coarse_via_parent).all()


def test_ring_and_disk():
    c = int(grid.np_cell(np.asarray([123]), grid.FINE_RES)[0])
    assert list(grid.np_ring(c, 0)) == [c]
    for r in (1, 2, 3):
        ring = grid.np_ring(c, r)
        assert len(ring) == 8 * r
        assert len(set(ring.tolist())) == 8 * r


def test_spark_column_matches_numpy(spark):
    k = np.arange(1, 3000, 7, dtype=np.int64)
    df = spark.createDataFrame([(int(x),) for x in k], "key_num long")
    got = (
        df.select(
            grid.col_cell(F.col("key_num"), grid.FINE_RES).alias("cell"),
            grid.col_cell(F.col("key_num"), grid.COARSE_RES).alias("coarse"),
            grid.col_cell_parent(
                grid.col_cell(F.col("key_num"), grid.FINE_RES),
                grid.FINE_RES,
                grid.COARSE_RES,
            ).alias("coarse2"),
        )
        .toPandas()
    )
    assert (got["cell"].to_numpy() == grid.np_cell(k, grid.FINE_RES)).all()
    assert (got["coarse"].to_numpy() == grid.np_cell(k, grid.COARSE_RES)).all()
    assert (got["coarse2"].to_numpy() == got["coarse"].to_numpy()).all()


def test_sql_matches_numpy():
    k = np.arange(1, 3000, 11, dtype=np.int64)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT unnest(?) AS key_num", [[int(x) for x in k]])
    cell_sql = grid.sql_cell("key_num", grid.FINE_RES)
    parent_sql = grid.sql_cell_parent(cell_sql, grid.FINE_RES, grid.COARSE_RES)
    got = con.execute(
        f"SELECT {cell_sql} AS cell, {parent_sql} AS coarse FROM t ORDER BY key_num"
    ).fetchnumpy()
    assert (got["cell"] == grid.np_cell(k, grid.FINE_RES)).all()
    assert (got["coarse"] == grid.np_cell(k, grid.COARSE_RES)).all()


def test_cover_bbox_and_compact():
    # cover must contain the cells of points inside the bbox at each res
    cover = grid.np_cover_bbox(-10, -10, 10, 10, max_cells=64)
    assert 1 <= len(cover) <= 64
    # a point well inside the box is covered at SOME ancestor level
    k = np.asarray([12345], dtype=np.int64)
    lon, lat = grid.np_point(k)
    inside = (-10 <= lon[0] < 10) and (-10 <= lat[0] < 10)
    cell = int(grid.np_cell(k, grid.FINE_RES)[0])
    ancestors = {
        int(grid.np_cell_parent(np.asarray([cell]), r)[0]) for r in range(0, 13)
    } | {cell}
    if inside:
        assert ancestors & set(cover.tolist())
    # compaction law: a full quartet promotes
    ix, iy = 8, 4
    quartet = grid.make_cell(
        3, np.asarray([2 * ix, 2 * ix, 2 * ix + 1, 2 * ix + 1]),
        np.asarray([2 * iy, 2 * iy + 1, 2 * iy, 2 * iy + 1]),
    )
    compacted = grid.np_compact(quartet)
    assert list(compacted) == [int(grid.make_cell(2, np.int64(ix), np.int64(iy)))]


def test_point_range():
    k = np.arange(1, 10000, dtype=np.int64)
    lon, lat = grid.np_point(k)
    assert (lon >= -180).all() and (lon < 180).all()
    assert (lat >= -90).all() and (lat < 90).all()


def test_cell_hash_no_overflow(spark):
    """Keys past the old int64-overflow threshold (k*MULT >= 2^63) must
    produce identical cells in all three dialects (ADVICE round 1)."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    ks = [3474701543, 3474701544, 4000000000, 999999999999999]
    want = grid.np_cell(np.asarray(ks, dtype=np.int64), grid.FINE_RES).tolist()
    df = spark.createDataFrame([(k,) for k in ks], "k long")
    got = [
        r[0]
        for r in df.select(grid.col_cell(F.col("k"), grid.FINE_RES).alias("c"))
        .orderBy("k")  # createDataFrame preserves order only per partition
        .collect()
    ]
    assert got == want
    con = duckdb.connect()
    sql = grid.sql_cell("k", grid.FINE_RES)
    duck = [
        con.execute(f"SELECT {sql} FROM (SELECT CAST(? AS BIGINT) AS k)", [k]).fetchone()[0]
        for k in ks
    ]
    assert duck == want
