"""Grid math: numpy / Spark-column / SQL forms must agree bit-for-bit."""

import duckdb
import numpy as np
from pyspark.sql import functions as F

from har2tree_spark.geo import grid

from grid_ref import make_cell, np_cell_parent


def test_cell_roundtrip():
    k = np.arange(1, 5000, dtype=np.int64)
    cell = grid.np_cell(k, grid.FINE_RES)
    res, ix, iy = grid.np_cell_xy(cell)
    assert (res == grid.FINE_RES).all()
    assert (ix < (1 << grid.FINE_RES)).all() and (iy < (1 << grid.FINE_RES)).all()
    assert (make_cell(grid.FINE_RES, ix, iy) == cell).all()
    assert int(cell.max()) < (1 << 53)  # float64-safe


def test_parent_consistency():
    k = np.arange(1, 2000, dtype=np.int64)
    fine = grid.np_cell(k, grid.FINE_RES)
    coarse_direct = grid.np_cell(k, grid.COARSE_RES)
    coarse_via_parent = np_cell_parent(fine, grid.COARSE_RES)
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


def test_column_offsets_match_ring(spark):
    """col_cell_offset over the radius-2 disk gives np_ring's cells ring by
    ring, wrap included (cells on the grid's edges), and col_cell_xy splits a
    cell as np_cell_xy does."""
    res, n = grid.FINE_RES, 1 << grid.FINE_RES
    cells = [int(make_cell(res, ix, iy)) for ix, iy in ((0, 0), (n - 1, 5), (100, n - 1))]
    offs = [(dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)]
    df = spark.createDataFrame(
        [(c, dx, dy) for c in cells for dx, dy in offs], "cell long, dx int, dy int"
    )
    ix, iy = grid.col_cell_xy(F.col("cell"))
    got = df.select(
        "cell",
        F.greatest(F.abs("dx"), F.abs("dy")).alias("ring"),
        grid.col_cell_offset(F.col("cell"), F.col("dx"), F.col("dy"), res).alias("nbr"),
        ix.cast("long").alias("ix"),
        iy.cast("long").alias("iy"),
    ).toPandas()
    for c in cells:
        mine = got[got.cell == c]
        for r in (0, 1, 2):
            assert sorted(mine[mine.ring == r].nbr) == sorted(grid.np_ring(c, r).tolist())
        _, want_x, want_y = grid.np_cell_xy(np.asarray([c]))
        assert set(mine.ix) == {int(want_x[0])} and set(mine.iy) == {int(want_y[0])}


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
