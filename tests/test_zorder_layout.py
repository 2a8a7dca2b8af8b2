"""Z-order clustered layout (sources/clustered.py): the write must make
parquet min/max statistics selective — a small bbox scan over z-ordered
files touches a small fraction of files/row groups, while the identical
data in a hash layout is untouchable by stats pruning.  Also pins the
native zvalue expression to the numpy Morton twin in kernels/cells."""

import os

import numpy as np
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from mvtspark.kernels.cells import _interleave_bits
from mvtspark.sources.clustered import (
    layout_prune_stats,
    read_bbox,
    write_zordered,
    zvalue,
)

BBOX = ((8, 11), (8, 11))  # 16 of 4096 zoom-6 tiles


def _grid_points(spark, n=60_000, grid=64):
    """Deterministic scatter over a grid x grid tile space.

    A single multiplicative scramble of id over grid^2 cells, split into
    (x, y) — covers every cell (multiplier odd => coprime to grid^2)
    in a spatially scattered order."""
    v = F.col("id") * 2654435761 % (grid * grid)
    return spark.range(0, n).select(
        F.col("id").alias("event_id"),
        (v % grid).cast("int").alias("x"),
        F.floor(v / grid).cast("int").alias("y"),
    )


def test_zvalue_matches_numpy_morton(spark):
    df = _grid_points(spark, n=5_000, grid=60_000).withColumn(
        "z", zvalue(F.col("x"), F.col("y"))
    )
    pdf = df.toPandas().sort_values("event_id")
    expect = _interleave_bits(
        pdf["x"].to_numpy(np.uint64), pdf["y"].to_numpy(np.uint64)
    ).view(np.int64)
    np.testing.assert_array_equal(pdf["z"].to_numpy(np.int64), expect)


@pytest.fixture()
def layouts(spark, tmp_path):
    pts = _grid_points(spark)
    zdir, hdir = str(tmp_path / "zord"), str(tmp_path / "hash")
    write_zordered(pts, zdir, n_files=16)
    # control: same data, same file count, hash-scattered layout
    pts.repartition(16, "event_id").write.parquet(hdir)
    return pts, zdir, hdir


def test_zorder_prunes_hash_layout_does_not(layouts):
    _, zdir, hdir = layouts
    (xr, yr) = BBOX
    zs = layout_prune_stats(zdir, xr, yr)
    hs = layout_prune_stats(hdir, xr, yr)
    # hash layout: every file spans the whole grid -> nothing prunable
    assert hs["files_touched"] == hs["files_total"] == 16
    # z-order: the 16-tile box lives in one curve segment (+1 for a
    # possible range-boundary straddle)
    assert zs["files_total"] == 16
    assert zs["files_touched"] <= 2
    assert zs["rowgroups_touched"] < zs["rowgroups_total"]


def test_bbox_read_correct_and_pushed(spark, layouts):
    pts, zdir, _ = layouts
    (xr, yr) = BBOX
    got = read_bbox(spark, zdir, xr, yr)
    # predicate reaches the parquet source
    plan = got._jdf.queryExecution().executedPlan().toString()
    # (the PushedFilters list is length-truncated in toString, so match
    # the operator name, not a specific column's entry)
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan
    expect = pts.where(
        F.col("x").between(*xr) & F.col("y").between(*yr)
    )
    assert got.count() == expect.count() > 0
    assert (
        got.select("event_id", "x", "y")
        .exceptAll(expect.select("event_id", "x", "y"))
        .count()
        == 0
    )


def test_zorder_layout_is_reproducible(spark, tmp_path):
    """The same data written twice must land in the same files. Spark's
    range exchange seeds its boundary sample with an RDD id, so the
    boundaries depended on how many jobs the session had run before —
    the same data pruned to 1, 2 or 3 files for the test box above."""
    import pyarrow.parquet as pq

    def file_ranges(path):
        out = set()
        for f in sorted(os.listdir(path)):
            if f.endswith(".parquet"):
                z = pq.read_table(os.path.join(path, f), columns=["z"])["z"]
                out.add((pc.min(z).as_py(), pc.max(z).as_py()))
        return out

    layouts = []
    for i in range(3):
        spark.range(i + 1).collect()  # move the session's RDD counter
        path = str(tmp_path / f"z{i}")
        write_zordered(_grid_points(spark), path, n_files=16)
        layouts.append(file_ranges(path))
    assert len(layouts[0]) == 16
    assert layouts[0] == layouts[1] == layouts[2]
