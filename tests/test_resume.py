"""Exactly-once unit commits (sources/checkpoint.py) and crash-resume of
the batch job (jobs/run_pipeline.py), run in-process on the test session.

Each crash is injected by monkeypatching one step of ``commit_unit``;
the rerun must reproduce an uninterrupted run's tiles with no duplicate
tile and exactly one lineage marker per unit."""

import glob
import importlib.util
import os
import shutil
import sys
from collections import Counter

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from mvtspark.sources import checkpoint
from mvtspark.sources.checkpoint import (
    CHECKPOINT_SCHEMA,
    commit_unit,
    committed_units,
    read_checkpoint,
    write_stage_checkpoint,
)

N_POINTS = 1200
ZOOM = 8
JOB = os.path.join(os.path.dirname(__file__), "..", "jobs", "run_pipeline.py")


@pytest.fixture(scope="module")
def pipeline():
    """jobs/run_pipeline.py as a module (jobs/ is not a package); its
    import-time sys.path / PYTHONPATH edits are undone afterwards."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sys, "path", list(sys.path))
        mp.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
        spec = importlib.util.spec_from_file_location("run_pipeline", JOB)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    return mod


def run_job(pipeline, tiles, ckpt, job_id, *extra, n=N_POINTS):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(sys, "argv", [
            "run_pipeline.py", "--images", f"synth:{n}",
            "--zoom", str(ZOOM), "--tiles-out", tiles,
            "--checkpoint", ckpt, "--job-id", job_id, *extra,
        ])
        pipeline.main()


def tile_multiset(spark, tiles, job_id):
    return Counter(
        (r.zoom, r.x, r.y, r.feature_count)
        for r in spark.read.parquet(os.path.join(tiles, f"job={job_id}"))
        .select("zoom", "x", "y", "feature_count").collect()
    )


def file_mtimes(*roots):
    return {
        os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
        for root in roots for r, _, fs in os.walk(root) for f in fs
    }


def assert_matches_reference(spark, tiles, ckpt, job_id, ref):
    got = tile_multiset(spark, tiles, job_id)
    assert got == ref
    keys = Counter(k[:3] for k in got.elements())
    assert max(keys.values()) == 1  # no (zoom, x, y) repeats
    assert committed_units(spark, ckpt, job_id, "job") == [job_id]
    lin = read_checkpoint(spark, ckpt).where(F.col("job_id") == job_id)
    for stage in (f"job={job_id}", "agg"):
        rows = lin.where(F.col("stage") == stage)
        # one append per stage: a single write timestamp, no
        # duplicate (zoom, part_id) lineage row
        assert rows.select("ts").distinct().count() == 1, stage
        assert (
            rows.groupBy("zoom", "part_id").count()
            .where("count > 1").count() == 0
        ), stage
    marker = lin.where(F.col("stage") == f"job={job_id}")
    assert marker.agg(F.sum("row_count")).collect()[0][0] == sum(got.values())


@pytest.fixture(scope="module")
def reference(spark, pipeline, tmp_path_factory):
    root = tmp_path_factory.mktemp("resume_ref")
    tiles, ckpt = str(root / "tiles"), str(root / "ckpt")
    run_job(pipeline, tiles, ckpt, "ref")
    ref = tile_multiset(spark, tiles, "ref")
    assert len(ref) > 10
    return tiles, ckpt, ref


def _dirs(tmp_path):
    return str(tmp_path / "tiles"), str(tmp_path / "ckpt")


def test_crash_before_data_write(spark, pipeline, reference, tmp_path,
                                 monkeypatch):
    tiles, ckpt = _dirs(tmp_path)
    real = DataFrameWriter.parquet

    def crash(self, path, *a, **k):
        if path.startswith(tiles):
            raise RuntimeError("killed before the data write")
        return real(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash)
    with pytest.raises(RuntimeError, match="before the data write"):
        run_job(pipeline, tiles, ckpt, "J1")
    monkeypatch.undo()
    assert not os.path.exists(tiles)
    assert committed_units(spark, ckpt, "J1", "job") == []
    run_job(pipeline, tiles, ckpt, "J1", "--resume")
    assert_matches_reference(spark, tiles, ckpt, "J1", reference[2])


def test_crash_after_data_write_before_marker(spark, pipeline, reference,
                                              tmp_path, monkeypatch):
    tiles, ckpt = _dirs(tmp_path)

    def crash(*a, **k):
        raise RuntimeError("killed before the marker")

    monkeypatch.setattr(checkpoint, "write_stage_checkpoint", crash)
    with pytest.raises(RuntimeError, match="before the marker"):
        run_job(pipeline, tiles, ckpt, "J1")
    monkeypatch.undo()
    unit = os.path.join(tiles, "job=J1")
    assert glob.glob(os.path.join(unit, "part-*.parquet"))
    assert committed_units(spark, ckpt, "J1", "job") == []
    # a half-written unit may hold more than one attempt's files: the
    # rerun must replace them, not add to them
    part = sorted(glob.glob(os.path.join(unit, "part-*.parquet")))[0]
    shutil.copy(part, os.path.join(unit, "part-99999-stale.parquet"))
    run_job(pipeline, tiles, ckpt, "J1", "--resume")
    assert_matches_reference(spark, tiles, ckpt, "J1", reference[2])


def test_crash_leaves_temporary_in_checkpoint_dir(spark, pipeline, reference,
                                                  tmp_path, monkeypatch):
    """A marker append killed after its tasks committed but before its
    job commit leaves the marker files under ``<ckpt>/_temporary``; the
    next append's job commit would publish them as a second marker."""
    tiles, ckpt = _dirs(tmp_path)
    real = checkpoint.write_stage_checkpoint

    def crash(df, path, job_id, stage, lineage):
        side = str(tmp_path / "side")
        real(df, side, job_id, stage, lineage)
        task = os.path.join(path, "_temporary", "0",
                            "task_202601010000_0001_m_000000")
        os.makedirs(task)
        for f in glob.glob(os.path.join(side, "part-*.parquet")):
            shutil.move(f, task)
        raise RuntimeError("killed during the marker commit")

    monkeypatch.setattr(checkpoint, "write_stage_checkpoint", crash)
    with pytest.raises(RuntimeError, match="marker commit"):
        run_job(pipeline, tiles, ckpt, "J1")
    monkeypatch.undo()
    assert os.listdir(os.path.join(ckpt, "_temporary", "0"))
    assert committed_units(spark, ckpt, "J1", "job") == []
    run_job(pipeline, tiles, ckpt, "J1", "--resume")
    assert_matches_reference(spark, tiles, ckpt, "J1", reference[2])


def test_rerun_of_committed_unit_writes_nothing(spark, pipeline, reference):
    tiles, ckpt, ref = reference
    before = file_mtimes(tiles, ckpt)
    run_job(pipeline, tiles, ckpt, "ref", "--resume")
    assert file_mtimes(tiles, ckpt) == before  # not even same-content files
    assert_matches_reference(spark, tiles, ckpt, "ref", ref)


def test_job_ids_sharing_outputs_are_isolated(spark, pipeline, reference):
    tiles, ckpt, ref = reference
    ref_files = file_mtimes(os.path.join(tiles, "job=ref"))
    run_job(pipeline, tiles, ckpt, "other", n=N_POINTS // 3)
    other = tile_multiset(spark, tiles, "other")
    # one feature per point, all in this job's own unit
    assert sum(k[3] * c for k, c in other.items()) == N_POINTS // 3
    assert_matches_reference(spark, tiles, ckpt, "ref", ref)
    assert file_mtimes(os.path.join(tiles, "job=ref")) == ref_files
    assert committed_units(spark, ckpt, "other", "job") == ["other"]


def test_resume_requires_job_id(pipeline, monkeypatch, tmp_path):
    monkeypatch.setattr(sys, "argv", [
        "run_pipeline.py", "--images", "synth:10", "--resume",
        "--tiles-out", str(tmp_path / "t"), "--checkpoint", str(tmp_path / "c"),
    ])
    with pytest.raises(SystemExit):
        pipeline.main()
    assert not os.path.exists(tmp_path / "t")


def test_committed_units_isolate_jobs_keys_and_stages(spark, tmp_path):
    """The committed set is per job and per unit key: another job's
    marker, another key's marker and a non-unit stage (``agg``) never
    mark a unit committed."""
    ckpt = str(tmp_path / "ckpt")
    assert committed_units(spark, ckpt, "j1", "epoch") == []  # no table
    df = spark.range(12).select((F.col("id") % 3).cast("int").alias("zoom"))
    for job_id, stage in (("j1", "epoch=0"), ("j1", "epoch=10"),
                          ("j1", "job=j1"), ("j1", "agg"), ("j2", "epoch=5")):
        write_stage_checkpoint(df, ckpt, job_id, stage, "test")
    assert committed_units(spark, ckpt, "j1", "epoch") == ["0", "10"]
    assert committed_units(spark, ckpt, "j1", "job") == ["j1"]
    assert committed_units(spark, ckpt, "j2", "epoch") == ["5"]
    assert committed_units(spark, ckpt, "j2", "job") == []
    assert committed_units(spark, ckpt, "j3", "epoch") == []
    # commit_unit: the same unit name under another job id is its own unit
    root = str(tmp_path / "out")
    assert not commit_unit(df, root, "epoch=0", ckpt, "j1", "test")
    assert not os.path.exists(root)
    assert commit_unit(df, root, "epoch=0", ckpt, "j2", "test")
    assert committed_units(spark, ckpt, "j2", "epoch") == ["0", "5"]
    assert spark.read.parquet(os.path.join(root, "epoch=0")).count() == 12


@pytest.mark.parametrize("narrow_first", [True, False])
def test_read_checkpoint_schema_ignores_listing_order(spark, tmp_path,
                                                     narrow_first):
    """Lineage files with extra columns (an old ``zoom, x, y`` keyed
    writer) next to ``zoom``-only files: the read must have
    CHECKPOINT_SCHEMA whichever file is listed first."""
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    base = spark.range(4).select(
        F.lit("j").alias("job_id"), F.lit("s").alias("stage"),
        F.col("id").cast("int").alias("zoom"),
        F.lit(0).alias("part_id"), F.lit(1).cast("long").alias("row_count"),
        F.lit("l").alias("lineage"), F.current_timestamp().alias("ts"),
    )
    wide = base.withColumns({"x": F.lit(1), "y": F.lit(2)})
    names = ("a.parquet", "b.parquet") if narrow_first else (
        "b.parquet", "a.parquet")
    for df, name in zip((base, wide), names):
        out = str(tmp_path / f"w_{name}")
        df.coalesce(1).write.parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        shutil.move(part, ckpt / name)
    got = read_checkpoint(spark, str(ckpt))
    want = spark.createDataFrame([], CHECKPOINT_SCHEMA).schema
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want
    ]
    assert got.count() == 8
