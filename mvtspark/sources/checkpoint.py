"""Checkpoint / lineage table and the one exactly-once unit commit
(S8, north rule) of the batch job and both streaming sinks: a unit
(``job=<id>``, ``epoch=<id>``) is committed when its marker rows exist.

Production target is an Iceberg table (``writeTo(...).append()``); the
sandbox has no Iceberg jars, so the same semantics run on an append-only
parquet directory with an identical schema (FIXTURES.md §5). The
storage backend is a one-line switch.

Schema: job_id string, stage string, zoom int, part_id int,
        row_count long, lineage string, ts timestamp
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_SCHEMA = (
    "job_id string, stage string, zoom int, part_id int, "
    "row_count long, lineage string, ts timestamp"
)


def write_stage_checkpoint(
    df: DataFrame, path: str, job_id: str, stage: str, lineage: str
) -> None:
    """Append per-(zoom, partition) row counts of ``df`` for ``stage``.

    ``part_id`` is the physical partition id (spark_partition_id) —
    together with ``zoom`` it gives per-partition lineage + metrics
    (A8). One output file: its job commit is a single rename.
    """
    agg = (
        df.groupBy("zoom", F.spark_partition_id().alias("part_id"))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(
            F.lit(job_id).alias("job_id"),
            F.lit(stage).alias("stage"),
            F.col("zoom").cast("int"),
            F.col("part_id"),
            F.col("row_count"),
            F.lit(lineage).alias("lineage"),
            F.current_timestamp().alias("ts"),
        )
    )
    agg.coalesce(1).write.mode("append").parquet(path)


def read_checkpoint(spark: SparkSession, path: str) -> DataFrame:
    """Empty-on-absent read of the lineage table, always as
    :data:`CHECKPOINT_SCHEMA` (not as whichever file is listed first).

    Storage-agnostic: a local-only ``os.path.exists`` probe would make
    every absence check silently succeed on object-store paths
    (s3a://…), voiding the committed-unit guard. The local fast path
    stays (cheap, no JVM call) but the fallback is catch-path-missing,
    which any Hadoop filesystem reports."""
    if "://" not in path and not os.path.exists(path):
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    try:
        return spark.read.schema(CHECKPOINT_SCHEMA).parquet(path)
    except Exception as e:  # AnalysisException PATH_NOT_FOUND
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            return spark.createDataFrame([], CHECKPOINT_SCHEMA)
        raise


def committed_units(
    spark: SparkSession, checkpoint_path: str, job_id: str, key: str
) -> list[str]:
    """Sorted values ``v`` of ``job_id``'s committed ``key=v`` units —
    the stages with a lineage marker (metrics rows, not data)."""
    rows = (
        read_checkpoint(spark, checkpoint_path)
        .where((F.col("job_id") == job_id)
               & F.col("stage").startswith(f"{key}="))
        .select("stage").distinct().collect()
    )
    return sorted(r.stage.split("=", 1)[1] for r in rows)


def commit_unit(
    df: DataFrame, root: str, unit: str, checkpoint_path: str,
    job_id: str, lineage: str,
) -> bool:
    """Write ``df`` as unit ``root/<unit>/`` (``unit = "key=value"``)
    exactly once. A committed unit is skipped (returns False). Otherwise
    the unit's directory is overwritten, so a crashed attempt's files
    are replaced, and its marker — per-(zoom, partition) row counts
    read back from the committed files, ``stage = unit`` — is appended
    LAST (returns True). A crash before the marker leaves the unit
    uncommitted for readers and for the next attempt."""
    spark = df.sparkSession
    key, value = unit.split("=", 1)
    if value in committed_units(spark, checkpoint_path, job_id, key):
        return False
    out = os.path.join(root, unit)
    df.write.mode("overwrite").parquet(out)
    # a marker append killed before its job commit leaves its task files
    # in _temporary, and the next job commit there would publish them as
    # a second marker (one writer per lineage directory is assumed)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(checkpoint_path, "_temporary")
    tmp.getFileSystem(spark._jsc.hadoopConfiguration()).delete(tmp, True)
    write_stage_checkpoint(spark.read.parquet(out), checkpoint_path,
                           job_id=job_id, stage=unit, lineage=lineage)
    return True
