"""Checkpoint manifest, lineage metrics, and resume (SURVEY B17-B18).

North-rule contract: "every partition emits lineage + row-count/byte metrics
into a checkpoint manifest so the job resumes per-tile after failure".

Design (all DataFrame-level, no driver-side loops):
- The tile encoder already emits per-tile (rows, bytes, sha256). This module
  adds per-partition lineage (``spark_partition_id``), an input signature
  (order-independent xor-fold of the tile's feature ids — cheap provenance:
  a resume re-encoding the same inputs reproduces the same signature), and
  appends one manifest row per tile to an append-only parquet table.
- Resume = ``left_anti`` join of the feature stream against the completed
  manifest on (z, x, y): only tiles with no ``done`` manifest row are
  re-encoded. Because the encode path is byte-deterministic (tiler docstring),
  crash + resume produces byte-identical tiles to a single clean run —
  asserted in tests/test_manifest_resume.py.

At 100 TB the manifest stays tiny relative to the data (one row per tile,
~100s of MB for the full z0-z14 pyramid), so the anti-join broadcasts and
adds no meaningful shuffle; the skipped tiles prune at the source because
the semi/anti join keys are the same (z, x, y) tiles the encode stage
partitions on. The reference has no persistence at all (SURVEY §2.C sinks
row); this is engine-side scale infrastructure.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST_SCHEMA = (
    "run_id string, stage string, partition_id int, z int, x bigint, y bigint, "
    "rows bigint, bytes bigint, mvt_sha256 string, input_sig bigint, "
    "status string, ts timestamp"
)


def input_signature(indexed: DataFrame) -> DataFrame:
    """Order-independent lineage signature per tile: xor-fold of feature ids.

    xor is commutative/associative -> invariant under partitioning and
    executor count, and computable map-side (partial agg) with no sort.
    """
    return indexed.groupBy("z", "x", "y").agg(
        F.expr("bit_xor(xxhash64(feature_id))").alias("input_sig")
    )


def tiles_to_manifest(
    tiles: DataFrame, run_id: str, stage: str = "encode_tiles"
) -> DataFrame:
    """One manifest row per emitted tile, with the emitting partition id."""
    return tiles.select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.spark_partition_id().alias("partition_id"),
        "z",
        "x",
        "y",
        F.col("n_features").alias("rows"),
        F.col("n_bytes").alias("bytes"),
        "mvt_sha256",
        "input_sig",
        F.lit("done").alias("status"),
        F.current_timestamp().alias("ts"),
    )


def completed_tiles(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """Distinct (z,x,y) already marked done; None if no manifest exists yet."""
    try:
        m = spark.read.parquet(manifest_path)
    except Exception:
        return None
    return m.filter(F.col("status") == "done").select("z", "x", "y").distinct()


def pending_features(indexed: DataFrame, done: DataFrame | None) -> DataFrame:
    """Drop every feature row whose tile already has a done manifest row.

    No explicit broadcast hint: the done set is one row per tile, which is
    usually broadcast-sized, but a full z0-z14 pyramid runs to millions of
    rows (100s of MB) — let AQE pick broadcast vs shuffled anti join from
    the measured size instead of forcing driver memory pressure.
    """
    if done is None:
        return indexed
    return indexed.join(done, ["z", "x", "y"], "left_anti")


def run_tile_stage(
    spark: SparkSession,
    indexed: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    resume: bool = True,
    **encode_kwargs,
) -> str:
    """Encode all not-yet-done tiles; append tiles + manifest parquet.

    Layout: ``{out_dir}/tiles`` (run_id,z,x,y,mvt,...) and
    ``{out_dir}/manifest`` (MANIFEST_SCHEMA), both append-only. Returns the
    run_id.

    Commit protocol: tile rows are keyed by run_id and the MANIFEST append
    is the single commit point — a crash between the two writes leaves
    orphaned tile rows with no 'done' manifest row, which ``read_tiles``
    filters out (semi join on (run_id,z,x,y)) and the next resume simply
    re-encodes. Byte determinism makes the retried bytes identical, and the
    manifest join makes the duplicates invisible, so crash + resume reads
    byte-identical to a clean run (tests/test_manifest_resume.py).
    """
    from . import tiler

    run_id = run_id or uuid.uuid4().hex[:12]
    manifest_path = f"{out_dir}/manifest"
    done = completed_tiles(spark, manifest_path) if resume else None
    todo = pending_features(indexed, done)

    sigs = input_signature(todo)
    tiles = tiler.encode_point_tiles(todo, **encode_kwargs)
    # one row per tile on both sides; joining on the tile key keeps the
    # lineage column co-partitioned with the encode output
    tiles = tiles.join(sigs, ["z", "x", "y"])

    tiles.persist()
    try:
        tiles.drop("input_sig").withColumn("run_id", F.lit(run_id)).write.mode(
            "append"
        ).parquet(f"{out_dir}/tiles")
        # the commit point: only tiles named here are visible to readers
        tiles_to_manifest(tiles, run_id).write.mode("append").parquet(manifest_path)
    finally:
        tiles.unpersist()
    return run_id


def read_tiles(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed tiles only: join the tile store against the manifest's
    'done' rows on (run_id, z, x, y), hiding any orphaned rows a crash
    between the tile and manifest commits may have left behind."""
    tiles = spark.read.parquet(f"{out_dir}/tiles")
    done = (
        spark.read.parquet(f"{out_dir}/manifest")
        .filter(F.col("status") == "done")
        .select("run_id", "z", "x", "y")
    )
    return tiles.join(done, ["run_id", "z", "x", "y"], "left_semi")


def metrics_summary(spark: SparkSession, out_dir: str) -> DataFrame:
    """B18: per-(run, stage) rollup of the manifest metrics."""
    m = spark.read.parquet(f"{out_dir}/manifest")
    return m.groupBy("run_id", "stage").agg(
        F.count("*").alias("n_tiles"),
        F.sum("rows").alias("rows"),
        F.sum("bytes").alias("bytes"),
        F.countDistinct("partition_id").alias("n_partitions"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
