"""Checkpoint manifest, lineage metrics, and resume (SURVEY B17-B18).

North-rule contract: "every partition emits lineage + row-count/byte metrics
into a checkpoint manifest so the job resumes per-tile after failure".

Design (one encode pass: no cache, no second scan of the source):
- The point encoder's worker emits per tile (rows, bytes) and the input
  signature ``input_sig``, the order-independent xor-fold of
  xxhash64(feature_id) over the sorted feature run it already holds (cheap
  provenance: a resume re-encoding the same inputs reproduces it).
- publish_tiles writes the tiles ONCE with their lineage (run_id,
  ``spark_partition_id``, input_sig) beside the mvt bytes; the manifest rows
  are a projection of exactly the files that write produced, read back with
  an explicit schema that prunes mvt. Their append is the single commit point.
- Tile store: flat parquet files ``tiles/<run_id>.part-*``, renamed in from
  ``tiles/_staging/<run_id>`` (hidden from readers) after deleting the files
  an uncommitted attempt of the same run_id left, so a torn write plus a
  same-run_id retry stores each tile once; a committed attempt's files stay.
  (``run_id=<id>/`` directories would make Spark's partition discovery hide
  files at the store's root.)
- Resume = ``left_anti`` join of the feature stream against the completed
  manifest's ``done`` rows on (z, x, y): only tiles with no ``done`` row are
  re-encoded. A tile may have several done rows (a ``resume=False`` rerun
  appends them again); the anti join does not care, so the done side is not
  deduplicated (no shuffle). Because the encode path is byte-deterministic
  (tiler docstring), crash + resume produces byte-identical tiles to a
  single clean run — asserted in tests/test_manifest_resume.py.
- An encode that yields no tile (a resume with nothing pending, an empty
  micro-batch) stores and commits nothing: the staged write is counted
  (a ``pyspark.sql.Observation`` on the write itself, no extra job), and at
  0 rows no file enters the store and no manifest job runs, so a no-op
  resume leaves the directory's listing unchanged.

At 100 TB the manifest stays tiny relative to the data (one row per tile,
~100s of MB for the full z0-z14 pyramid), so the anti-join broadcasts and
adds no meaningful shuffle; the skipped tiles prune at the source because
the semi/anti join keys are the same (z, x, y) tiles the encode stage
partitions on. The reference has no persistence at all (SURVEY §2.C sinks
row); this is engine-side scale infrastructure.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

MANIFEST_SCHEMA = (
    "run_id string, stage string, partition_id int, z int, x bigint, y bigint, "
    "rows bigint, bytes bigint, mvt_sha256 string, input_sig bigint, "
    "status string, ts timestamp"
)
# the stored tile columns the manifest projects (mvt pruned)
_STORED_LINEAGE = (
    "run_id string, partition_id int, z int, x bigint, y bigint, "
    "n_features bigint, n_bytes bigint, mvt_sha256 string, input_sig bigint"
)


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``, as Spark's writers see it."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """The manifest, read with MANIFEST_SCHEMA (no inference job); None
    only if the path does not exist — an unreadable manifest fails the job
    rather than resume from nothing."""
    fs, p = _fs(spark, manifest_path)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path) if fs.exists(p) else None


def completed_tiles(spark: SparkSession, manifest_path: str) -> DataFrame | None:
    """The (z,x,y) of every ``done`` manifest row; None if no manifest
    exists yet. Not deduplicated: a tile committed by several runs appears
    once per run, which the anti join of pending_features ignores."""
    m = _read_manifest(spark, manifest_path)
    if m is None:
        return None
    return m.filter(F.col("status") == "done").select("z", "x", "y")


def pending_features(indexed: DataFrame, done: DataFrame | None) -> DataFrame:
    """Drop every feature row whose tile already has a done manifest row.

    ``done`` may repeat a tile: a left_anti join's result does not depend on
    duplicates on its right side, so the build side is the manifest scan
    alone, with no aggregate or exchange. No explicit broadcast hint: the
    done set is about one row per tile, which is usually broadcast-sized,
    but a full z0-z14 pyramid runs to millions of rows (100s of MB) — let
    AQE pick broadcast vs shuffled anti join from the measured size instead
    of forcing driver memory pressure.
    """
    if done is None:
        return indexed
    return indexed.join(done, ["z", "x", "y"], "left_anti")


def publish_tiles(
    spark: SparkSession, tiles: DataFrame, tiles_dir: str, manifest_dir: str,
    run_id: str, manifest_mode: str = "append",
) -> int:
    """Write ``tiles`` (tiler.encode_point_tiles rows) once into the tile
    store ``tiles_dir`` as run ``run_id``, then commit their manifest rows;
    returns the number of tiles committed.

    The store's ``<run_id>.part-*`` files that no commit names (a torn
    attempt's) are deleted, so a retry stores each tile once. ``manifest_mode``
    "append": ``manifest_dir`` accumulates runs, and the files of an earlier
    committed attempt of ``run_id`` stay (a resumed rerun adds only pending
    tiles). "overwrite": ``manifest_dir`` belongs to this run alone (one
    streaming micro-batch), and a replay replaces the run.

    An empty ``tiles`` stores and commits nothing: the torn files are still
    deleted, but no file is renamed into the store, no manifest job runs,
    and 0 is returned."""
    if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_-]*", run_id):
        raise ValueError(f"run_id {run_id!r} must match [A-Za-z0-9][A-Za-z0-9_-]*")
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs, store = _fs(spark, tiles_dir)
    prefix = f"{run_id}.part-"
    listed = fs.listStatus(store) if fs.exists(store) else []
    stale = [st.getPath() for st in listed if st.getPath().getName().startswith(prefix)]
    m = _read_manifest(spark, manifest_dir) if stale and manifest_mode == "append" else None
    if m is not None:  # an attempt's files are committed whole or not at all
        mine = m.filter(F.col("run_id") == run_id).select("z", "x", "y")
        torn = spark.read.schema("z int, x bigint, y bigint").parquet(
            *[p.toString() for p in stale]
        ).select("z", "x", "y", "_metadata.file_name").join(mine, ["z", "x", "y"], "left_anti")
        names = {r.file_name for r in torn.select("file_name").distinct().collect()}
        stale = [p for p in stale if p.getName() in names]
    staging = Path(store, f"_staging/{run_id}")
    stored = Observation("stored")
    tiles.withColumns(
        {"partition_id": F.spark_partition_id(), "run_id": F.lit(run_id)}
    ).observe(stored, F.count(F.lit(1)).alias("n")).write.mode("overwrite").parquet(
        staging.toString()
    )
    for p in stale:
        fs.delete(p, False)
    n = stored.get["n"]
    if n == 0:  # nothing to commit: the store and the manifest stay as they are
        fs.delete(staging, True)
        return 0
    written = []
    for st in fs.listStatus(staging):
        name = st.getPath().getName()
        if name.startswith("part-"):
            dst = Path(store, f"{run_id}.{name}")
            if not fs.rename(st.getPath(), dst):
                raise OSError(f"could not move {st.getPath()} to {dst}")
            written.append(dst.toString())
    fs.delete(staging, True)
    # the commit point: only tiles named here are visible to readers
    spark.read.schema(_STORED_LINEAGE).parquet(*written).selectExpr(
        "run_id", "'encode_tiles' as stage", "partition_id", "z", "x", "y",
        "n_features as rows", "n_bytes as bytes", "mvt_sha256", "input_sig",
        "'done' as status", "current_timestamp() as ts",
    ).write.mode(manifest_mode).parquet(manifest_dir)
    return n


def run_tile_stage(
    spark: SparkSession,
    indexed: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    resume: bool = True,
    **encode_kwargs,
) -> str:
    """Encode all not-yet-done tiles in one pass and publish them with
    their manifest rows; returns the run_id. Layout: ``{out_dir}/tiles``
    (the store: encode_point_tiles rows + run_id, partition_id) and
    ``{out_dir}/manifest`` (MANIFEST_SCHEMA, append-only).

    Commit protocol: the manifest append is the single commit point — a
    crash before it leaves tile files with no 'done' manifest row, which
    ``read_tiles`` filters out (semi join on (run_id, z, x, y)); the next
    resume re-encodes them, and a retry under the same run_id replaces
    them. Byte determinism makes the retried bytes identical, so crash +
    resume reads byte-identical to a clean run (tests/test_manifest_resume.py).
    A resume with nothing pending runs the anti-join write alone and adds
    no file (publish_tiles).
    """
    from . import tiler

    run_id = run_id or uuid.uuid4().hex[:12]
    manifest_path = f"{out_dir}/manifest"
    done = completed_tiles(spark, manifest_path) if resume else None
    tiles = tiler.encode_point_tiles(pending_features(indexed, done), **encode_kwargs)
    publish_tiles(spark, tiles, f"{out_dir}/tiles", manifest_path, run_id)
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
