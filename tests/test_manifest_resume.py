"""Checkpoint manifest + per-tile resume (SURVEY B17-B18, north rule).

The key property: a job that dies after committing some tiles and is then
re-run with --resume produces, in total, byte-identical tiles to one clean
run — because the encode path is deterministic and resume skips exactly the
done (z,x,y) set via a left_anti join against the manifest.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.pipeline import fixtures, index, manifest

from .conftest import SF_DIR

Z_MAX = 3


def _indexed(spark):
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    return index.with_tiles(index.with_unit(geo), 0, Z_MAX)


def _tiles(spark, out_dir) -> pd.DataFrame:
    pdf = (
        manifest.read_tiles(spark, out_dir)  # committed view (manifest-joined)
        .select("z", "x", "y", "mvt_sha256", "n_features")
        .toPandas()
    )
    return pdf.sort_values(["z", "x", "y"]).reset_index(drop=True)


def test_crash_resume_byte_identical(spark, tmp_path):
    indexed = _indexed(spark)

    # clean single run = ground truth
    full_dir = str(tmp_path / "full")
    manifest.run_tile_stage(spark, indexed, full_dir, run_id="clean")
    want = _tiles(spark, full_dir)
    assert len(want) > 10

    # simulated crash: first run only managed the even-hash half of the tiles
    crash_dir = str(tmp_path / "crashy")
    partial = indexed.filter(F.pmod(F.xxhash64("z", "x", "y"), F.lit(2)) == 0)
    manifest.run_tile_stage(spark, partial, crash_dir, run_id="run1")
    done_before = _tiles(spark, crash_dir)
    assert 0 < len(done_before) < len(want)

    # resume with the FULL input: only missing tiles are encoded
    manifest.run_tile_stage(spark, indexed, crash_dir, run_id="run2")
    got = _tiles(spark, crash_dir)

    pd.testing.assert_frame_equal(got, want)

    # manifest: second run touched only the previously-missing tiles
    m = spark.read.parquet(f"{crash_dir}/manifest").toPandas()
    assert set(m["run_id"]) == {"run1", "run2"}
    assert len(m) == len(want)  # exactly one done row per tile, no rework
    assert (m["status"] == "done").all()
    assert m["partition_id"].notna().all()

    # lineage signature is reproducible across runs: same tile -> same sig
    sig_full = (
        spark.read.parquet(f"{full_dir}/manifest")
        .select("z", "x", "y", "input_sig")
        .toPandas()
        .set_index(["z", "x", "y"])["input_sig"]
    )
    sig_crash = m.set_index(["z", "x", "y"])["input_sig"]
    assert sig_crash.sort_index().equals(sig_full.sort_index())


def test_crash_between_commits_hidden_by_manifest(spark, tmp_path):
    """A crash AFTER the tiles append but BEFORE the manifest append leaves
    orphaned tile rows; the manifest is the single commit point, so the
    committed view (read_tiles) never sees them and resume re-encodes to a
    byte-identical result."""
    from engine.pipeline import tiler

    indexed = _indexed(spark)
    full_dir = str(tmp_path / "full")
    manifest.run_tile_stage(spark, indexed, full_dir, run_id="clean")
    want = _tiles(spark, full_dir)

    crash_dir = str(tmp_path / "crash2")
    evens = indexed.filter(F.pmod(F.xxhash64("z", "x", "y"), F.lit(2)) == 0)
    odds = indexed.filter(F.pmod(F.xxhash64("z", "x", "y"), F.lit(2)) == 1)
    manifest.run_tile_stage(spark, evens, crash_dir, run_id="run1")
    # simulate the torn write: odd tiles reach the store, manifest does not
    orphan = tiler.encode_point_tiles(odds).withColumn("run_id", F.lit("crashed"))
    orphan.write.mode("append").parquet(f"{crash_dir}/tiles")

    manifest.run_tile_stage(spark, indexed, crash_dir, run_id="run2")
    got = _tiles(spark, crash_dir)
    pd.testing.assert_frame_equal(got, want)
    # raw store holds duplicate (z,x,y) rows; the committed view does not
    raw = spark.read.parquet(f"{crash_dir}/tiles")
    assert raw.count() > len(want)
    assert manifest.read_tiles(spark, crash_dir).count() == len(want)
    m = spark.read.parquet(f"{crash_dir}/manifest").toPandas()
    assert set(m["run_id"]) == {"run1", "run2"} and len(m) == len(want)


def test_partition_modes_byte_identical(spark, tmp_path):
    """hash vs hilbert output-locality mode: tile BYTES identical, and the
    hilbert mode writes spatial neighbors consecutively."""
    from engine.pipeline import tiler

    indexed = _indexed(spark)
    outs = {}
    for mode in ("hash", "hilbert"):
        out = str(tmp_path / mode)
        manifest.run_tile_stage(
            spark, indexed, out, run_id=mode, partition_mode=mode
        )
        outs[mode] = out
    pd.testing.assert_frame_equal(_tiles(spark, outs["hash"]), _tiles(spark, outs["hilbert"]))

    # write-locality: mean |dx|+|dy| between consecutively emitted z=Z_MAX
    # tiles (encode output order) is smaller under hilbert ordering
    def mean_jump(mode):
        tiles = tiler.encode_point_tiles(indexed, partition_mode=mode)
        pdf = tiles.filter(F.col("z") == Z_MAX).select(
            F.spark_partition_id().alias("p"), "x", "y"
        ).toPandas()
        tot = n = 0
        for _, g in pdf.groupby("p", sort=False):
            if len(g) > 1:
                tot += (g["x"].diff().abs() + g["y"].diff().abs()).dropna().sum()
                n += len(g) - 1
        return tot / max(n, 1)

    assert mean_jump("hilbert") < mean_jump("hash")


def test_resume_noop_when_complete(spark, tmp_path):
    indexed = _indexed(spark)
    out = str(tmp_path / "done")
    manifest.run_tile_stage(spark, indexed, out, run_id="first")
    before = _tiles(spark, out)
    manifest.run_tile_stage(spark, indexed, out, run_id="second")
    after = _tiles(spark, out)
    pd.testing.assert_frame_equal(after, before)
    m = spark.read.parquet(f"{out}/manifest").toPandas()
    assert (m["run_id"] == "first").all()  # second run appended nothing


def test_null_string_tag_fails_without_commit(spark, tmp_path):
    """A null string tag must fail the tile stage loudly (never encode as a
    made-up tag value) and leave no committed manifest row."""
    import os

    indexed = _indexed(spark)
    fid = indexed.agg(F.min("feature_id")).first()[0]
    one_null = F.when(F.col("feature_id") == fid, F.lit(None).cast("string"))
    indexed = indexed.withColumn("lang", one_null.otherwise(F.col("lang")))
    assert indexed.filter(F.col("lang").isNull()).count() == Z_MAX + 1
    out = str(tmp_path / "nulls")
    with pytest.raises(Exception, match="null string tag"):
        manifest.run_tile_stage(spark, indexed, out, run_id="nulls")
    assert not os.path.exists(f"{out}/manifest")
    assert manifest.completed_tiles(spark, f"{out}/manifest") is None


def test_metrics_summary(spark, tmp_path):
    indexed = _indexed(spark)
    out = str(tmp_path / "metrics")
    manifest.run_tile_stage(spark, indexed, out, run_id="r")
    summary = manifest.metrics_summary(spark, out).toPandas()
    assert len(summary) == 1
    row = summary.iloc[0]
    n_pages = indexed.count() // (Z_MAX + 1)
    assert row["rows"] == n_pages * (Z_MAX + 1)
    assert row["bytes"] > 0 and row["n_tiles"] > 10 and row["n_partitions"] >= 1


@pytest.mark.slow
def test_spark_submit_pyfiles(tmp_path):
    """North rule: packaged for spark-submit --py-files. Runs the real
    spark-submit binary with the engine shipped ONLY as a zip (cwd outside
    the repo), resumes once, and checks the manifest."""
    import os
    import shutil
    import subprocess
    import sys

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    from engine.jobs.package import build_zip

    zip_path = build_zip(str(tmp_path / "engine.zip"))
    job = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "engine", "jobs", "tile_pyramid.py")
    out = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"
    env["PYSPARK_PYTHON"] = sys.executable
    args = [
        spark_submit, "--master", "local[4]", "--py-files", zip_path, job,
        "--sf-dir", SF_DIR, "--out", out, "--z-max", "2",
    ]
    r = subprocess.run(args, cwd=str(tmp_path), env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "run_id=" in r.stdout
    r2 = subprocess.run(args, cwd=str(tmp_path), env=env,
                        capture_output=True, text=True, timeout=600)
    assert r2.returncode == 0, r2.stderr[-3000:]
