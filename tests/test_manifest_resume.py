"""Checkpoint manifest + per-tile resume (SURVEY B17-B18, north rule).

The key property: a job that dies after committing some tiles and is then
re-run with --resume produces, in total, byte-identical tiles to one clean
run — because the encode path is deterministic and resume skips exactly the
done (z,x,y) set via a left_anti join against the manifest.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from engine.pipeline import fixtures, index, manifest, tiler

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


def _listing(out_dir) -> list[str]:
    """Every file under ``out_dir``, relative to it."""
    import os

    return sorted(
        os.path.relpath(os.path.join(d, f), out_dir)
        for d, _, files in os.walk(out_dir)
        for f in files
    )


@pytest.fixture
def published(monkeypatch):
    """The counts manifest.publish_tiles returns, in call order."""
    counts = []
    publish = manifest.publish_tiles

    def record(*args, **kwargs):
        counts.append(publish(*args, **kwargs))
        return counts[-1]

    monkeypatch.setattr(manifest, "publish_tiles", record)
    return counts


def test_resume_noop_when_complete(spark, tmp_path, published):
    indexed = _indexed(spark)
    out = str(tmp_path / "done")
    manifest.run_tile_stage(spark, indexed, out, run_id="first")
    before = _tiles(spark, out)
    files = _listing(out)
    manifest.run_tile_stage(spark, indexed, out, run_id="second")
    after = _tiles(spark, out)
    pd.testing.assert_frame_equal(after, before)
    m = spark.read.parquet(f"{out}/manifest").toPandas()
    assert (m["run_id"] == "first").all()  # second run appended nothing
    # nothing pending: no part file enters tiles/ or manifest/
    assert _listing(out) == files
    assert published == [len(m), 0]


def test_noop_resume_still_deletes_torn_files_of_its_run_id(spark, tmp_path, published):
    """A torn attempt of run "second" left files in the store; the retry
    of "second" finds every tile done, and still deletes those files."""
    import glob
    import os

    indexed = _indexed(spark)
    out = str(tmp_path / "torn_noop")
    manifest.run_tile_stage(spark, indexed, out, run_id="first")
    want = _tiles(spark, out)
    files = _listing(out)

    torn = str(tmp_path / "torn_attempt")
    tiler.encode_point_tiles(indexed).withColumns(
        {"partition_id": F.spark_partition_id(), "run_id": F.lit("second")}
    ).write.parquet(torn)
    for f in glob.glob(f"{torn}/part-*"):
        os.rename(f, f"{out}/tiles/second.{os.path.basename(f)}")
    assert _listing(out) != files

    manifest.run_tile_stage(spark, indexed, out, run_id="second")
    assert published[-1] == 0
    assert _listing(out) == files
    pd.testing.assert_frame_equal(_tiles(spark, out), want)


def test_resume_over_duplicate_done_rows(spark, tmp_path, published):
    """A resume=False rerun appends a second done row for every tile; a
    resume after it still finds nothing pending and adds no file, and the
    done side of its anti join is the bare manifest scan (no aggregate)."""
    indexed = _indexed(spark)
    out = str(tmp_path / "dups")
    manifest.run_tile_stage(spark, indexed, out, run_id="a")
    manifest.run_tile_stage(spark, indexed, out, run_id="b", resume=False)
    n_tiles = published[0]
    assert published == [n_tiles, n_tiles]
    m = spark.read.parquet(f"{out}/manifest")
    assert m.count() == 2 * n_tiles
    assert m.select("z", "x", "y").distinct().count() == n_tiles
    files = _listing(out)

    manifest.run_tile_stage(spark, indexed, out, run_id="c")
    assert published[-1] == 0
    assert _listing(out) == files

    done = manifest.completed_tiles(spark, f"{out}/manifest")
    assert done.count() == 2 * n_tiles
    pending = manifest.pending_features(indexed, done)
    assert pending.count() == 0
    assert "Aggregate" not in str(indexed._jdf.queryExecution().optimizedPlan())
    assert "Aggregate" not in str(pending._jdf.queryExecution().optimizedPlan())


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


def test_same_run_id_retry_after_torn_write_stores_each_tile_once(spark, tmp_path):
    """A crash after the tile write but before the manifest commit, then a
    retry under the SAME run_id (tile_pyramid.py --run-id): the retry
    replaces the torn attempt's files, so the committed view holds one row
    per manifest row instead of two."""
    import shutil

    indexed = _indexed(spark)
    out = str(tmp_path / "torn")
    manifest.run_tile_stage(spark, indexed, out, run_id="r")
    want = _tiles(spark, out)
    shutil.rmtree(f"{out}/manifest")  # the torn write: no commit happened

    manifest.run_tile_stage(spark, indexed, out, run_id="r")
    m = spark.read.parquet(f"{out}/manifest")
    assert m.count() == len(want)
    assert manifest.read_tiles(spark, out).count() == len(want)
    assert spark.read.parquet(f"{out}/tiles").count() == len(want)
    pd.testing.assert_frame_equal(_tiles(spark, out), want)


def test_committed_run_id_rerun_adds_only_pending_tiles(spark, tmp_path):
    """Re-running a committed run_id under resume keeps its committed tiles
    and adds the pending ones; the files of a torn attempt of that run_id
    (no manifest row names their tiles) are deleted first, so every tile is
    stored once."""
    import glob
    import os

    indexed = _indexed(spark)
    full_dir = str(tmp_path / "full")
    manifest.run_tile_stage(spark, indexed, full_dir, run_id="clean")
    want = _tiles(spark, full_dir)

    out = str(tmp_path / "again")
    evens = indexed.filter(F.pmod(F.xxhash64("z", "x", "y"), F.lit(2)) == 0)
    odds = indexed.filter(F.pmod(F.xxhash64("z", "x", "y"), F.lit(2)) == 1)
    manifest.run_tile_stage(spark, evens, out, run_id="r")
    first = _tiles(spark, out)
    manifest.run_tile_stage(spark, evens, out, run_id="r")  # nothing pending
    pd.testing.assert_frame_equal(_tiles(spark, out), first)
    assert spark.read.parquet(f"{out}/tiles").count() == len(first)
    assert spark.read.parquet(f"{out}/manifest").count() == len(first)

    # a torn attempt of "r" over the odd tiles: its files reach the store
    # under the run's prefix, its manifest rows never do
    torn = str(tmp_path / "torn")
    tiler.encode_point_tiles(odds).withColumns(
        {"partition_id": F.spark_partition_id(), "run_id": F.lit("r")}
    ).write.parquet(torn)
    for f in glob.glob(f"{torn}/part-*"):
        os.rename(f, f"{out}/tiles/r.{os.path.basename(f)}")

    manifest.run_tile_stage(spark, indexed, out, run_id="r")
    pd.testing.assert_frame_equal(_tiles(spark, out), want)
    assert spark.read.parquet(f"{out}/tiles").count() == len(want)
    m = spark.read.parquet(f"{out}/manifest").toPandas()
    assert len(m) == len(want) and (m["run_id"] == "r").all()

    # run ids prefix the store's file names: one that would hide its files
    # from readers or reach outside the store is refused before any write
    for bad in ("_r", ".r", "../r", "r.part-1"):
        with pytest.raises(ValueError, match="run_id"):
            manifest.run_tile_stage(spark, indexed, out, run_id=bad)
    pd.testing.assert_frame_equal(_tiles(spark, out), want)


def test_unreadable_manifest_fails_loudly(spark, tmp_path):
    """A manifest directory that exists but is not parquet must fail the
    resume, never read as "no manifest" and silently re-encode everything."""
    out = tmp_path / "corrupt"
    (out / "manifest").mkdir(parents=True)
    (out / "manifest" / "part-00000.parquet").write_bytes(b"not parquet at all")
    done = manifest.completed_tiles(spark, str(out / "manifest"))
    assert done is not None
    with pytest.raises(Exception, match="(?i)parquet"):
        done.count()
    with pytest.raises(Exception, match="(?i)parquet"):
        manifest.run_tile_stage(spark, _indexed(spark), str(out), run_id="r")
    assert not (out / "tiles").exists()


def test_manifest_input_sig_equals_spark_bit_xor(spark, tmp_path):
    """The worker-side signature equals the SQL definition it replaces:
    bit_xor(xxhash64(feature_id)) grouped by tile."""
    indexed = _indexed(spark)
    out = str(tmp_path / "sig")
    manifest.run_tile_stage(spark, indexed, out, run_id="sig")
    oracle = (
        indexed.groupBy("z", "x", "y")
        .agg(F.expr("bit_xor(xxhash64(feature_id))").alias("input_sig"))
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    got = (
        spark.read.parquet(f"{out}/manifest")
        .select("z", "x", "y", "input_sig")
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    assert len(got) > 10
    pd.testing.assert_frame_equal(got, oracle, check_dtype=False)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(-(2**63), 2**63 - 1), min_size=1, max_size=200))
def test_numpy_xxhash64_equals_spark(spark, values):
    import numpy as np

    values = values + [-(2**63), 2**63 - 1, 0, -1]
    want = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in values], "v bigint")
        .selectExpr("xxhash64(v)")
        .collect()
    ]
    got = tiler.xxhash64(np.array(values, dtype=np.int64))
    assert got.tolist() == want


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
