"""Structured Streaming stages driven with availableNow triggers over file
sources — incremental results must match the equivalent batch computation
(streaming/batch parity is the correctness bar for every streaming op)."""

from __future__ import annotations

import os
import time
from glob import glob

import pandas as pd
import pytest
from pyspark.sql import Window, functions as F

from engine.pipeline import fixtures
from engine.streaming import stream_tiler

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """The sf0.001 pages fixture written as 4 parquet files (4 micro-batches)."""
    out = str(tmp_path_factory.mktemp("pages_stream"))
    fixtures.pages_df(spark, SF_DIR).repartition(4).write.mode("overwrite").parquet(out)
    return out


@pytest.fixture(scope="module")
def ordered_pages_dir(spark, tmp_path_factory):
    """The same pages as parquet files split by warc_ts range, modification
    times in range order: the file source reads the oldest file first, so
    every site's events arrive in event-time order and none is late."""
    out = str(tmp_path_factory.mktemp("pages_ordered"))
    pages = fixtures.pages_df(spark, SF_DIR).repartitionByRange(4, "warc_ts")
    pages.write.mode("overwrite").parquet(out)
    now = time.time()
    for i, path in enumerate(sorted(glob(f"{out}/part-*.parquet"))):
        os.utime(path, (now - 60 + i, now - 60 + i))
    return out


def test_stream_tile_counts_matches_batch(spark, pages_dir, tmp_path):
    stream = stream_tiler.read_pages_stream(spark, pages_dir)
    counts = stream_tiler.stream_tile_counts(stream, zoom=5, window_len="24 hours")
    q = (
        counts.writeStream.format("memory")
        .queryName("tile_counts_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT x, y, sum(n_pages) AS n_pages FROM tile_counts_stream GROUP BY x, y"
    ).toPandas().sort_values(["x", "y"]).reset_index(drop=True)

    # batch twin
    from engine.pipeline import index

    geo = fixtures.geotag_df(spark.read.parquet(pages_dir))
    df = index.with_unit(geo)
    df = df.withColumn("x", F.expr(index.tile_expr("u", "5", False)))
    df = df.withColumn("y", F.expr(index.tile_expr("v", "5", False)))
    want = (
        df.groupBy("x", "y").agg(F.count("*").alias("n_pages"))
        .toPandas().sort_values(["x", "y"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"n_pages": "int64"}), want.astype({"n_pages": "int64"})
    )


def test_stream_encode_tiles_matches_batch_bytes(spark, pages_dir, tmp_path):
    """foreachBatch tile encode: the union of per-batch tiles re-aggregated
    must cover every page, and each tile's bytes must decode cleanly."""
    out = str(tmp_path / "stream_tiles")
    stream = stream_tiler.read_pages_stream(spark, pages_dir)
    writer = stream_tiler.stream_encode_tiles(
        stream, out, z_min=0, z_max=2, checkpoint=str(tmp_path / "ck2")
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(300)

    tiles = spark.read.parquet(f"{out}/tiles").toPandas()
    n_pages = spark.read.parquet(pages_dir).count()
    # each batch encodes its own z0 tile; feature totals across batches
    # cover every page exactly once per zoom
    assert tiles[tiles.z == 0]["n_features"].sum() == n_pages
    assert set(tiles["batch_id"].unique()) == {0, 1, 2, 3}

    from engine.mvtcodec import tile as tilemod

    for b in tiles["mvt"].head(20):
        layers = tilemod.decode_tile(bytes(b))
        assert layers["pages"]["version"] == 2


def test_stream_encode_replay_idempotent(spark, pages_dir, tmp_path):
    """Spark re-runs a failed micro-batch with the SAME batch_id; the
    per-batch overwrite publish must make the replay a no-op (identical
    rows, no duplicates)."""
    out = str(tmp_path / "replay_tiles")
    batch = spark.read.parquet(pages_dir).limit(300)
    stream_tiler.encode_pages_batch(batch, 7, out, 0, 2)
    first = (
        spark.read.parquet(f"{out}/tiles")
        .select("z", "x", "y", "mvt_sha256")
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    stream_tiler.encode_pages_batch(batch, 7, out, 0, 2)  # replay
    second = (
        spark.read.parquet(f"{out}/tiles")
        .select("z", "x", "y", "mvt_sha256")
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(first, second)
    assert len(first) == len(first.drop_duplicates(["z", "x", "y"]))
    # manifest published alongside, queryable by the batch job's readers
    from engine.pipeline import manifest as manifest_mod

    assert manifest_mod.read_tiles(spark, out).count() == len(first)


def test_stream_encode_empty_batch_commits_nothing(spark, pages_dir, tmp_path):
    """An empty micro-batch stores no part file and no manifest row, and a
    replay of it, or of the batch before it, changes nothing."""
    from engine.pipeline import manifest as manifest_mod

    out = str(tmp_path / "empty_batch")
    pages = spark.read.parquet(pages_dir)
    stream_tiler.encode_pages_batch(pages.limit(300), 0, out, 0, 2)

    def snapshot():
        files = sorted(
            os.path.relpath(os.path.join(d, f), out)
            for d, _, names in os.walk(out)
            for f in names
        )
        tiles = (
            manifest_mod.read_tiles(spark, out)
            .select("batch_id", "z", "x", "y", "mvt_sha256")
            .toPandas()
            .sort_values(["batch_id", "z", "x", "y"])
            .reset_index(drop=True)
        )
        return files, tiles

    files, tiles = snapshot()
    assert len(tiles) > 0
    for _ in range(2):  # the empty batch 1, then its replay
        stream_tiler.encode_pages_batch(pages.limit(0), 1, out, 0, 2)
        got_files, got_tiles = snapshot()
        assert got_files == files
        pd.testing.assert_frame_equal(got_tiles, tiles)
    # a replay of batch 0 renames its files, and stores the same tiles
    stream_tiler.encode_pages_batch(pages.limit(300), 0, out, 0, 2)
    got_files, got_tiles = snapshot()
    assert not any("batch_id=1" in f for f in got_files)
    pd.testing.assert_frame_equal(got_tiles, tiles)
    m = spark.read.parquet(f"{out}/manifest")
    assert m.count() == len(tiles) and set(r.batch_id for r in m.collect()) == {0}


class _FakeState:
    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutTimestamp(self, ms):
        pass


def _mk_batch(ts_seconds):
    return [pd.DataFrame({"warc_ts": pd.to_datetime(ts_seconds, unit="s")})]


def test_sessionize_gap_split_and_counter():
    """Unit-level: >30-min gaps close sessions immediately with incrementing
    ids; the open session flushes on timeout with the NEXT id."""
    st = _FakeState()
    m = 60
    out1 = list(
        stream_tiler._sessionize(
            ("site-a",), _mk_batch([0, 5 * m, 10 * m, 90 * m, 95 * m, 200 * m]), st
        )
    )
    rows = pd.concat(out1, ignore_index=True)
    assert list(rows["session_id"]) == [0, 1]
    assert list(rows["n_pages"]) == [3, 2]
    assert st.get[0] == 2 and st.get[1] == 1  # open session id=2, one row
    # next batch extends the open session (no gap), then times out
    out2 = list(stream_tiler._sessionize(("site-a",), _mk_batch([201 * m]), st))
    assert out2 == []
    assert st.get[0] == 2 and st.get[1] == 2
    st.hasTimedOut = True
    flushed = pd.concat(list(stream_tiler._sessionize(("site-a",), None, st)))
    assert list(flushed["session_id"]) == [2]
    assert list(flushed["n_pages"]) == [2]
    assert st.removed
    # a fresh key after the flush starts at id 0 again with fresh state
    st2 = _FakeState()
    list(stream_tiler._sessionize(("site-b",), _mk_batch([0]), st2))
    assert st2.get[0] == 0 and st2.get[1] == 1


def test_sessionize_pages_state(spark, ordered_pages_dir, tmp_path):
    """applyInPandasWithState sessionizer: the availableNow query ends by
    itself, and the sessions it closed equal, row for row, the batch
    30-minute gap rule over the same pages — every session followed by
    another at its site, plus each site's last session if the final
    watermark (newest event - gap) passed its last event + gap."""
    stream = stream_tiler.read_pages_stream(spark, ordered_pages_dir)
    sessions = stream_tiler.sessionize_pages(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "the availableNow query did not terminate"
    key = ["site", "first_us", "last_us", "n_pages"]
    got = spark.sql(
        "SELECT site, unix_micros(first_ts) AS first_us, "
        "unix_micros(last_ts) AS last_us, n_pages FROM sessions_stream"
    ).toPandas()
    gap = stream_tiler.SESSION_GAP_US
    ev = spark.read.parquet(ordered_pages_dir).selectExpr(
        "split(url, '/')[2] AS site", "unix_micros(warc_ts) AS us"
    )
    w = Window.partitionBy("site").orderBy("us")
    brk = F.coalesce((F.col("us") - F.lag("us").over(w) > gap).cast("int"), F.lit(0))
    batch = (
        ev.withColumn("sid", F.sum(brk).over(w))
        .groupBy("site", "sid")
        .agg(
            F.min("us").alias("first_us"), F.max("us").alias("last_us"),
            F.count("*").alias("n_pages"),
        )
    )
    final_wm = ev.agg(F.max("us")).first()[0] - gap
    is_last = F.col("sid") == F.max("sid").over(Window.partitionBy("site"))
    want = (
        batch.withColumn("is_last", is_last)
        .filter(~F.col("is_last") | (F.col("last_us") + gap < final_wm))
        .toPandas()
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(
        got[key].sort_values(key).reset_index(drop=True),
        want[key].sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
