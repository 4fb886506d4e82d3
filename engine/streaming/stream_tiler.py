"""Structured Streaming pipeline stages (SURVEY §2.C: the reference has no
streaming at all; these are the engine-side generalizations).

Tile encode is a pure function of the grouped input (tiler.py docstring),
so the streaming variants follow the standard shapes:

- stream_tile_counts: readStream(pages) -> geotag -> tile assign ->
  watermarked windowed count per (window, z, x, y). Incremental state is
  bounded by the watermark; late pages beyond it are dropped by Spark.
- stream_encode_tiles: foreachBatch over the same stream — each micro-batch
  runs the BATCH tile encoder (byte-deterministic within the batch) and
  publishes tiles + manifest through the batch job's manifest.publish_tiles
  into per-batch partition directories, the manifest with mode=overwrite,
  so Spark's batch REPLAY after a failure replaces the same batch_id
  (byte-identical) instead of duplicating rows; the layout is the batch
  job's, so manifest.read_tiles / metrics_summary work unchanged on
  streaming output.
- sessionize_pages: applyInPandasWithState custom stateful operator —
  per-site sessions split on a 30-minute event-time gap (same rule as the
  batch twin queries.q_event_sessions), with a monotonically increasing
  session counter carried in state; closed sessions emit immediately, the
  open one flushes on an event-time timeout once the warc_ts watermark
  passes its last event + the gap. Event-time ordering is assumed per site
  (no watermark reordering in this demo operator).

All sources here are file streams (parquet dirs) so the same code path runs
against cloud object stores; tests drive them with trigger(availableNow).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from engine.pipeline import fixtures, index, manifest, tiler

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_pages_stream(spark, input_dir: str) -> DataFrame:
    """File-source stream of page parquet drops (one file per micro-batch
    in tests; at scale: an object-store landing prefix)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )


def stream_tile_counts(
    pages: DataFrame, zoom: int = 6, watermark: str = "1 hour",
    window_len: str = "1 hour",
) -> DataFrame:
    """Watermarked per-(event-window, tile) page counts at one zoom."""
    geo = fixtures.geotag_df(pages)
    df = index.with_unit(geo)
    df = df.withColumn("x", F.expr(index.tile_expr("u", str(zoom), False)))
    df = df.withColumn("y", F.expr(index.tile_expr("v", str(zoom), False)))
    return (
        df.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_len).alias("win"), "x", "y")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("win_start"), "x", "y", "n_pages"
        )
    )


def stream_encode_tiles(
    pages: DataFrame, out_dir: str, z_min: int = 0, z_max: int = 4,
    checkpoint: str | None = None,
):
    """writeStream.foreachBatch: every micro-batch encodes its pages into
    per-batch MVT tiles and publishes tiles + manifest parquet.

    Idempotency: a failed/replayed micro-batch re-runs with the SAME
    batch_id; publishing run 'batch-<n>' into ``batch_id=<n>`` partition
    directories (manifest.publish_tiles, manifest mode=overwrite) makes the
    replay replace its own previous (partial) output — byte-identical
    thanks to the deterministic encoder — instead of blind-append
    duplicating it. The batch job's readers work unchanged."""
    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        encode_pages_batch(batch_df, batch_id, out_dir, z_min, z_max)

    writer = pages.writeStream.foreachBatch(encode_batch).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def encode_pages_batch(
    batch_df: DataFrame, batch_id: int, out_dir: str, z_min: int, z_max: int
) -> None:
    """One micro-batch's encode + publish (module-level so tests can replay
    a batch_id directly and assert idempotency). An empty batch stores and
    commits nothing (manifest.publish_tiles counts the write it stages)."""
    geo = index.with_feature_id(fixtures.geotag_df(batch_df))
    idx = index.with_tiles(index.with_unit(geo), z_min, z_max)
    manifest.publish_tiles(
        batch_df.sparkSession, tiler.encode_point_tiles(idx),
        f"{out_dir}/tiles/batch_id={batch_id}", f"{out_dir}/manifest/batch_id={batch_id}",
        f"batch-{batch_id:06d}", manifest_mode="overwrite",
    )


SESSION_SCHEMA = (
    "site string, session_id int, n_pages bigint, first_ts timestamp, "
    "last_ts timestamp"
)
_STATE_SCHEMA = "session_id int, n_pages bigint, first_ts long, last_ts long"


SESSION_GAP_US = 1800 * 1_000_000  # 30 min, same rule as q_event_sessions


def _session_row(site, sid, n, first_us, last_us) -> dict:
    return {
        "site": site,
        "session_id": sid,
        "n_pages": n,
        "first_ts": pd.Timestamp(first_us, unit="us"),
        "last_ts": pd.Timestamp(last_us, unit="us"),
    }


def _sessionize(key, pdfs, state: GroupState):
    """Gap-based sessionizer for one site key (applyInPandasWithState).

    State = (next-open session id, running count, first/last event micros)
    for the OPEN session. A batch's rows (event-time sorted) extend it;
    every >30-minute event-time gap CLOSES the current session (emitted
    immediately, session ids increment monotonically) and opens the next;
    the event-time timeout at last event + gap flushes the open session
    once the watermark passes it. Timestamps
    travel as int64 micros inside the state tuple (tuple state schemas have
    no native timestamp type)."""
    import numpy as np

    site = key[0]
    if state.hasTimedOut:
        sid, n, first_us, last_us = state.get
        state.remove()
        yield pd.DataFrame([_session_row(site, sid, n, first_us, last_us)])
        return
    rows = pd.concat(list(pdfs), ignore_index=True)
    us = np.sort(rows["warc_ts"].astype("datetime64[us]").astype("int64").to_numpy())
    if state.exists:
        sid, n, first_us, last_us = state.get
    else:
        sid, n, first_us, last_us = 0, 0, int(us[0]), int(us[0])
    prev = np.concatenate([[last_us], us[:-1]])
    starts = np.flatnonzero(us - prev > SESSION_GAP_US)  # new-session row idx
    closed = []
    # segment 0 extends the open session; each later segment starts after a gap
    for k, seg in enumerate(np.split(us, starts)):
        if k > 0:
            if n > 0:
                closed.append(_session_row(site, sid, n, first_us, last_us))
                sid += 1
            n = 0
        if len(seg):
            if n == 0:
                first_us = int(seg[0])
            n += len(seg)
            last_us = int(seg[-1])
    state.update((sid, n, first_us, last_us))
    state.setTimeoutTimestamp((last_us + SESSION_GAP_US) // 1000)
    if closed:
        yield pd.DataFrame(closed)


def sessionize_pages(pages: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-site page sessions.

    The event-time timeout runs over a ``warc_ts`` watermark one session
    gap behind the newest event: an ``availableNow`` query ends after the
    no-data batch that flushes every session the final watermark passed
    (a processing-time timeout would ask for another batch forever). Rows
    older than the watermark are dropped as late.

    Session-id scope: ids increment monotonically only WITHIN one state
    lifetime — the timeout flush removes the state, so the
    next burst for the same site restarts at session_id 0 (unlike the batch
    twin q_event_sessions, whose numbering spans the whole table). Consumers
    needing a globally unique session key should key on
    (site, first_ts) — first_ts is unique per session by construction
    (a session starts strictly after the previous one's last event)."""
    site = pages.withColumn("site", F.expr("split(url, '/')[2]")).withWatermark(
        "warc_ts", f"{SESSION_GAP_US // 1_000_000} seconds"
    )
    return (
        site.groupBy("site")
        .applyInPandasWithState(
            _sessionize,
            SESSION_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
