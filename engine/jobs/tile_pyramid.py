"""spark-submit entrypoint: pages -> geotag -> z pyramid -> MVT tiles.

Deployment (north rule):
    python -m engine.jobs.package /tmp/engine.zip
    spark-submit --py-files /tmp/engine.zip engine/jobs/tile_pyramid.py \
        --sf-dir /root/testdata/sf0.01 --out /tmp/tiles_out --z-max 6

Resumable: re-running with the same --out skips every tile already marked
done in the checkpoint manifest (engine.pipeline.manifest), so a killed job
continues per-tile (a retry under the same --run-id first deletes what the
killed attempt left). --no-resume re-encodes every tile.
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", required=True, help="input table directory (parquet)")
    p.add_argument("--out", required=True, help="output dir (tiles/ + manifest/)")
    p.add_argument("--z-min", type=int, default=0)
    p.add_argument("--z-max", type=int, default=8)
    p.add_argument("--cap", type=int, default=200_000,
                   help="max features per tile (mega-tile guard, B14)")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None, help="override master URL (local runs)")
    p.add_argument("--run-id", default=None, help="letters, digits, _ and -")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from engine.pipeline import fixtures, index, manifest, tiler
    from engine.pipeline.session import get_spark

    spark = get_spark(master=args.master, app_name="tile_pyramid")
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, args.sf_dir)))
    indexed = index.with_tiles(index.with_unit(geo), args.z_min, args.z_max)
    if args.cap:
        indexed = tiler.cap_features_per_tile(indexed, args.cap)

    run_id = manifest.run_tile_stage(
        spark, indexed, args.out, run_id=args.run_id, resume=not args.no_resume,
        z_max=args.z_max,
    )
    manifest.metrics_summary(spark, args.out).orderBy("run_id").show(truncate=False)
    print(f"run_id={run_id}")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
