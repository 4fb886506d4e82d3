"""The benchmark's workloads: the engine calls each job makes, and the check.

A workload is a list of jobs run one after another (one client, closed
loop). Each job builds its DataFrame through public ``engine.*`` functions
and runs one action into the ``noop`` sink, which materialises every
column and keeps nothing. Before the timed passes, every job runs once
collecting its output instead; the check compares that output with an
oracle sharing no code with the job: DuckDB over the same parquet files,
or the reference MVT codec.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import numpy as np
import pandas as pd

import checks
import inputs
from engine.pipeline import fixtures, index, joins, manifest, queries, tiler
from engine.textops import cluster


@dataclass
class Inputs:
    docs_dir: str  # documents.parquet the pages derive from
    text_dir: str = ""  # documents.parquet of the dedup corpus
    edges_path: str = ""
    centers_path: str = ""
    n_edges: int = 0
    n_centers: int = 0
    max_edges_per_poly: int = 0


@dataclass
class Ctx:
    spark: object
    tracer: object
    stats: object
    inp: Inputs
    work_dir: str
    seed: int
    # output sizes found by the check, which the throughputs divide
    items: dict = field(default_factory=dict)
    # figures for the per-layer metrics, from the check and traced passes
    layer: dict = field(default_factory=dict)

    @contextlib.contextmanager
    def op(self, name: str):
        """One engine call and its action, under their own job group and span."""
        with self.stats.group(name), self.tracer.span(name):
            yield

    def span(self, name: str):
        return self.tracer.span(name)


@dataclass
class Workload:
    name: str
    n_docs: int  # documents behind the pages (x120 pages each)
    n_polys: int
    n_text_docs: int
    jobs: tuple  # ((name, fn(ctx, collect) -> pandas frame or None), ...)
    nominal_pass_s: float  # --seconds // this = timed passes (at least one)
    oracle: Callable  # fn(ctx) -> oracle answers, from the inputs alone
    check: Callable  # fn(ctx, {job: collected output}, answers) -> failures


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(df, collect: bool, cols=None):
    """The action of a job: the noop sink, or a collect for the check."""
    if not collect:
        noop(df)
        return None
    return (df.select(*cols) if cols else df).toPandas()


def make_inputs(wl: Workload, seed: int, root: str) -> Inputs:
    docs_dir = os.path.join(root, "docs")
    inputs.write_parquet(
        inputs.documents_pdf(seed, wl.n_docs), f"{docs_dir}/documents.parquet"
    )
    inp = Inputs(docs_dir=docs_dir)
    if wl.n_text_docs:
        inp.text_dir = os.path.join(root, "text")
        inputs.write_parquet(
            inputs.documents_pdf(seed, wl.n_text_docs), f"{inp.text_dir}/documents.parquet"
        )
    if wl.n_polys:
        edges, centers = inputs.polygons_pdf(seed, wl.n_polys)
        inp.edges_path = inputs.write_parquet(edges, f"{root}/poly_edges.parquet")
        inp.centers_path = inputs.write_parquet(centers, f"{root}/poly_centers.parquet")
        inp.n_edges = len(edges)
        inp.n_centers = len(centers)
        inp.max_edges_per_poly = int(edges.groupby("poly_id").size().max())
    return inp


def _geotagged(ctx: Ctx):
    return fixtures.geotag_df(fixtures.pages_df(ctx.spark, ctx.inp.docs_dir))


# ------------------------------------------------------------ tile jobs ---


def point_pyramid(ctx: Ctx, collect=False):
    with ctx.op("point_pyramid"):
        with ctx.span("point_pyramid.build"):
            geo = index.with_feature_id(_geotagged(ctx))
            df = tiler.encode_point_tiles_compact(index.with_unit(geo), 0, 14)
        with ctx.span("point_pyramid.action"):
            return run(df, collect, ["z", "x", "y", "n_features", "mvt"])


def combined_tiles(ctx: Ctx, collect=False):
    """z0-3 point + polygon + outline tiles, merged per tile. Only traced
    runs time it (a probe in layers.py): its cold first run would cost the
    untraced runs more than their time budget holds."""
    with ctx.op("combined_tiles"):
        with ctx.span("combined_tiles.build"):
            df = queries.q_mvt_combined(ctx.spark, ctx.inp.docs_dir)
        with ctx.span("combined_tiles.action"):
            return run(df, collect)


def indexed(ctx: Ctx):
    geo = index.with_feature_id(_geotagged(ctx))
    return index.with_tiles(index.with_unit(geo), 0, 14)


def ckpt_dir(ctx: Ctx) -> str:
    return os.path.join(ctx.work_dir, "ckpt")


def ckpt_write(ctx: Ctx, collect=False):
    """A z0-14 checkpointed tile write into a fresh directory."""
    out_dir = ckpt_dir(ctx)
    shutil.rmtree(out_dir, ignore_errors=True)
    with ctx.op("ckpt_write"):
        manifest.run_tile_stage(ctx.spark, indexed(ctx), out_dir, run_id="fresh")
    if collect:  # what the write committed: one manifest row per tile
        return ctx.spark.read.parquet(f"{out_dir}/manifest").toPandas()
    return None


def ckpt_resume(ctx: Ctx, collect=False):
    """The same call again, resuming over the directory ckpt_write completed."""
    out_dir = ckpt_dir(ctx)
    with ctx.op("ckpt_resume"):
        manifest.run_tile_stage(ctx.spark, indexed(ctx), out_dir, run_id="resume")
    if not collect:
        return None
    stored = manifest.read_tiles(ctx.spark, out_dir).select(
        "z", "x", "y", "n_features", "n_bytes", "mvt_sha256"
    )
    n_manifest = ctx.spark.read.parquet(f"{out_dir}/manifest").count()
    return stored.toPandas(), n_manifest, _dir_bytes(out_dir)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")  # Hadoop's .crc side files are not data
    )


# ------------------------------------------------------ relational jobs ---


def _poly_tables(ctx: Ctx):
    read = ctx.spark.read.parquet
    return read(ctx.inp.edges_path), read(ctx.inp.centers_path)


def pip(ctx: Ctx, collect=False):
    with ctx.op("pip"):
        with ctx.span("pip.build"):
            edges, _ = _poly_tables(ctx)
            df = joins.pip_join_auto(
                _geotagged(ctx),
                edges,
                n_edges=ctx.inp.n_edges,
                max_edges_per_poly=ctx.inp.max_edges_per_poly,
            )
        with ctx.span("pip.action"):
            return run(df, collect, ["url", "poly_id"])


def knn(ctx: Ctx, collect=False):
    with ctx.op("knn"):
        with ctx.span("knn.build"):
            _, centers = _poly_tables(ctx)
            df = joins.knn_join_auto(
                _geotagged(ctx), centers, k=3, n_centers=ctx.inp.n_centers
            )
        try:
            with ctx.span("knn.action"):
                return run(df, collect, ["url", "poly_id", "dist2", "rank"])
        finally:
            joins.free_persisted(df)


def dedup(ctx: Ctx, collect=False):
    """The corpus-prep pipeline: rule filter, near-dup cluster keepers (LSH,
    Jaccard, connected components) and a stratified sample. Its iterative
    component rounds run eagerly while the DataFrame is built."""
    ctx.spark.read.parquet(f"{ctx.inp.text_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    with ctx.op("dedup"):
        with ctx.span("dedup.build"):
            df = cluster.corpus_prep_df(ctx.spark)
        with ctx.span("dedup.action"):
            return run(df, collect)


# --------------------------------------------------------------- checks ---


def _duckdb(docs_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/documents.parquet')"
    )
    return con


def _pages_sql(ctx: Ctx) -> str:
    return f"{fixtures.pages_cte(ctx.inp.docs_dir)}, {fixtures.geotag_cte()}"


def oracle_tiles(ctx: Ctx) -> dict:
    """DuckDB answers for the tile jobs; needs only the inputs."""
    con = _duckdb(ctx.inp.docs_dir)
    d = ctx.inp.docs_dir
    return {
        "counts": con.execute(queries._tile_counts_sql(d, 0, 14, "n_features")).df(),
        "points": con.execute(
            f"WITH {_pages_sql(ctx)} SELECT {index.feature_id_expr('duckdb')} AS feature_id, "
            f"lang, {index.unit_u_expr()} AS u, {index.unit_v_expr()} AS v FROM geotagged"
        ).df(),
    }


def oracle_combined(ctx: Ctx) -> pd.DataFrame:
    con = _duckdb(ctx.inp.docs_dir)
    return con.execute(queries.q_mvt_combined_sql(ctx.inp.docs_dir)).df()


def check_combined(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    msg = checks.same_rows(got, want, ["z", "x", "y", "n_features", "n_layers"])
    return [f"combined_tiles: {msg}"] if msg else []


def check_tiles(ctx: Ctx, out: dict, want: dict) -> list[str]:
    fails = []
    pyr = out["point_pyramid"]
    if msg := checks.same_rows(pyr, want["counts"], ["z", "x", "y", "n_features"]):
        fails.append(f"point_pyramid tile counts: {msg}")
    keys = checks.sample_tile_keys(pyr, ctx.seed)
    if msg := checks.point_tile_bytes(pyr, want["points"], keys):
        fails.append(f"point_pyramid bytes: {msg}")
    ctx.items["point_pyramid"] = len(pyr)
    ctx.items["features"] = int(pyr["n_features"].sum())
    ctx.items["mvt_bytes"] = int(pyr["mvt"].map(len).sum())
    ctx.layer["points"] = want["points"]

    fresh = out["ckpt_write"].rename(columns={"rows": "n_features", "bytes": "n_bytes"})
    resumed, n_manifest, stored = out["ckpt_resume"]
    cols = ["z", "x", "y", "n_features", "mvt_sha256"]
    if msg := checks.same_rows(resumed, fresh, cols):
        fails.append(f"ckpt_resume: read_tiles differs from what ckpt_write committed: {msg}")
    if n_manifest != len(fresh):
        fails.append(f"ckpt_resume added {n_manifest - len(fresh)} manifest rows")
    # the pandas encoder behind the checkpoint must agree byte for byte
    # with the compact encoder behind the pyramid
    pyr_sha = pyr.assign(mvt_sha256=pyr["mvt"].map(lambda b: hashlib.sha256(b).hexdigest()))
    if msg := checks.same_rows(fresh, pyr_sha, cols):
        fails.append(f"ckpt_write tiles differ from point_pyramid: {msg}")
    ctx.layer["manifest.stored_bytes_per_mvt_byte"] = stored / max(1, int(fresh["n_bytes"].sum()))
    ctx.layer["manifest.bytes_per_tile"] = stored / max(1, len(fresh))
    return fails


KNN_SAMPLE = 64


def oracle_joins_dedup(ctx: Ctx) -> dict:
    """DuckDB answers for the join and dedup jobs; needs only the inputs.

    The kNN oracle pairs every page with every center, so it runs on a
    seeded sample of pages; the check's row count covers the others."""
    con = _duckdb(ctx.inp.docs_dir)
    edges = f"poly_edges AS (SELECT * FROM read_parquet('{ctx.inp.edges_path}'))"
    centers = f"poly_centers AS (SELECT * FROM read_parquet('{ctx.inp.centers_path}'))"
    urls = con.execute(f"WITH {_pages_sql(ctx)} SELECT url FROM pages ORDER BY url").df()["url"]
    rng = np.random.default_rng([ctx.seed, 4])
    sample = pd.DataFrame({"url": rng.choice(urls, size=min(KNN_SAMPLE, len(urls)), replace=False)})
    con.register("knn_sample", sample)
    knn_ctes = (
        f"{fixtures.pages_cte(ctx.inp.docs_dir, 'pages_all')}, "
        "pages AS (SELECT * FROM pages_all WHERE url IN (SELECT url FROM knn_sample)), "
        f"{fixtures.geotag_cte()}, {centers}"
    )
    want = {
        "pip": con.execute(joins.pip_oracle_sql(f"{_pages_sql(ctx)}, {edges}")).df(),
        "n_pages": len(urls),
        "knn_sample": con.execute(joins.knn_oracle_sql(knn_ctes, k=3)).df(),
    }
    con = _duckdb(ctx.inp.text_dir)
    want["corpus_prep"] = con.execute(cluster.corpus_prep_sql("duckdb")).df()
    return want


def check_joins_dedup(ctx: Ctx, out: dict, want: dict) -> list[str]:
    fails = []
    pip_rows = out["pip"]
    if msg := checks.same_rows(pip_rows, want["pip"], ["url", "poly_id"]):
        fails.append(f"pip: {msg}")

    knn_rows = out["knn"]
    if len(knn_rows) != 3 * want["n_pages"]:
        fails.append(f"knn: {len(knn_rows)} rows for {want['n_pages']} pages, want 3 per page")
    sampled = want["knn_sample"]
    mine = knn_rows[knn_rows["url"].isin(sampled["url"])]
    if msg := checks.same_rows(mine, sampled, ["url", "poly_id", "dist2", "rank"]):
        fails.append(f"knn (sampled pages): {msg}")
    ctx.items["pip"] = len(pip_rows)
    ctx.items["knn"] = len(knn_rows)

    cols = ["doc_id", "lang", "cluster_id", "n_words", "bucket"]
    if msg := checks.same_rows(out["dedup"], want["corpus_prep"], cols):
        fails.append(f"dedup (corpus_prep): {msg}")
    return fails


def throughput(ctx: Ctx, secs: dict) -> dict:
    """Output rates from the check's output sizes and median job seconds."""
    out = {}
    if "point_pyramid" in secs:
        out["tiles_per_s"] = ctx.items["point_pyramid"] / secs["point_pyramid"]
    if "pip" in secs:
        rows = ctx.items["pip"] + ctx.items["knn"]
        out["joined_rows_per_s"] = rows / (secs["pip"] + secs["knn"])
    return out


WORKLOADS = {
    wl.name: wl
    for wl in (
        Workload(
            name="tiles",
            n_docs=10,
            n_polys=0,
            n_text_docs=0,
            jobs=(
                ("point_pyramid", point_pyramid),
                ("ckpt_write", ckpt_write),
                ("ckpt_resume", ckpt_resume),
            ),
            nominal_pass_s=8.0,
            oracle=oracle_tiles,
            check=check_tiles,
        ),
        Workload(
            name="joins_dedup",
            n_docs=10,
            # 5 000 centers: under the broadcast limit at 2 cores or more, so
            # knn runs the broadcast-hybrid plan; the partitioned cascade
            # costs ~5.5 s a pass at any size past it, twice the rest
            n_polys=5_000,
            n_text_docs=50,
            jobs=(("pip", pip), ("knn", knn), ("dedup", dedup)),
            nominal_pass_s=5.5,
            oracle=oracle_joins_dedup,
            check=check_joins_dedup,
        ),
    )
}
