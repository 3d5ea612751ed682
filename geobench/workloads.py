"""The four geobench workloads: how each caches its inputs in Spark, what one
iteration calls in the engine, and how its output is checked.

An iteration is written once for both modes.  Each public engine call sits
in a ``t.span`` named ``<module>.<function>``; ``t.materialize`` caches and
counts an intermediate only in the traced run, so the untraced run lets
Spark fuse the chain the way a user's job would.

BENCHMARK.json times crawl_tiles and webtext_dedup.  skewed_pip_shuffle and
pyramid_write_resume are run by hand: on a 4-core host every Spark job costs
a fixed 0.5-1 s, so one run of either takes 85-130 s, and the benchmark's
time budget holds only two workloads of about a minute each.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from geobench import reference as ref


@dataclass
class Ctx:
    spark: object
    dfs: dict
    counts: dict
    work: str
    n_rows: int
    iteration: int = 0
    notes: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Workload:
    name: str
    size: int
    rows_table: str
    # checked but untimed iterations between the cold one and the window
    warmup: int
    reference: Callable
    load: Callable
    iterate: Callable
    check: Callable


def _cached(spark, path: str, parts: int):
    df = spark.read.parquet(path).repartition(parts).persist()
    df.count()
    return df


def _parquet(d: str, t: str) -> str:
    return os.path.join(d, f"{t}.parquet")


# ---------------------------------------------------------------------------
# crawl_tiles: geotag → tile → broadcast PIP → fused density burn → pyramid
# ---------------------------------------------------------------------------

CRAWL_BASE_ZOOM = 5


def _grid10():
    import __spark_entry__

    return __spark_entry__._grid_polygons_pdf()


def crawl_load(spark, d, parts):
    return {
        "pages": _cached(spark, _parquet(d, "pages"), parts),
        "gazetteer": _cached(spark, _parquet(d, "gazetteer"), 1),
        "grid": _grid10(),
    }


def crawl_iterate(c: Ctx, t) -> dict:
    from engine import geotag, joins, raster

    with t.span("geotag.geotag_first"):
        tagged = geotag.geotag_first(c.dfs["pages"], c.dfs["gazetteer"])
        n = t.materialize(tagged)
    if n is not None:
        t.note("geotag.geotag_first.match_ratio", n / c.n_rows)
    with t.span("joins.with_tile"):
        tiled = joins.with_tile(tagged, 8)
        t.materialize(tiled)
    with t.span("joins.pip_join_broadcast"):
        joined = t.keep(joins.pip_join_broadcast(tiled, c.dfs["grid"], keep_cols=("url",)))
        pip_counts = dict(joined.groupBy("polygon_id").count().collect())
    with t.span("raster.burn_base_tiles_pip"):
        levels = [t.keep(raster.burn_base_tiles_pip(joined, c.dfs["grid"], CRAWL_BASE_ZOOM))]
        t.materialize(levels[0])
    for _ in range(2):
        with t.span("raster.pyramid_reduce"):
            levels.append(t.keep(raster.pyramid_reduce(levels[-1])))
            t.materialize(levels[-1])
    with t.span("raster.tile_checksums"):
        tiles = raster.tile_checksums(levels[0].unionByName(levels[1]).unionByName(levels[2])).toPandas()
    return {"pip_counts": pip_counts, "tiles": tiles}


# ---------------------------------------------------------------------------
# skewed_pip_shuffle: cell-replicated shuffle PIP over a hot cell + kNN
# ---------------------------------------------------------------------------

QUERY_EVERY = 200
KNN_K = 5
# z5 cells are wide enough that one ring holds the k nearest places of
# almost every query, so the ring search rarely needs a second round
KNN_ZOOM = 5


def skewed_load(spark, d, parts):
    points = _cached(spark, _parquet(d, "points"), parts)
    queries = points.where(points.pid % QUERY_EVERY == 0).selectExpr("pid as qid", "lon", "lat").persist()
    queries.count()
    return {
        "points": points,
        "polygons": _cached(spark, _parquet(d, "polygons"), parts),
        "places": _cached(spark, _parquet(d, "places"), parts),
        "queries": queries,
    }


def skewed_iterate(c: Ctx, t) -> dict:
    from engine import joins

    polygons = c.dfs["polygons"]
    with t.span("joins.polygon_cover_cells"):
        cover_rows = joins.polygon_cover_cells(polygons, 8).count()
    t.note("joins.polygon_cover_cells.replication", cover_rows / c.counts["polygons"])
    with t.span("joins.pip_join_shuffle_adaptive"):
        # a cell is hot above 1/20 of the points, so the planted hot cell
        # (a third of them) is split and no uniform cell is
        pairs = joins.pip_join_shuffle_adaptive(
            c.dfs["points"], polygons, zoom=8, keep_cols=("pid",), hot_threshold=c.counts["points"] // 20
        ).select("pid", "polygon_id").toPandas()
    t.note("_pairs", len(pairs))
    with t.span("joins.knn_join"):
        knn = joins.knn_join(
            c.dfs["queries"], c.dfs["places"], k=KNN_K, zoom=KNN_ZOOM, max_ring=4, strategy="rings"
        ).select("qid", "neighbor", "dist", "rank").toPandas()
    return {"pairs": pairs, "knn": knn, "cover_rows": cover_rows}


# ---------------------------------------------------------------------------
# pyramid_write_resume: checkpointed pyramid to disk, then resume
# ---------------------------------------------------------------------------

PYRAMID_BASE_ZOOM = 3
RAW_TILE_BYTES = 256 * 256 * 4


def pyramid_load(spark, d, parts):
    return {"points": _cached(spark, _parquet(d, "points"), parts)}


def _manifest(base: str) -> list:
    recs = []
    for fn in glob.glob(os.path.join(base, "_manifest", "zoom_*.json")):
        with open(fn) as f:
            recs.append(json.loads(f.readline()))
    return recs


def _levels(recs: list) -> dict:
    latest = {}
    for r in sorted(recs, key=lambda r: r["ts"]):
        latest[r["zoom"]] = (r["n_tiles"], r["total_count"], r["ck_xor"])
    return latest


def _disk_bytes(base: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(base) for f in fs)


def pyramid_iterate(c: Ctx, t) -> dict:
    from engine import pipeline

    base = os.path.join(c.work, f"pyramid-{c.iteration}")
    with t.span("pipeline.run_tiling"):
        pipeline.run_tiling(c.spark, c.dfs["points"], base, PYRAMID_BASE_ZOOM, 0)
    recs = _manifest(base)
    fresh = _levels(recs)
    t.note("pipeline.run_tiling.write_amp",
           _disk_bytes(base) / (RAW_TILE_BYTES * sum(v[0] for v in fresh.values())))
    for fn in glob.glob(os.path.join(base, "_manifest", "zoom_[01]_*.json")):
        os.remove(fn)
    t0 = time.time()
    with t.span("pipeline.run_tiling.resume"):
        pipeline.run_tiling(c.spark, c.dfs["points"], base, PYRAMID_BASE_ZOOM, 0, resume=True)
    resume_s = time.time() - t0
    after = _manifest(base)
    recomputed = len({r["zoom"] for r in after if r["ts"] >= t0})
    t.note("pipeline.run_tiling.resume.levels_recomputed", recomputed)
    shutil.rmtree(base, ignore_errors=True)
    return {"fresh": fresh, "resumed": _levels(after), "levels_recomputed": recomputed, "resume_s": resume_s}


# ---------------------------------------------------------------------------
# webtext_dedup: MinHash-LSH near-duplicate clustering
# ---------------------------------------------------------------------------


def webtext_load(spark, d, parts):
    return {"docs": _cached(spark, _parquet(d, "docs"), parts)}


def webtext_iterate(c: Ctx, t) -> dict:
    from engine import textops

    with t.span("textops.dedup_clusters_df"):
        clusters = textops.dedup_clusters_df(c.dfs["docs"]).select("doc_id", "cluster_id").toPandas()
    return {"clusters": clusters}


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            # no trend after the first warm iteration
            "crawl_tiles", 20_000, "pages", 1,
            lambda tables: ref.crawl_reference(tables, CRAWL_BASE_ZOOM, 2),
            crawl_load, crawl_iterate, ref.check_crawl,
        ),
        Workload(
            "skewed_pip_shuffle", 5_000, "points", 1,
            lambda tables: ref.skewed_reference(tables, QUERY_EVERY, KNN_K),
            skewed_load, skewed_iterate, ref.check_skewed,
        ),
        Workload(
            "pyramid_write_resume", 20_000, "points", 1,
            lambda tables: ref.pyramid_reference(tables, PYRAMID_BASE_ZOOM),
            pyramid_load, pyramid_iterate, ref.check_pyramid,
        ),
        Workload(
            # the first two warm iterations run 15-40% above the later ones
            # and vary most from run to run; later ones still get a few per
            # cent faster each for about a minute
            "webtext_dedup", 10_000, "docs", 2,
            ref.webtext_reference, webtext_load, webtext_iterate, ref.check_webtext,
        ),
    )
}
