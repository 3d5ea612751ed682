"""Seeded input generator for the geobench workloads.

Every table is a pure function of (workload, seed, size).  Tables are cached
as parquet under ``.run/cache/<workload>-n<size>-s<seed>-g<source hash>/``
next to a ``manifest.json`` that records a content hash per table, so a run
with a seed it has seen before skips generation, an edited generator never
reuses old tables, and a damaged cache entry is regenerated (the hash is
re-derived from the cached rows).

Placement rule: every generated point sits strictly inside one z5 mercator
pixel (centre ±0.4 px) and at least ~1e-4 degrees away from every whole
degree of longitude and latitude.  z5 pixel edges include every z8 tile
edge, and whole degrees include every edge of the 1° and 10° polygon grids,
so pixel, tile and point-in-polygon answers never depend on how a formula
rounds at a boundary — the reference checks can use plain floor arithmetic.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

PIXEL_ZOOM = 5
# extent (minx, miny, maxx, maxy) of the skewed workload's 1° polygon grid
# and kNN places: a continent-sized area, 80 x 80 cells
REGION = (-40.0, -30.0, 40.0, 50.0)
# the part of REGION the skewed workload's points fall in
ACTIVE = (-10.0, 0.0, 10.0, 20.0)
WORLD_PX = 256 << PIXEL_ZOOM  # z5 pixels per world axis

_FILLER = (
    "the quick crawl web page data spark tile join index query scan cell "
    "zoom level pyramid vector raster point polygon filter shuffle partition"
).split()


# ---------------------------------------------------------------------------
# geometry helpers
# ---------------------------------------------------------------------------


def pixel_to_lonlat(px: np.ndarray, py: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Global z5 pixel coordinates (TMS: y grows northwards) → lon/lat."""
    lon = px / WORLD_PX * 360.0 - 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp((2.0 * py / WORLD_PX - 1.0) * math.pi)) - math.pi / 2)
    return lon, lat


def lat_to_pixel_row(lat: float) -> int:
    """Latitude → z5 pixel row (TMS) containing it."""
    y = math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
    return int((y / math.pi + 1.0) / 2.0 * WORLD_PX)


def _near_whole_degree(v: np.ndarray) -> np.ndarray:
    return np.abs(v - np.round(v)) < 1e-6


def place_points(rng: np.random.Generator, gx: np.ndarray, gy: np.ndarray):
    """Points inside the given z5 pixels (centre ±0.4 px), nudged off every
    whole-degree line.  Returns (lon, lat)."""
    u = rng.uniform(0.1, 0.9, gx.shape[0])
    v = rng.uniform(0.1, 0.9, gy.shape[0])
    while True:
        lon, lat = pixel_to_lonlat(gx + u, gy + v)
        bad_x, bad_y = _near_whole_degree(lon), _near_whole_degree(lat)
        if not (bad_x.any() or bad_y.any()):
            return lon, lat
        # 0.05 px is >= 1e-4 degrees at any z5 latitude and never leaves
        # the pixel's 0.1..0.9 interior band in more than a few steps
        u = np.where(bad_x, np.where(u < 0.5, u + 0.05, u - 0.05), u)
        v = np.where(bad_y, np.where(v < 0.5, v + 0.05, v - 0.05), v)


def uniform_pixels(rng: np.random.Generator, n: int, lat_max: float = 80.0):
    """n z5 pixels uniform over the mercator square clipped to ±lat_max."""
    lo, hi = lat_to_pixel_row(-lat_max), lat_to_pixel_row(lat_max)
    return rng.integers(0, WORLD_PX, n), rng.integers(lo, hi, n)


def clustered_pixels(rng: np.random.Generator, n: int, n_clusters: int, sigma_px: float):
    """n z5 pixels in Gaussian 'city' clusters.  The centres come from a
    fixed stream, not from ``rng``, so every seed spreads its points over the
    same regions and the amount of tile work does not depend on the seed."""
    cx, cy = uniform_pixels(np.random.default_rng(n_clusters), n_clusters, lat_max=65.0)
    which = rng.integers(0, n_clusters, n)
    gx = np.clip(np.round(cx[which] + rng.normal(0, sigma_px, n)), 0, WORLD_PX - 1)
    gy = np.clip(np.round(cy[which] + rng.normal(0, sigma_px, n)), 0, WORLD_PX - 1)
    return gx.astype(np.int64), gy.astype(np.int64)


# ---------------------------------------------------------------------------
# workload tables
# ---------------------------------------------------------------------------


def crawl_tables(seed: int, n_pages: int, n_places: int = 5000) -> dict:
    """Common-Crawl-like pages plus a gazetteer whose place tokens the page
    text embeds (0-3 per page, Zipf-like place popularity)."""
    rng = np.random.default_rng([seed, 1])
    gx, gy = clustered_pixels(rng, n_places, n_clusters=12, sigma_px=120.0)
    lon, lat = place_points(rng, gx, gy)
    names = np.array([f"Ztown{i:06d}x" for i in range(n_places)])
    gaz = pd.DataFrame(
        {"name": names, "lon": lon, "lat": lat,
         "country_id": (np.arange(n_places) * 7919 % 500).astype(np.int32)}
    )

    n_tok = 12
    words = np.array(_FILLER)[rng.integers(0, len(_FILLER), (n_pages, n_tok))].astype(object)
    weights = 1.0 / (np.arange(n_places) + 10.0)
    weights /= weights.sum()
    k = rng.choice(4, n_pages, p=[0.25, 0.4, 0.25, 0.1])
    for j in range(3):
        has = k > j
        slot = rng.integers(0, n_tok, n_pages)
        pick = rng.choice(n_places, n_pages, p=weights)
        rows = np.nonzero(has)[0]
        words[rows, slot[rows]] = names[pick[rows]]
    text = [" ".join(r) for r in words]
    idx = np.arange(n_pages)
    pages = pd.DataFrame(
        {
            "url": [f"https://site{i % 997}.example/p{i}" for i in idx],
            "warc_ts": pd.Timestamp("2024-01-01", tz="UTC") + pd.to_timedelta(idx * 7, unit="s"),
            "lang": np.array(["en", "en", "de", "fr", "es"])[idx % 5],
            "text": text,
        }
    )
    return {"pages": pages, "gazetteer": gaz}


def skewed_tables(seed: int, n_points: int, n_places: int = 1000) -> dict:
    """Points over ACTIVE, a 20° square inside REGION, with one hot z8 cell
    holding a third of them; the 1° polygon grid over all of REGION (6,400
    rectangles, of which the points touch about 400); and a uniform place
    set over REGION for the kNN join."""
    from engine import geom

    rng = np.random.default_rng([seed, 2])
    minx, miny, maxx, maxy = REGION
    x0, x1 = math.ceil((minx + 180) / 360 * WORLD_PX), math.floor((maxx + 180) / 360 * WORLD_PX)
    y0, y1 = lat_to_pixel_row(miny) + 1, lat_to_pixel_row(maxy)

    ax0, ay0, ax1, ay1 = ACTIVE
    a0, a1 = math.ceil((ax0 + 180) / 360 * WORLD_PX), math.floor((ax1 + 180) / 360 * WORLD_PX)
    b0, b1 = lat_to_pixel_row(ay0) + 1, lat_to_pixel_row(ay1)

    def region_pixels(n):
        return rng.integers(x0, x1, n), rng.integers(y0, y1, n)

    n_hot = n_points // 3
    gx, gy = rng.integers(a0, a1, n_points - n_hot), rng.integers(b0, b1, n_points - n_hot)
    # hot z8 tile (32x32 z5 pixels) strictly inside ACTIVE
    htx, hty = int(rng.integers(a0 // 32 + 1, a1 // 32 - 1)), int(rng.integers(b0 // 32 + 1, b1 // 32 - 1))
    hx = htx * 32 + rng.integers(0, 32, n_hot)
    hy = hty * 32 + rng.integers(0, 32, n_hot)
    gx, gy = np.concatenate([gx, hx]), np.concatenate([gy, hy])
    order = rng.permutation(n_points)
    lon, lat = place_points(rng, gx[order], gy[order])
    points = pd.DataFrame({"pid": np.arange(n_points, dtype=np.int64), "lon": lon, "lat": lat})

    ncols, nrows = int(maxx - minx), int(maxy - miny)
    col, row = np.meshgrid(np.arange(ncols), np.arange(nrows))
    col, row = col.ravel(), row.ravel()
    cx, cy = minx + col * 1.0, miny + row * 1.0
    polygons = pd.DataFrame(
        {
            "polygon_id": (row * ncols + col).astype(np.int32),
            "geom_wkb": [geom.wkb_polygon([[(x, y), (x + 1, y), (x + 1, y + 1), (x, y + 1)]])
                         for x, y in zip(cx, cy)],
            "minx": cx, "miny": cy, "maxx": cx + 1.0, "maxy": cy + 1.0,
        }
    )

    px, py = region_pixels(n_places)
    plon, plat = place_points(rng, px, py)
    places = pd.DataFrame({"name": np.arange(n_places, dtype=np.int64), "lon": plon, "lat": plat})
    return {"points": points, "polygons": polygons, "places": places}


def pyramid_tables(seed: int, n_points: int) -> dict:
    """Density points: half uniform, half in 40 Gaussian 'city' clusters."""
    rng = np.random.default_rng([seed, 3])
    n_u = n_points // 2
    gx, gy = uniform_pixels(rng, n_u, lat_max=75.0)
    sx, sy = clustered_pixels(rng, n_points - n_u, n_clusters=40, sigma_px=60.0)
    gx, gy = np.concatenate([gx, sx]), np.concatenate([gy, sy])
    lon, lat = place_points(rng, gx, gy)
    return {"points": pd.DataFrame({"pid": np.arange(n_points, dtype=np.int64), "lon": lon, "lat": lat})}


def _cluster_sizes(rng: np.random.Generator, budget: int, lo: int, hi: int) -> list:
    sizes = []
    while budget >= lo:
        s = int(min(rng.integers(lo, hi + 1), budget))
        sizes.append(s)
        budget -= s
    return sizes


def webtext_tables(seed: int, n_docs: int) -> dict:
    """Web documents:

    * a boilerplate megabucket: 10% of docs share one text;
    * case-variant clusters: 2.5% of docs in clusters of 2-6 whose members
      differ only in letter case (identical lower-cased shingle sets);
    * near-duplicate clusters: 2.5% of docs in clusters of 2-4, a 50-70 word
      base plus members that each replace one interior word of the base, so
      each member's 3-word-shingle Jaccard with the base is 0.88-0.92;
    * unique 20-40 word random documents for the rest.

    The ``doc_id`` order is a random permutation, so cluster hubs (minimum
    ids) fall anywhere."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array([f"w{i:05d}" for i in range(20000)])

    def words(n):
        return list(vocab[rng.integers(0, vocab.size, n)])

    n_boiler = n_docs // 10
    case_sizes = _cluster_sizes(rng, n_docs // 40, 2, 6)
    near_sizes = _cluster_sizes(rng, n_docs // 40, 2, 4)
    n_unique = n_docs - n_boiler - sum(case_sizes) - sum(near_sizes)
    boiler = "Home | About us | Contact | Privacy policy | Terms of use | all rights reserved"

    texts = [boiler] * n_boiler
    texts += [" ".join(words(int(rng.integers(20, 41)))) for _ in range(n_unique)]
    for s in case_sizes:
        toks = words(int(rng.integers(20, 41)))
        texts.append(" ".join(toks))
        for _ in range(s - 1):
            up = rng.random(len(toks)) < 0.3
            texts.append(" ".join(t.upper() if u else t for t, u in zip(toks, up)))
    members, bases = [], []
    for s in near_sizes:
        toks = words(int(rng.integers(50, 71)))
        base = len(texts)
        texts.append(" ".join(toks))
        for _ in range(s - 1):
            edit = list(toks)
            edit[int(rng.integers(3, len(toks) - 3))] = f"x{int(rng.integers(0, 10**6)):06d}"
            members.append(len(texts))
            bases.append(base)
            texts.append(" ".join(edit))
    ids = rng.permutation(n_docs).astype(np.int64)
    return {
        "docs": pd.DataFrame({"doc_id": ids, "text": texts}),
        # ground truth for the check only; the engine never reads it
        "near_dups": pd.DataFrame({"doc_id": ids[members], "base_id": ids[bases]}),
    }


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

GENERATORS = {
    "crawl_tiles": crawl_tables,
    "skewed_pip_shuffle": skewed_tables,
    "pyramid_write_resume": pyramid_tables,
    "webtext_dedup": webtext_tables,
}


def table_hash(df: pd.DataFrame) -> str:
    """Content hash of a table: column names, dtypes and row hashes."""
    h = hashlib.sha256(json.dumps([[c, str(t)] for c, t in df.dtypes.items()]).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).to_numpy().tobytes())
    return h.hexdigest()


# cache entries are keyed by this file's content, so editing a generator
# never reuses tables it made before the edit
with open(__file__, "rb") as _f:
    _SOURCE_TAG = hashlib.sha256(_f.read()).hexdigest()[:10]


def load_inputs(cache_root: str, workload: str, seed: int, size: int) -> tuple[str, dict, dict]:
    """Generate (or reuse from cache) the tables of one (workload, seed, size).

    Returns (directory holding ``<table>.parquet``, {table: DataFrame},
    {table: content hash}).  A cached table whose re-derived hash differs
    from the manifest is regenerated.
    """
    d = os.path.join(cache_root, f"{workload}-n{size}-s{seed}-g{_SOURCE_TAG}")
    mf = os.path.join(d, "manifest.json")
    if os.path.exists(mf):
        with open(mf) as f:
            hashes = json.load(f)["tables"]
        tables = {t: pq.read_table(os.path.join(d, f"{t}.parquet")).to_pandas() for t in hashes}
        if all(table_hash(tables[t]) == hashes[t] for t in hashes):
            return d, tables, hashes
    tables = GENERATORS[workload](seed, size)
    os.makedirs(d, exist_ok=True)
    hashes = {}
    for t, df in tables.items():
        # Spark reads microsecond timestamps only
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(d, f"{t}.parquet"),
                       coerce_timestamps="us")
        hashes[t] = table_hash(df)
    with open(mf, "w") as f:
        json.dump({"workload": workload, "seed": seed, "size": size, "tables": hashes}, f, indent=1)
    return d, tables, hashes
