"""Expected outputs computed with numpy/pandas from the generated inputs, and
the checks that compare an engine output against them.

Nothing here calls the engine: tile pixels, polygon ids, the pyramid, the
GDAL checksum, kNN and duplicate clusters are all recomputed from scratch.
Every ``check_*`` returns a list of human-readable problems (empty = pass),
so one failed iteration reports every mismatch it has.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from geobench.gen import REGION, WORLD_PX

TILE = 256
_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)
_CK_PRIMES = _PRIMES[np.arange(TILE * TILE) % 11]


def lonlat_to_z5_pixel(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Global z5 mercator pixel (TMS, y northwards) containing each point."""
    px = (np.asarray(lon) + 180.0) / 360.0 * WORLD_PX
    y = np.log(np.tan(math.pi / 4 + np.radians(np.asarray(lat)) / 2))
    py = (y / math.pi + 1.0) / 2.0 * WORLD_PX
    return np.floor(px).astype(np.int64), np.floor(py).astype(np.int64)


def grid_polygon_id(lon, lat, step: float, minx: float = -180.0, miny: float = -90.0, maxx: float = 180.0):
    """Id of the ``step``-degree grid cell holding each point: row-major from
    (minx, miny), ``(maxx - minx) / step`` cells per row."""
    col = np.floor((np.asarray(lon) - minx) / step).astype(np.int64)
    row = np.floor((np.asarray(lat) - miny) / step).astype(np.int64)
    return row * int(round((maxx - minx) / step)) + col


def gdal_checksum(tile: np.ndarray) -> int:
    """GDALChecksumImage over a 256×256 non-negative integer tile: the
    running sum of value mod prime[i % 11] over row-major pixels, mod 2^16."""
    return int((tile.ravel().astype(np.int64) % _CK_PRIMES).sum() & 0xFFFF)


def reference_pyramid(gx: np.ndarray, gy: np.ndarray, base_zoom: int, levels: int) -> pd.DataFrame:
    """Density pyramid of points given by their global pixel at ``base_zoom``.

    Base tiles count points per pixel (row 0 = north edge); each coarser
    level averages 2×2 blocks as floor(sum/4 + 0.5) and exists where any
    child tile exists.  Returns one row per tile:
    (zoom, tx, ty, checksum, page_count) with page_count = pixel sum.
    """
    rows = []
    span = TILE << levels  # base pixels per coarsest tile
    ctx, cty = gx // span, gy // span
    order = np.lexsort((cty, ctx))
    gx, gy, ctx, cty = gx[order], gy[order], ctx[order], cty[order]
    key = ctx * (1 << 30) + cty
    cut = np.nonzero(np.diff(key))[0] + 1
    for lo, hi in zip(np.r_[0, cut], np.r_[cut, key.size]):
        TX, TY = int(ctx[lo]), int(cty[lo])
        x = gx[lo:hi] - TX * span
        y = gy[lo:hi] - TY * span
        grid = np.zeros((span, span), dtype=np.int64)
        np.add.at(grid, (span - 1 - y, x), 1)
        present = np.zeros((1 << levels, 1 << levels), dtype=bool)
        present[(span - 1 - y) // TILE, x // TILE] = True
        for lv in range(levels + 1):
            z = base_zoom - lv
            n = 1 << (levels - lv)
            for r, c in zip(*np.nonzero(present)):
                t = grid[r * TILE:(r + 1) * TILE, c * TILE:(c + 1) * TILE]
                rows.append((z, TX * n + int(c), TY * n + (n - 1 - int(r)), gdal_checksum(t), int(t.sum())))
            if lv < levels:
                grid = (grid[0::2, 0::2] + grid[0::2, 1::2] + grid[1::2, 0::2] + grid[1::2, 1::2] + 2) // 4
                h = present.shape[0] // 2
                present = present.reshape(h, 2, h, 2).any(axis=(1, 3))
    return pd.DataFrame(rows, columns=["zoom", "tx", "ty", "checksum", "page_count"])


def level_stats(tiles: pd.DataFrame) -> dict:
    """Per-zoom (n_tiles, total_count, ck_xor) — the pipeline manifest's
    level summary, recomputed from a tile table."""
    out = {}
    for z, g in tiles.groupby("zoom"):
        out[int(z)] = (len(g), int(g["page_count"].sum()), int(np.bitwise_xor.reduce(g["checksum"].to_numpy(np.int64))))
    return out


# ---------------------------------------------------------------------------
# crawl_tiles
# ---------------------------------------------------------------------------


def crawl_reference(tables: dict, base_zoom: int = 5, levels: int = 2) -> dict:
    pages, gaz = tables["pages"], tables["gazetteer"]
    first = pages["text"].str.extract(r"(?:^| )(Ztown\d+x)(?: |$)", expand=False)
    hit = first.notna().to_numpy()
    loc = gaz.set_index("name").loc[first[hit].to_numpy(), ["lon", "lat"]]
    lon, lat = loc["lon"].to_numpy(), loc["lat"].to_numpy()
    pid = grid_polygon_id(lon, lat, 10.0)
    ids, cnt = np.unique(pid, return_counts=True)
    gx, gy = lonlat_to_z5_pixel(lon, lat)
    shift = 5 - base_zoom
    return {
        "matched": int(hit.sum()),
        "pip_counts": dict(zip(ids.tolist(), cnt.tolist())),
        "tiles": reference_pyramid(gx >> shift, gy >> shift, base_zoom, levels),
    }


def _tile_rows(df: pd.DataFrame) -> set:
    return set(map(tuple, df[["zoom", "tx", "ty", "checksum", "page_count"]].astype(np.int64).to_numpy().tolist()))


def check_crawl(out: dict, ref: dict, base_zoom: int = 5) -> list:
    errs = []
    got = {int(k): int(v) for k, v in out["pip_counts"].items()}
    if got != ref["pip_counts"]:
        diff = sorted(set(got.items()) ^ set(ref["pip_counts"].items()))[:5]
        errs.append(f"pip_join_broadcast per-polygon counts differ from floor arithmetic, e.g. {diff}")
    tiles = out["tiles"]
    base_sum = int(tiles.loc[tiles["zoom"] == base_zoom, "page_count"].sum())
    if base_sum != ref["matched"]:
        errs.append(f"base page_count sum {base_sum} != matched points {ref['matched']}")
    g, r = _tile_rows(tiles), _tile_rows(ref["tiles"])
    if len(tiles) != len(g) or g != r:
        errs.append(f"tile pyramid differs: {len(g ^ r)} mismatched tiles, {len(tiles)} rows vs {len(r)} expected")
    return errs


# ---------------------------------------------------------------------------
# skewed_pip_shuffle
# ---------------------------------------------------------------------------


def knn_brute_force(queries: pd.DataFrame, places: pd.DataFrame, k: int) -> pd.DataFrame:
    """Exact kNN (euclidean in degrees, ties by place name) by brute force."""
    plon, plat = places["lon"].to_numpy(), places["lat"].to_numpy()
    names = places["name"].to_numpy()
    out = []
    for s in range(0, len(queries), 256):
        q = queries.iloc[s:s + 256]
        d = np.sqrt((q["lon"].to_numpy()[:, None] - plon) ** 2 + (q["lat"].to_numpy()[:, None] - plat) ** 2)
        part = np.argpartition(d, k, axis=1)[:, : k + 1]
        for i, qid in enumerate(q["qid"].to_numpy()):
            cand = sorted(zip(d[i, part[i]], names[part[i]]))[:k]
            out.extend((int(qid), int(n), float(dd), r + 1) for r, (dd, n) in enumerate(cand))
    return pd.DataFrame(out, columns=["qid", "neighbor", "dist", "rank"])


def skewed_reference(tables: dict, query_every: int, k: int) -> dict:
    pts = tables["points"]
    q = pts[pts["pid"] % query_every == 0].rename(columns={"pid": "qid"})
    return {
        "pairs": np.stack([pts["pid"].to_numpy(), grid_polygon_id(pts["lon"], pts["lat"], 1.0, REGION[0], REGION[1], REGION[2])], axis=1),
        "knn": knn_brute_force(q, tables["places"], k),
        "n_polygons": len(tables["polygons"]),
    }


def check_skewed(out: dict, ref: dict) -> list:
    errs = []
    got = np.stack([out["pairs"]["pid"].to_numpy(np.int64), out["pairs"]["polygon_id"].to_numpy(np.int64)], axis=1)
    exp = ref["pairs"]
    if got.shape != exp.shape or not np.array_equal(got[np.lexsort(got.T[::-1])], exp[np.lexsort(exp.T[::-1])]):
        errs.append(f"pip_join_shuffle_adaptive pairs differ from floor arithmetic ({len(got)} rows vs {len(exp)})")
    knn = out["knn"].sort_values(["qid", "rank"]).reset_index(drop=True)
    kref = ref["knn"]
    if len(knn) != len(kref):
        errs.append(f"knn_join returned {len(knn)} rows, brute force {len(kref)}")
    else:
        cols = ["qid", "rank", "neighbor"]
        if not np.array_equal(knn[cols].to_numpy(np.int64), kref[cols].to_numpy(np.int64)):
            errs.append("knn_join neighbours differ from brute force")
        elif not np.allclose(knn["dist"].to_numpy(), kref["dist"].to_numpy(), rtol=0, atol=1e-9):
            errs.append("knn_join distances differ from brute force")
    if out["cover_rows"] < ref["n_polygons"]:
        errs.append(f"polygon_cover_cells emitted {out['cover_rows']} rows for {ref['n_polygons']} polygons")
    return errs


# ---------------------------------------------------------------------------
# pyramid_write_resume
# ---------------------------------------------------------------------------


def pyramid_reference(tables: dict, base_zoom: int) -> dict:
    pts = tables["points"]
    gx, gy = lonlat_to_z5_pixel(pts["lon"].to_numpy(), pts["lat"].to_numpy())
    shift = 5 - base_zoom
    return {"levels": level_stats(reference_pyramid(gx >> shift, gy >> shift, base_zoom, base_zoom))}


def check_pyramid(out: dict, ref: dict) -> list:
    errs = []
    for label in ("fresh", "resumed"):
        if out[label] != ref["levels"]:
            errs.append(f"{label} pyramid level stats {out[label]} != reference {ref['levels']}")
    if out["levels_recomputed"] != 2:
        errs.append(f"resume recomputed {out['levels_recomputed']} levels, expected 2")
    return errs


# ---------------------------------------------------------------------------
# webtext_dedup
# ---------------------------------------------------------------------------

# dedup_clusters_df defaults: 16 MinHash functions in 4 bands of 4 rows over
# shingles of 3 lower-cased words, hash parameters drawn with seed 42
LSH_HASHES, LSH_BANDS, SHINGLE, LSH_SEED = 16, 4, 3, 42
MERSENNE_P = (1 << 61) - 1


def shingles(text: str, k: int = SHINGLE) -> set:
    """Distinct k-word shingles of the lower-cased, space-split text (a text
    of fewer than k words is one shingle)."""
    w = text.lower().split(" ")
    return {" ".join(w[i:i + k]) for i in range(max(len(w) - k, 0) + 1)}


def minhash_params(n: int = LSH_HASHES, seed: int = LSH_SEED) -> tuple[np.ndarray, np.ndarray]:
    """Hash i maps a shingle with 32-bit base hash H to (A_i*H + B_i) mod
    2^61-1; A_i < 2^30 keeps A_i*H + B_i inside int64."""
    rng = np.random.default_rng(seed)
    return rng.integers(1, 1 << 30, n, dtype=np.int64), rng.integers(0, 1 << 61, n, dtype=np.int64)


def minhash_signatures(texts) -> np.ndarray:
    """(n_docs, LSH_HASHES) MinHash signatures; the base hash of a shingle is
    the first 32 bits of its md5."""
    doc, base = [], []
    for i, t in enumerate(texts):
        for sh in shingles(t):
            doc.append(i)
            base.append(int(hashlib.md5(sh.encode()).hexdigest()[:8], 16))
    doc, base = np.array(doc), np.array(base, dtype=np.int64)
    starts = np.r_[0, np.nonzero(np.diff(doc))[0] + 1]
    a, b = minhash_params()
    return np.stack([np.minimum.reduceat((base * ai + bi) % MERSENNE_P, starts) for ai, bi in zip(a, b)], axis=1)


def lsh_components(ids: np.ndarray, sig: np.ndarray, bands: int = LSH_BANDS) -> np.ndarray:
    """Cluster id (minimum member id) of each document, where documents are
    connected when any band of their signatures is identical."""
    parent = np.arange(len(ids))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    rows = sig.shape[1] // bands
    for band in range(bands):
        _, key = np.unique(sig[:, band * rows:(band + 1) * rows], axis=0, return_inverse=True)
        key = key.ravel()
        order = np.argsort(key, kind="stable")
        same = key[order][1:] == key[order][:-1]
        for x, y in zip(order[:-1][same], order[1:][same]):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
    root = np.array([find(i) for i in range(len(ids))])
    return pd.Series(ids).groupby(root).transform("min").to_numpy()


def webtext_reference(tables: dict) -> dict:
    """The cluster id MinHash-LSH with star edges and connected components
    gives each document, plus the planted groups: exact (identical
    lower-cased text: boilerplate, case variants) and near-duplicate members
    with their base document."""
    docs = tables["docs"]
    ids = docs["doc_id"].to_numpy(np.int64)
    group = pd.factorize(docs["text"].str.lower())[0]
    near = tables["near_dups"]
    return {
        "ids": ids,
        "cluster": lsh_components(ids, minhash_signatures(docs["text"])),
        "group": group,
        "sizes": np.bincount(group),
        "near_ids": near["doc_id"].to_numpy(np.int64),
        "near_base": near["base_id"].to_numpy(np.int64),
    }


def near_dup_recall(cluster: pd.Series, ref: dict) -> float:
    """Share of planted near-duplicates whose cluster is their base's."""
    return float((cluster.reindex(ref["near_ids"]).to_numpy() == cluster.reindex(ref["near_base"]).to_numpy()).mean())


def check_webtext(out: dict, ref: dict) -> list:
    """Every document must land in the cluster the reference MinHash-LSH
    gives it, so exact duplicate groups come back whole and unmerged and each
    near-duplicate joins its base exactly when the bands link them."""
    errs = []
    got = out["clusters"].set_index("doc_id")["cluster_id"]
    if len(got) != len(ref["ids"]) or not got.index.is_unique:
        return [f"dedup_clusters_df returned {len(got)} rows for {len(ref['ids'])} docs"]
    cid = got.reindex(ref["ids"]).to_numpy()
    if np.isnan(cid.astype(float)).any():
        return ["dedup_clusters_df lost documents"]
    planted = ref["sizes"][ref["group"]] > 1
    pairs = np.unique(np.stack([ref["group"][planted], cid[planted]], axis=1), axis=0)
    if len(np.unique(pairs[:, 0])) != len(pairs) or len(np.unique(pairs[:, 1])) != len(pairs):
        errs.append("exact duplicate groups were split or merged together")
    wrong = np.nonzero(cid != ref["cluster"])[0]
    if len(wrong):
        errs.append(f"{len(wrong)} docs not in their MinHash-LSH cluster, e.g. doc {ref['ids'][wrong[0]]}: "
                    f"{cid[wrong[0]]} != {ref['cluster'][wrong[0]]}")
    return errs
