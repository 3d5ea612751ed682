"""Tests of the geobench harness itself: seeded inputs, output checks and span
arithmetic.  No Spark session is started.

Run from the repository root:  python -m pytest geobench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from geobench import gen, reference as ref, run, spans
from geobench.workloads import KNN_K, QUERY_EVERY

SIZES = {"crawl_tiles": 3000, "skewed_pip_shuffle": 3000, "pyramid_write_resume": 3000, "webtext_dedup": 2000}


@pytest.mark.parametrize("workload", sorted(SIZES))
def test_same_seed_same_hashes_other_seed_differs(tmp_path, workload):
    _, _, h1 = gen.load_inputs(str(tmp_path / "a"), workload, 7, SIZES[workload])
    _, _, h2 = gen.load_inputs(str(tmp_path / "b"), workload, 7, SIZES[workload])
    _, _, h3 = gen.load_inputs(str(tmp_path / "a"), workload, 8, SIZES[workload])
    assert h1 == h2
    # the polygon grid is fixed; every other table follows the seed
    assert all(h1[t] != h3[t] for t in h1 if t != "polygons")


def test_cache_hit_returns_identical_tables(tmp_path):
    d1, t1, h1 = gen.load_inputs(str(tmp_path), "skewed_pip_shuffle", 3, 2000)
    d2, t2, h2 = gen.load_inputs(str(tmp_path), "skewed_pip_shuffle", 3, 2000)
    assert d1 == d2 and h1 == h2
    pd.testing.assert_frame_equal(t1["points"], t2["points"])


def test_points_stay_off_pixel_and_degree_edges():
    rng = np.random.default_rng(0)
    gx, gy = gen.uniform_pixels(rng, 20000)
    lon, lat = gen.place_points(rng, gx, gy)
    px, py = ref.lonlat_to_z5_pixel(lon, lat)
    assert np.array_equal(px, gx) and np.array_equal(py, gy)
    for v in (lon, lat):
        assert np.abs(v - np.round(v)).min() > 1e-5


def test_reference_matches_engine_kernels():
    """The reference re-implements pixel encoding and the GDAL checksum; it
    must agree with the engine's numpy kernels (no Spark involved)."""
    from engine import raster, tiles

    rng = np.random.default_rng(1)
    for _ in range(5):
        t = rng.integers(0, 5000, (256, 256))
        assert ref.gdal_checksum(t) == raster.gdal_checksum(t)
    gx, gy = gen.uniform_pixels(rng, 5000)
    lon, lat = gen.place_points(rng, gx, gy)
    epx, epy = tiles.lonlat_to_pixels(lon, lat, 5)
    assert np.array_equal(np.floor(epx).astype(np.int64), gx)
    assert np.array_equal(np.floor(epy).astype(np.int64), gy)


# ---------------------------------------------------------------------------
# every check accepts the reference and rejects a perturbed copy
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def crawl():
    tables = gen.crawl_tables(5, 3000, n_places=300)
    r = ref.crawl_reference(tables, 5, 2)
    return r, {"pip_counts": dict(r["pip_counts"]), "tiles": r["tiles"].copy()}


def test_crawl_check(crawl):
    r, out = crawl
    assert ref.check_crawl(out, r) == []
    k = next(iter(out["pip_counts"]))
    bad = dict(out["pip_counts"])
    bad[k] += 1
    assert ref.check_crawl({**out, "pip_counts": bad}, r)
    assert ref.check_crawl({**out, "tiles": out["tiles"].iloc[1:]}, r)
    flipped = out["tiles"].copy()
    flipped.loc[flipped.index[-1], "checksum"] ^= 1
    assert ref.check_crawl({**out, "tiles": flipped}, r)


@pytest.fixture(scope="module")
def skewed():
    tables = gen.skewed_tables(5, 3000, n_places=500)
    r = ref.skewed_reference(tables, QUERY_EVERY, KNN_K)
    pairs = pd.DataFrame(r["pairs"], columns=["pid", "polygon_id"])
    return r, {"pairs": pairs, "knn": r["knn"].copy(), "cover_rows": 2 * r["n_polygons"]}


def test_skewed_check(skewed):
    r, out = skewed
    assert ref.check_skewed(out, r) == []
    assert ref.check_skewed({**out, "pairs": out["pairs"].iloc[1:]}, r)
    flipped = out["pairs"].copy()
    flipped.loc[17, "polygon_id"] += 1
    assert ref.check_skewed({**out, "pairs": flipped}, r)
    knn = out["knn"].copy()
    knn.loc[0, "neighbor"] = knn.loc[1, "neighbor"]
    assert ref.check_skewed({**out, "knn": knn}, r)
    assert ref.check_skewed({**out, "knn": out["knn"].iloc[:-1]}, r)


def test_knn_brute_force_is_exact():
    rng = np.random.default_rng(3)
    places = pd.DataFrame({"name": np.arange(300), "lon": rng.uniform(-10, 10, 300), "lat": rng.uniform(-10, 10, 300)})
    q = pd.DataFrame({"qid": np.arange(7), "lon": rng.uniform(-10, 10, 7), "lat": rng.uniform(-10, 10, 7)})
    got = ref.knn_brute_force(q, places, 4)
    for qid in range(7):
        d = np.hypot(places["lon"] - q["lon"][qid], places["lat"] - q["lat"][qid])
        assert got[got["qid"] == qid]["neighbor"].tolist() == list(np.argsort(d.to_numpy(), kind="stable")[:4])


def test_pyramid_check():
    tables = gen.pyramid_tables(5, 3000)
    r = ref.pyramid_reference(tables, 3)
    out = {"fresh": dict(r["levels"]), "resumed": dict(r["levels"]), "levels_recomputed": 2}
    assert ref.check_pyramid(out, r) == []
    n, total, ck = r["levels"][0]
    assert ref.check_pyramid({**out, "resumed": {**out["resumed"], 0: (n, total, ck ^ 1)}}, r)
    assert ref.check_pyramid({**out, "fresh": {**out["fresh"], 3: (n, total - 1, ck)}}, r)
    assert ref.check_pyramid({**out, "levels_recomputed": 1}, r)


def test_reference_pyramid_levels_average():
    """Two points in one pixel and one in its 2x2 neighbour block average to
    floor(3/4 + 0.5) = 1 at the next level; the base keeps raw counts."""
    tiles = ref.reference_pyramid(np.array([0, 0, 1]), np.array([0, 0, 1]), 1, 1)
    base = tiles[tiles.zoom == 1]
    top = tiles[tiles.zoom == 0]
    assert base["page_count"].tolist() == [3] and top["page_count"].tolist() == [1]
    assert (base.tx.tolist(), base.ty.tolist()) == ([0], [0])


@pytest.fixture(scope="module")
def webtext():
    tables = gen.webtext_tables(5, 2000)
    r = ref.webtext_reference(tables)
    return r, {"clusters": pd.DataFrame({"doc_id": r["ids"], "cluster_id": r["cluster"]})}


def test_webtext_planted_near_duplicates(webtext):
    r, out = webtext
    assert len(r["near_ids"]) > 10
    text = dict(zip(r["ids"], gen.webtext_tables(5, 2000)["docs"]["text"]))
    for m, b in zip(r["near_ids"], r["near_base"]):
        x, y = ref.shingles(text[m]), ref.shingles(text[b])
        # one edited word in 50-70
        assert 0.87 < len(x & y) / len(x | y) < 0.93
    # LSH links most near-duplicates to their base, but not all
    recall = ref.near_dup_recall(out["clusters"].set_index("doc_id")["cluster_id"], r)
    assert 0.8 < recall < 1.0
    assert ref.shingles("a b C d") == {"a b c", "b c d"} and ref.shingles("a b") == {"a b"}


def test_minhash_reference_matches_engine_spec():
    from engine import textops

    a, b = ref.minhash_params()
    assert (a.tolist(), b.tolist()) == textops._hash_params(16, 42)
    texts = ["w1 w2 w3 w4 w5 w6", "W1 w2 w3 W4 w5 w6", "v1 v2 v3 v4 v5 v6", "x"]
    sig = ref.minhash_signatures(texts)
    assert sig.shape == (4, 16) and (sig[0] == sig[1]).all() and not (sig[0] == sig[2]).any()
    assert ref.lsh_components(np.array([9, 4, 7, 1]), sig).tolist() == [4, 4, 7, 1]


def test_webtext_check(webtext):
    r, out = webtext
    assert ref.check_webtext(out, r) == []
    planted = np.nonzero(r["sizes"][r["group"]] > 1)[0]
    split = out["clusters"].copy()
    split.loc[planted[0], "cluster_id"] = -1
    assert ref.check_webtext({"clusters": split}, r)
    assert ref.check_webtext({"clusters": out["clusters"].iloc[1:]}, r)
    merged = out["clusters"].copy()
    a, b = np.unique(merged.loc[planted, "cluster_id"])[:2]
    merged.loc[merged.cluster_id == b, "cluster_id"] = a
    assert ref.check_webtext({"clusters": merged}, r)
    # every near-duplicate left as a singleton: far beyond the miss budget
    lost = out["clusters"].copy()
    lost = lost.set_index("doc_id")
    lost.loc[r["near_ids"], "cluster_id"] = r["near_ids"]
    assert ref.check_webtext({"clusters": lost.reset_index()}, r)


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _span(i, name, start, end, parent=None):
    return spans.Span(i, name, start, end, parent)


def test_self_time_on_synthetic_tree():
    tree = [
        _span(1, "root", 0.0, 10.0),
        _span(2, "a", 1.0, 4.0, 1),
        _span(3, "b", 3.0, 6.0, 1),  # overlaps a: union of children is 1..6
        _span(4, "a.child", 1.5, 2.0, 2),
        _span(5, "c", 8.0, 12.0, 1),  # runs past the root: clipped at 10
    ]
    own = spans.self_times(tree)
    assert own[1] == pytest.approx(10.0 - 5.0 - 2.0)
    assert own[2] == pytest.approx(3.0 - 0.5)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(0.5)
    assert own[5] == pytest.approx(4.0)
    table = spans.layer_table(tree)
    assert table["a"]["busy_s"] == pytest.approx(2.5)


def test_layer_table_sums_repeated_calls():
    s1, s2 = _span(1, "raster.pyramid_reduce", 0, 1), _span(2, "raster.pyramid_reduce", 1, 3)
    s1.metrics = {"arrow_bytes": 10.0, "task_skew": 1.5}
    s2.metrics = {"arrow_bytes": 5.0, "task_skew": 1.2}
    row = spans.layer_table([s1, s2])["raster.pyramid_reduce"]
    assert row["busy_s"] == 3 and row["arrow_bytes"] == 15.0 and row["task_skew"] == 1.5


@pytest.mark.parametrize(
    "text,value",
    [
        ("total (min, med, max (stageId: taskId))\n11.3 s (2.7 s, 2.9 s, 2.9 s (stage 0.0: task 1))", 11300.0),
        ("total (min, med, max (stageId: taskId))\n15.3 MiB (3.8 MiB, 3.8 MiB, 3.8 MiB (stage 0.0: task 1))", 15.3 * 2**20),
        ("1,000,000", 1e6),
        ("0 ms", 0.0),
        ("1.5 m", 90000.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert spans.parse_sql_metric(text) == pytest.approx(value)


def test_benchmark_json_matches_harness():
    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert len(bench["per_layer"]) <= 128
    from geobench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
