"""Round-5 widening, second batch:

* PageRank (``operators/graph.py``) against an independent dense numpy
  power iteration, including a dangling-node graph (uniform mass
  redistribution) and a zero-in-degree node (teleport-only rank);
* geohash SQL (``functions/sqlgen.py``) against the classic
  interval-bisection algorithm implemented independently here;
* deterministic train/val/test split (``operators/sampling.py``):
  validation, exhaustiveness, engine identity, append-stability.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_conflate_spark.functions.sqlgen import geohash_sql
from osm_conflate_spark.operators.graph import pagerank, synthetic_link_edges
from osm_conflate_spark.operators.sampling import split_assign_sql


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------

def _pagerank_np(n, edges, iters, d=0.85):
    """Dense power iteration — the textbook formulation, written
    against the adjacency matrix rather than the engine's join-agg
    plan, so it is an independent oracle."""
    deg = np.zeros(n)
    for s, _ in edges:
        deg[s] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for s, t in edges:
            contrib[t] += r[s] / deg[s]
        dangling = r[deg == 0].sum()
        r = (1 - d) / n + d * (contrib + dangling / n)
    return r


def _run_pagerank(spark, edges, iters=4):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pagerank(df, iterations=iters, checkpoint_interval=2).collect()
    return {int(row["node"]): row["rank"] for row in out}


def test_pagerank_matches_numpy_on_random_graph(spark):
    rng = np.random.default_rng(7)
    n = 40
    edges = sorted({(int(a), int(b))
                    for a, b in rng.integers(0, n, size=(150, 2))})
    got = _run_pagerank(spark, edges)
    want = _pagerank_np(n, edges, iters=4)
    nodes = {s for s, _ in edges} | {t for _, t in edges}
    assert set(got) == nodes
    for v in nodes:
        assert got[v] == pytest.approx(want[v], rel=1e-9)


def test_pagerank_dangling_and_zero_indegree(spark):
    # 0 -> 1 -> 2; 2 has no out-edges (dangling), 0 no in-edges.
    edges = [(0, 1), (1, 2)]
    got = _run_pagerank(spark, edges, iters=6)
    want = _pagerank_np(3, edges, iters=6)
    for v in range(3):
        assert got[v] == pytest.approx(want[v], rel=1e-12)
    # ranks stay a distribution under dangling redistribution
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    # the zero-in-degree node still holds at least the teleport floor
    assert got[0] >= (1 - 0.85) / 3 - 1e-15


def test_pagerank_rejects_zero_iterations(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iterations=0)


def test_synthetic_link_edges_shape(spark):
    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    e = synthetic_link_edges(docs, out_degree=3).collect()
    assert len(e) == 150
    assert all(0 <= r["dst"] < 50 for r in e)
    degs = {}
    for r in e:
        degs[r["src"]] = degs.get(r["src"], 0) + 1
    assert set(degs.values()) == {3}  # no dangling nodes by construction


# ---------------------------------------------------------------------------
# geohash
# ---------------------------------------------------------------------------

def _geohash_ref(lat, lon, precision):
    """Independent oracle: the classic interval-bisection geohash
    (Niemeyer's algorithm as published), no bit tricks shared with the
    SQL implementation."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lat_lo, lat_hi = -90.0, 90.0
    lon_lo, lon_hi = -180.0, 180.0
    bits, out, even = 0, [], True
    ch = 0
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch = ch * 2 + 1
                lon_lo = mid
            else:
                ch = ch * 2
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch = ch * 2 + 1
                lat_lo = mid
            else:
                ch = ch * 2
                lat_hi = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(alphabet[ch])
            bits, ch = 0, 0
    return "".join(out)


@pytest.mark.parametrize("precision", [1, 5, 7, 12])
def test_geohash_sql_matches_bisection_oracle(spark, precision):
    rng = np.random.default_rng(11)
    pts = [(float(a), float(b)) for a, b in
           zip(rng.uniform(-90, 90, 40), rng.uniform(-180, 180, 40))]
    pts += [(57.64911, 10.40744), (0.0, 0.0), (-89.999, 179.999)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = [r["gh"] for r in df.select(
        F.expr(geohash_sql("lat", "lon", precision)).alias("gh")
    ).collect()]
    want = [_geohash_ref(lat, lon, precision) for lat, lon in pts]
    assert got == want


def test_geohash_known_vector_and_bounds():
    import duckdb

    assert duckdb.sql(
        "SELECT " + geohash_sql("57.64911", "10.40744", 11)
    ).fetchone()[0] == "u4pruydqqvj"
    # clamped poles/antimeridian land in the extreme cells
    assert duckdb.sql(
        "SELECT " + geohash_sql("90.0", "180.0", 4)
    ).fetchone()[0] == "zzzz"
    with pytest.raises(ValueError):
        geohash_sql("lat", "lon", 0)
    with pytest.raises(ValueError):
        geohash_sql("lat", "lon", 13)


# ---------------------------------------------------------------------------
# train/val/test split
# ---------------------------------------------------------------------------

def test_split_assign_validates_fractions():
    with pytest.raises(ValueError):
        split_assign_sql("id", {"train": 0.5, "val": 0.1}, "spark")
    with pytest.raises(ValueError):
        split_assign_sql("id", {"train": 1.5, "val": -0.5}, "spark")
    with pytest.raises(ValueError):
        split_assign_sql("id", {}, "spark")


def test_split_assign_engine_identity_and_stability(spark):
    import duckdb

    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    s_sql = split_assign_sql("id", fr, "spark")
    d_sql = split_assign_sql("id", fr, "duck")
    got_spark = {
        r["id"]: r["s"]
        for r in spark.range(0, 300).select(
            "id", F.expr(s_sql).alias("s")).collect()
    }
    got_duck = dict(duckdb.sql(
        f"SELECT id, {d_sql} AS s FROM range(0, 300) t(id)").fetchall())
    assert got_spark == got_duck
    assert set(got_spark.values()) == {"train", "val", "test"}
    n = len(got_spark)
    n_train = sum(1 for v in got_spark.values() if v == "train")
    assert 0.7 * n < n_train < 0.9 * n
    # append-stability: the same ids keep their split in a bigger corpus
    bigger = dict(duckdb.sql(
        f"SELECT id, {d_sql} AS s FROM range(0, 600) t(id)").fetchall())
    assert all(bigger[k] == v for k, v in got_duck.items())


# ---------------------------------------------------------------------------
# URL normalization + normalized-text dedup
# ---------------------------------------------------------------------------

_MESSY_URLS = [
    "HTTP://WWW.Example.COM:80/a/b?x=1#frag",
    "https://user:pw@A.com:8443",
    "https://a.com:443/",
    "http://a.com",
    "http://a.com/?",
    "http://a.com/p%20q?a=1&b=2#z",
    "https://Sub.Domain.ORG:8080/Path/Is/CaseSensitive",
    "http://a.com:8080/",
    "https://a.com/#only-fragment",
    "http://x@b.net/q?y#f",
    "http://a.com/p?x=1?y=2#f",
]


def _url_norm_ref(u):
    """Independent oracle: urllib.parse-based RFC 3986 syntax
    normalization (same rules, stdlib parser instead of regexes)."""
    from urllib.parse import urlsplit

    p = urlsplit(u)
    scheme = p.scheme.lower()
    host = (p.hostname or "").lower()
    port = ""
    if p.port is not None and (scheme, p.port) not in (
        ("http", 80), ("https", 443),
    ):
        port = f":{p.port}"
    path = p.path or "/"
    query = f"?{p.query}" if p.query else ""
    return f"{scheme}://{host}{port}{path}{query}"


def test_url_normalize_matches_urllib_oracle_both_engines(spark):
    import duckdb

    from osm_conflate_spark.functions.web import url_normalize_sql

    want = [_url_norm_ref(u) for u in _MESSY_URLS]
    df = spark.createDataFrame([(u,) for u in _MESSY_URLS], "url string")
    got_spark = [r["n"] for r in df.select(
        F.expr(url_normalize_sql("url")).alias("n")).collect()]
    assert got_spark == want
    got_duck = [
        duckdb.sql("SELECT " + url_normalize_sql(f"'{u}'")).fetchone()[0]
        for u in _MESSY_URLS
    ]
    assert got_duck == want


def test_url_normalize_idempotent(spark):
    from osm_conflate_spark.functions.web import url_normalize_sql

    once = [_url_norm_ref(u) for u in _MESSY_URLS]
    df = spark.createDataFrame([(u,) for u in once], "url string")
    twice = [r["n"] for r in df.select(
        F.expr(url_normalize_sql("url")).alias("n")).collect()]
    assert twice == once


def test_normalize_text_collapses_variants(spark):
    import duckdb

    from osm_conflate_spark.functions.text import normalize_text_sql

    variants = [" Hello,  WORLD!! ", "hello world", "HELLO--WORLD",
                "hello\tworld\n", "different text"]
    df = spark.createDataFrame([(v,) for v in variants], "text string")
    got_spark = [r["n"] for r in df.select(
        F.expr(normalize_text_sql("text", "spark")).alias("n")).collect()]
    got_duck = [
        duckdb.sql(
            "SELECT " + normalize_text_sql(f"'{v}'", "duck").replace(
                "\t", "' || chr(9) || '").replace("\n", "' || chr(10) || '")
        ).fetchone()[0]
        for v in variants
    ]
    assert got_spark == got_duck
    assert got_spark[:4] == ["hello world"] * 4
    assert got_spark[4] == "different text"
