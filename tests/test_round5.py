"""Round-5 additions:

* the matcher breaks as soon as the cross-block kill empties the
  deferred set — no empty trailing kernel round, and ``live_per_round``
  reports exact POST-kill counts (round-3 ADVICE #1 / round-4 verdict
  #3).
"""

import pandas as pd
import pytest

from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.operators import match as match_mod
from osm_conflate_spark.operators.match import greedy_match


def _two_partition_blocks(spark, n_parts=16):
    """Pick two block ids whose kernel partitions differ under the
    matcher's own assignment (murmur3 hash mod n_parts) so the shared
    OSM point genuinely defers across kernels."""
    from pyspark.sql import functions as F

    rows = spark.range(0, 64).select(
        F.col("id").alias("block"),
        F.pmod(F.hash(F.col("id")), F.lit(n_parts)).alias("p"),
    ).collect()
    b0 = rows[0]
    b1 = next(r for r in rows[1:] if r["p"] != b0["p"])
    return int(b0["block"]), int(b1["block"])


def test_fully_killed_deferred_set_ends_loop(spark, monkeypatch):
    """One OSM point O shared by two blocks in different kernel
    partitions: the kernel matches the globally-nearest pair in one
    block and defers the other; the cross-block anti-join then kills the
    only deferred pair.  The loop must end right there — exactly one
    kernel round in lineage, post-kill ``live_per_round`` — instead of
    carrying the pre-kill count into a second, empty kernel round."""
    monkeypatch.setattr(match_mod, "_DRIVER_FINISH_MAX", 0)
    b0, b1 = _two_partition_blocks(spark)
    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                "dataset_id": ["A", "B"],
                "osm_pk": ["node/1", "node/1"],
                "dist": [1.0, 2.0],
                "negw": [0.0, 0.0],
                "block": pd.array([b0, b1], dtype="int64"),
                "ds_cell": pd.array([0, 0], dtype="int64"),
            }
        )
    )
    stats: dict = {}
    out = greedy_match(spark, pairs, ConflateConfig(), stats=stats)
    got = {(r["dataset_id"], r["osm_pk"]) for r in out.collect()}
    assert got == {("A", "node/1")}
    assert stats["rounds"] == 1, stats
    assert stats["live_per_round"] == [2], stats
    assert stats["live_counts_note"] == "exact post-kill counts"
    # lineage: every kernel group row belongs to round 0 — no trailing
    # empty round ran
    assert stats.get("groups"), "kernel lineage rows missing"
    assert all(g["round"] == 0 for g in stats["groups"]), stats["groups"]


def _post_kill_survivor_pairs(spark):
    """Round 0 leaves exactly one live pair after the cross-block kill."""
    b0, b1 = _two_partition_blocks(spark)
    # node/1: matched by A in b0, B's deferred pair killed cross-block.
    # node/2: its gmin pair (C, 3.0) dies IN-block because C grabs the
    # closer unshared node/3 first, so C2's deferred pair survives the
    # kill and must be matched in a later round.
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "dataset_id": ["A", "B", "C", "C", "C2"],
                "osm_pk": ["node/1", "node/1", "node/3", "node/2",
                           "node/2"],
                "dist": [1.0, 2.0, 0.5, 3.0, 4.0],
                "negw": [0.0] * 5,
                "block": pd.array([b0, b1, b0, b0, b1], dtype="int64"),
                "ds_cell": pd.array([0] * 5, dtype="int64"),
            }
        )
    )


def test_driver_finish_sees_post_kill_set(spark, monkeypatch):
    """Same fixture with the driver finish enabled and an extra
    unkillable deferred pair: the finish consumes the POST-kill survivor
    set (B's killed pair gone, C's survivor matched) in one checkpoint
    scan."""
    monkeypatch.setattr(match_mod, "_DRIVER_FINISH_MAX", 10)
    pairs = _post_kill_survivor_pairs(spark)
    stats: dict = {}
    out = greedy_match(spark, pairs, ConflateConfig(), stats=stats)
    got = {(r["dataset_id"], r["osm_pk"]) for r in out.collect()}
    assert got == {("A", "node/1"), ("C", "node/3"), ("C2", "node/2")}
    # round 0 distributed + driver finish on the single survivor; B's
    # killed pair never re-enters
    assert stats["rounds"] == 2, stats
    assert stats["live_per_round"] == [5, 1], stats


def test_match_round_cap_raises(spark, monkeypatch):
    """Live pairs left when the outer rounds run out: greedy_match must
    raise instead of returning the partial matching of round 0."""
    monkeypatch.setattr(match_mod, "_DRIVER_FINISH_MAX", 0)
    monkeypatch.setattr(match_mod, "_MAX_MATCH_ROUNDS", 1)
    pairs = _post_kill_survivor_pairs(spark)
    with pytest.raises(RuntimeError, match="live pairs remain"):
        greedy_match(spark, pairs, ConflateConfig())


def test_dup_shingle_hot_escape_matches_window_path(spark):
    """Skewed fixture: one viral 8-word boilerplate shingle in 60 of 80
    docs.  The heavy-hitter escape (broadcast join for over-threshold
    shingles) must fire AND return exactly the window-path result."""
    from osm_conflate_spark.operators.repetition import dup_shingle_stats

    viral = "all rights reserved click here to subscribe now"
    rows = []
    for i in range(80):
        uniq = " ".join(f"w{i}x{j}" for j in range(10))
        text = f"{viral} {uniq}" if i < 60 else uniq
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    base = dup_shingle_stats(docs, k=8)
    stats: dict = {}
    esc = dup_shingle_stats(docs, k=8, hot_threshold=20, stats=stats)
    assert stats["hot_shingles"] >= 1, stats  # the escape fired
    plan = esc._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    canon = lambda df: sorted(
        (r["doc_id"], r["n_shingles"], r["n_cross_dup"],
         round(r["cross_dup_frac"], 12))
        for r in df.collect()
    )
    assert canon(esc) == canon(base)
    # sanity: the 60 viral docs really carry cross-dup shingles
    dup_docs = [r for r in canon(base) if r[2] > 0]
    assert len(dup_docs) == 60


# --------------------------------------------------------------------------
# PII scrub + benchmark decontamination (round-5 widening)

PII_SAMPLES = [
    "reach me at bob.smith+x@mail.example.co.uk or call +1 (555) 010-1234",
    "server 10.0.0.1 and 999.12.0.255 logged in 2024 room 42",
    "plain text, year 1999 and short id 123456 survive",
    "two mails a@b.io c@d.org and phone 555-123-4567",
    "ip-like 1.2.3.4.5 and trailing dot 8.8.8.8.",
]


def test_scrub_pii_spark_duck_identical(spark):
    """The dialect pair (Spark escaped literals vs DuckDB 'g' flag)
    must scrub byte-identically, and the counts must match a hand
    count."""
    import duckdb

    from osm_conflate_spark.functions import scrub

    con = duckdb.connect()
    duck = [
        con.execute(
            f"SELECT {scrub.scrub_pii_sql('t', 'duck')}, "
            f"{scrub.pii_count_sql('t', 'email', 'duck')} "
            f"FROM (SELECT ? AS t)",
            [t],
        ).fetchone()
        for t in PII_SAMPLES
    ]
    sdf = spark.createDataFrame([(t,) for t in PII_SAMPLES], "t string")
    sp = (
        sdf.selectExpr(
            f"{scrub.scrub_pii_sql('t', 'spark')} AS s",
            f"{scrub.pii_count_sql('t', 'email', 'spark')} AS c",
        )
        .collect()
    )
    for (dt, dc), r, raw in zip(duck, sp, PII_SAMPLES):
        assert r["s"] == dt, raw
        assert r["c"] == dc, raw
    scrubbed = [r["s"] for r in sp]
    assert scrubbed[0] == "reach me at <EMAIL> or call <PHONE>"
    assert scrubbed[1] == "server <IP> and <IP> logged in 2024 room 42"
    assert scrubbed[2] == PII_SAMPLES[2]  # nothing redacted
    assert scrubbed[3] == "two mails <EMAIL> <EMAIL> and phone <PHONE>"


def test_contamination_stats(spark):
    """Known-overlap fixture: doc 0 is the benchmark; doc 1 copies half
    of it; doc 2 is clean.  Fractions must be exact and the benchmark
    side must enter as a broadcast join."""
    from osm_conflate_spark.operators.decontaminate import (
        contamination_stats,
    )

    bench_words = " ".join(f"b{i}" for i in range(16))  # 9 shingles (k=8)
    half = " ".join(f"b{i}" for i in range(8))  # first 8 words
    clean = " ".join(f"c{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(1, half + " " + clean), (2, clean)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(0, bench_words)], "doc_id long, text string")
    out = contamination_stats(docs, bench, k=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 1: 25 shingles total (8+16 words -> 17 shingles)... compute:
    n1_words = 8 + 16
    assert rows[1]["n_shingles"] == n1_words - 7
    # contaminated shingles of doc 1: windows fully inside the copied
    # 8-word prefix that also appear in the 16-word benchmark = only
    # the first window (b0..b7)
    assert rows[1]["n_contaminated"] == 1
    assert abs(rows[1]["contamination_frac"] - 1 / (n1_words - 7)) < 1e-12
    assert rows[2]["n_contaminated"] == 0


# ---------------------------------------------------------------------------
# Temporal joins (as-of / banded interval) — operators/temporal.py


def _mk_events(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def t(mins, us=0):
        return base + dt.timedelta(minutes=mins, microseconds=us)

    left = spark.createDataFrame(
        [
            (100, 1, t(10)),   # has two prior rights (t5 wins over t1)
            (101, 1, t(4)),    # one prior right (t1)
            (102, 1, t(5)),    # EQUAL ts to a right row -> inclusive match
            (103, 2, t(3)),    # no prior right for user 2 (right at t7)
            (104, 3, t(1)),    # user with no right rows at all
        ],
        "l_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (200, 1, t(1), 1.0),
            (201, 1, t(5), 2.0),
            (202, 1, t(5), 3.0),  # tie at t5: greater r_id (202) must win
            (203, 2, t(7), 4.0),
        ],
        "r_id long, user_id long, ts timestamp, v double",
    )
    return left, right


def test_asof_join_semantics(spark):
    from osm_conflate_spark.operators.temporal import asof_join

    left, right = _mk_events(spark)
    out = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["r_id", "v"],
    )
    got = {r["l_id"]: (r["r_id"], r["v"]) for r in out.collect()}
    assert got[100] == (202, 3.0)       # latest prior, tie -> max r_id
    assert got[101] == (200, 1.0)
    assert got[102] == (202, 3.0)       # inclusive at equal ts
    assert got[103] == (None, None)     # right exists but only later
    assert got[104] == (None, None)     # no right rows for key
    assert out.count() == left.count()  # left-outer: one row per left row


def test_asof_join_plan_has_no_join(spark):
    """The union-window formulation must plan ONE exchange (the window
    partitioning) and zero join operators."""
    from osm_conflate_spark.operators.temporal import asof_join

    left, right = _mk_events(spark)
    out = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["r_id", "v"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_asof_tolerance_nulls_stale(spark):
    from osm_conflate_spark.operators.temporal import asof_join

    left, right = _mk_events(spark)
    out = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="ts",
        right_cols=["r_id", "v"], tolerance_us=3 * 60_000_000,
    )
    got = {r["l_id"]: r["r_id"] for r in out.collect()}
    assert got[101] == 200   # 3 min lag == tolerance -> kept (inclusive)
    assert got[100] is None  # latest match is 5 min stale -> nulled
    assert got[102] == 202   # 0 lag


def test_interval_join_semantics_and_plan(spark):
    from osm_conflate_spark.operators.temporal import interval_join

    left, right = _mk_events(spark)
    # keyless: rights in (0, 4] minutes after each left
    out = interval_join(
        left.select("l_id", "ts"), right.select("r_id", "ts"),
        left_ts="ts", right_ts="ts", lo_us=0, hi_us=4 * 60_000_000,
    )
    pairs = {(r["l_id"], r["r_id"]) for r in out.collect()}
    # brute-force expectation
    import itertools
    lrows = left.select("l_id", "ts").collect()
    rrows = right.select("r_id", "ts").collect()
    want = set()
    for lr, rr in itertools.product(lrows, rrows):
        gap = (rr["ts"] - lr["ts"]).total_seconds() * 1e6
        if 0 < gap <= 4 * 60_000_000:
            want.add((lr["l_id"], rr["r_id"]))
    assert pairs == want
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_band_boundary_exact(spark):
    """Rows exactly on band edges must not be lost to float misfloor:
    gap == hi lands in the last band, gap just over hi is excluded."""
    import datetime as dt
    from osm_conflate_spark.operators.temporal import interval_join

    base = dt.datetime(2024, 6, 1)
    hi = 600_000_000
    left = spark.createDataFrame([(1, base)], "l_id long, ts timestamp")
    right = spark.createDataFrame(
        [
            (10, base + dt.timedelta(microseconds=hi)),      # gap == hi: in
            (11, base + dt.timedelta(microseconds=hi + 1)),  # out
            (12, base),                                      # gap == 0: out
            (13, base + dt.timedelta(microseconds=1)),       # in
        ],
        "r_id long, ts timestamp",
    )
    out = interval_join(left, right, left_ts="ts", right_ts="ts",
                        lo_us=0, hi_us=hi)
    got = sorted(r["r_id"] for r in out.collect())
    assert got == [10, 13]


def test_interval_join_with_keys_and_empty_interval(spark):
    import pytest as _pytest
    from osm_conflate_spark.operators.temporal import interval_join

    left, right = _mk_events(spark)
    out = interval_join(
        left, right, left_ts="ts", right_ts="ts",
        lo_us=0, hi_us=10 * 60_000_000, on=["user_id"],
    )
    pairs = {(r["l_id"], r["r_id"]) for r in out.collect()}
    assert (103, 203) in pairs           # same user, 4 min gap
    assert all(l != 104 for l, _ in pairs)  # user 3 has no rights
    with _pytest.raises(ValueError):
        interval_join(left, right, left_ts="ts", right_ts="ts",
                      lo_us=5, hi_us=5)


# ---------------------------------------------------------------------------
# BM25 ranked search (operators/search.py)


def test_bm25_matches_hand_computation(spark):
    import math
    from osm_conflate_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "hash join hash join hash"),   # tf(hash)=3 tf(join)=2 dl=5
            (2, "merge sort merge"),           # tf(merge)=2 dl=3
            (3, "scan filter project"),        # no hits, dl=3
            (4, "join"),                       # tf(join)=1 dl=1
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["score"] for r in
           bm25_topk(docs, ["hash", "join"], k=10).collect()}
    n, avgdl, k1, b = 4, 3.0, 1.2, 0.75

    def idf(df):
        return math.log(1 + (n - df + 0.5) / (df + 0.5))

    def part(tf, dl, df):
        return idf(df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    want1 = part(3, 5, 1) + part(2, 5, 2)
    want4 = part(1, 1, 2)
    assert abs(out[1] - round(want1, 6)) < 1e-9
    assert abs(out[4] - round(want4, 6)) < 1e-9
    assert 3 not in out          # zero-hit doc never scored
    assert 2 not in out          # terms not in query don't leak
    assert len(out) == 2


def test_bm25_topk_plan(spark):
    """The top-k must be TakeOrderedAndProject (partial per-partition
    top-k), never a global Sort; df/idf and corpus stats join
    broadcast."""
    from osm_conflate_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [(i, "hash join scan") for i in range(50)], "doc_id long, text string"
    )
    out = bm25_topk(docs, ["hash"], k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    import pytest as _pytest
    with _pytest.raises(ValueError):
        bm25_topk(docs, [])


# ---------------------------------------------------------------------------
# Z-order key (functions/sqlgen.py; the `zorder_key` contract query)


def test_zorder_prefix_locality(spark):
    """Points that share a coarse grid cell at resolution r share the
    top 2r bits of the 32-bit key (the property pruning relies on)."""
    from pyspark.sql import functions as F

    from osm_conflate_spark.functions import sqlgen

    pts = [
        (1, 10.0001, 20.0001),
        (2, 10.0002, 20.0002),   # ~30 m away from 1
        (3, -45.0, -120.0),      # far away
    ]
    df = spark.createDataFrame(pts, "k long, lat double, lon double")
    q = df.select(
        "k",
        F.expr(sqlgen.quantize_sql("lon", -180.0, 180.0, 16)).alias("ix"),
        F.expr(sqlgen.quantize_sql("lat", -90.0, 90.0, 16)).alias("iy"),
    )
    zkey = F.expr(sqlgen.zorder_interleave_sql("ix", "iy", 16)).alias("zkey")
    got = {r["k"]: r["zkey"] for r in q.select("k", zkey).collect()}
    # coarse prefix: top 16 of 32 bits == 8-bit-per-axis resolution
    assert got[1] >> 16 == got[2] >> 16
    assert got[1] >> 16 != got[3] >> 16
    # interleave is a bijection on the quantized grid: distinct cells
    # at full resolution -> distinct keys
    assert len(set(got.values())) >= 2
