"""Deduplication operators.

Conflation-side (reference parity):
  D1 ref-dedup   — duplicate dataset ids, keep-first
                   (``conflate/dataset.py :: read_dataset``, SURVEY §3 D1)
  D2 spatial     — collapse dataset points closer than duplicate_distance
                   (``check_dataset_for_duplicates``, SURVEY §3 D2):
                   distributed rounds shrink the dup graph until the
                   driver scan can finish it

Training-pipeline additions (first-class per the build brief):
MinHash+LSH, SimHash, exact n-gram Jaccard, embedding-cosine near-dup,
and connected-component clustering of near-dup pairs.  All hot paths
are JVM Column expressions (xxhash64, array/map ops); nothing
row-at-a-time.
"""

from __future__ import annotations

import functools
import random

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import ConflateConfig
from .candidates import self_pairs

# ---------------------------------------------------------------------------
# D1 — ref-dedup (keep-first by a deterministic order column)
# ---------------------------------------------------------------------------

def ref_dedup(ds: DataFrame, order_col: str = "url") -> DataFrame:
    """Keep the first row per ``id`` ordered by ``order_col`` (the engine's
    deterministic stand-in for the reference's input order)."""
    w = Window.partitionBy("id").orderBy(F.col(order_col).asc())
    return (
        ds.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# D2 — spatial duplicate collapse (distributed rounds, driver finish)
# ---------------------------------------------------------------------------

# distributed rounds before the dup graph must fit the driver scan
# (safety valve: running out raises rather than keep the points not yet
# decided)
_MAX_DEDUP_ROUNDS = 64


def spatial_dedup(ds: DataFrame, cfg: ConflateConfig) -> DataFrame:
    """Drop a point iff a KEPT point with smaller id lies strictly within
    ``duplicate_distance`` — the sequential ids-ascending scan of the
    oracle, run over the dup graph (edges ``a_id < b_id``; points with no
    edge are trivially kept).

    While the graph has more than ``cfg.dedup_driver_max_pairs`` edges,
    one distributed round decides part of it: points with no incoming
    edge are KEPT, their out-neighbors are LOST, and every edge touching
    a lost point goes.  A kept point's edges all end in lost points, so
    the remaining graph holds only undecided points, and the driver scan
    over it finishes with the oracle's answer.  Duplicate clusters are
    metres-sized, so chains are short and few rounds run.
    """
    cap = cfg.dedup_driver_max_pairs
    edges = self_pairs(ds, cfg.duplicate_distance).localCheckpoint(eager=True)
    lost_rounds: list = []
    # bounded collect: at most cap+1 edges reach the driver per probe
    while len(probe := edges.limit(cap + 1).toPandas()) > cap:
        if len(lost_rounds) == _MAX_DEDUP_ROUNDS:
            raise RuntimeError(
                f"spatial_dedup: dup edges remain after {_MAX_DEDUP_ROUNDS} rounds"
            )
        kept = edges.select("a_id").join(
            edges.select(F.col("b_id").alias("a_id")), "a_id", "left_anti"
        )
        lost = (
            edges.join(kept, "a_id", "left_semi")
            .select(F.col("b_id").alias("id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        lost_rounds.append(lost)
        edges = (
            edges.join(lost.withColumnRenamed("id", "a_id"), "a_id", "left_anti")
            .join(lost.withColumnRenamed("id", "b_id"), "b_id", "left_anti")
            .localCheckpoint(eager=True)
        )
    if lost_rounds:
        # no broadcast hint: the round frames can be large
        lost_all = functools.reduce(DataFrame.unionByName, lost_rounds)
        ds = ds.join(lost_all, "id", "left_anti")
    if len(probe):
        # driver finish: sequential ids-ascending scan over the remainder
        by_b: dict = {}
        for a, b in zip(probe["a_id"], probe["b_id"]):
            by_b.setdefault(b, []).append(a)
        status: dict = {}
        for p in sorted(set(probe["a_id"]) | set(probe["b_id"])):
            smaller = by_b.get(p, [])
            status[p] = "D" if any(status.get(a) == "K" for a in smaller) else "K"
        dropped = ds.sparkSession.createDataFrame(
            pd.DataFrame({"id": [p for p, s in status.items() if s == "D"]}),
            "id string",
        )
        ds = ds.join(F.broadcast(dropped), "id", "left_anti")
    return ds


# ---------------------------------------------------------------------------
# Near-dup cluster assignment (distributed connected components)
# ---------------------------------------------------------------------------

# label-propagation rounds (safety valve: running out with labels still
# changing raises rather than return unconverged clusters)
_MAX_CLUSTER_ROUNDS = 32


def dup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """(doc, cluster_id) — connected components of the near-dup pair
    graph ``pairs(id_a, id_b)`` over ``docs(doc_id)``; ``cluster_id`` = the minimum doc id reachable from the doc.
    Docs with no dup pair are their own singleton cluster.

    This is the step a real training-data pipeline needs AFTER pair
    generation (minhash/simhash/ngram/SRP all emit PAIRS): transitively
    merge pairs into clusters, keep one doc per cluster.

    Distributed min-label propagation: round k joins each node's current
    label against its neighbors' and keeps the min.  Rounds needed =
    graph diameter, and near-dup components are chains of a few hops, so
    this converges in a handful of rounds; each round is two slim
    shuffles (edge join + min agg) over the PAIR subgraph only — docs
    without pairs never enter the loop.  Convergence is detected with a
    changed-count job per round.
    """
    # bidirectional slim edge list over the dup subgraph
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_MAX_CLUSTER_ROUNDS):
        neighbor_min = (
            edges.join(
                labels.select(
                    F.col("node").alias("src"), F.col("label").alias("src_label")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("src_label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.col("nmin") < F.col("label")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        n_changed = new_labels.where(F.col("changed")).count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters: labels still changing after {_MAX_CLUSTER_ROUNDS} rounds"
        )
    clustered = labels.select(
        F.col("node").alias("doc"), F.col("label").alias("cluster_id")
    )
    singletons = (
        docs.select(F.col("doc_id").alias("doc"))
        .join(clustered, "doc", "left_anti")
        .withColumn("cluster_id", F.col("doc"))
    )
    return clustered.unionByName(singletons)


def dup_keepers(clusters: DataFrame) -> DataFrame:
    """(cluster_id, keeper_id, n_members) — one keeper per near-dup
    cluster (min doc id; with min-reachable-id cluster labels the keeper
    IS the cluster id, computed generically anyway)."""
    return clusters.groupBy("cluster_id").agg(
        F.min("doc").alias("keeper_id"), F.count(F.lit(1)).alias("n_members")
    )


# ---------------------------------------------------------------------------
# Shingles / n-grams (shared helpers, pure Column exprs)
# ---------------------------------------------------------------------------

def word_ngrams_col(text_col: str, n: int = 3):
    """Distinct word n-grams of lower-cased whitespace tokens.

    The token array is bound ONCE via a higher-order transform over a
    single-element wrapper — naively inlining the split() into every
    element_at makes Catalyst re-split per gram element (O(words^2)/doc).
    """
    toks = f"filter(split(lower({text_col}), ' '), x -> x != '')"
    parts = ", ".join(f"element_at(t, i + {j + 1})" for j in range(n))
    return F.expr(
        f"array_distinct(flatten(transform(array({toks}), t -> "
        f"CASE WHEN size(t) >= {n} "
        f"THEN transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {parts})) "
        f"ELSE array(concat_ws(' ', t)) END)))"
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.6,
    max_doc_freq: int | None = None, lineage: list | None = None,
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with word-n-gram Jaccard >= threshold.

    Candidate pairs come from an inverted-index self-join on shared
    n-grams.  ``max_doc_freq`` is the scale guard the round-1 docstring
    promised but did not implement: grams appearing in more than that
    many documents are EXCLUDED FROM CANDIDATE GENERATION ONLY (one
    ubiquitous trigram otherwise makes the self-join quadratic in corpus
    size).  The drop is never silent — the count of pruned grams is
    appended to ``lineage`` when given, else printed to stderr.

    Exactness: with a cap, jaccard values are still EXACT (verification
    recomputes intersection/union over the FULL gram sets via array ops);
    only pairs whose entire overlap is capped grams can be missed — by
    construction those share nothing but boilerplate.  With
    ``max_doc_freq=None`` (default, and the driver-oracle path) the
    intersection is counted directly from the uncapped inverted index and
    the result is exhaustively exact.
    """
    grams = df.select(
        F.col(id_col).alias("doc"), word_ngrams_col(text_col, n).alias("grams")
    ).withColumn("n_grams", F.size("grams"))
    sizes = grams.select("doc", "n_grams")
    inv = grams.select("doc", F.explode("grams").alias("g"))

    if max_doc_freq is not None:
        frequent = (
            inv.groupBy("g").count().where(F.col("count") > max_doc_freq).select("g")
        )
        frequent = frequent.localCheckpoint(eager=True)
        n_pruned = frequent.count()
        rec = dict(stage="ngram_df_cap", group_id=-1, n_in=int(max_doc_freq),
                   n_out=int(n_pruned), wall_ms=0.0, resumed=False)
        if lineage is not None:
            lineage.append(rec)
        else:
            import sys

            print(f"ngram_jaccard_pairs: pruned {n_pruned} grams with "
                  f"doc_freq > {max_doc_freq}", file=sys.stderr)
        inv_cand = inv.join(frequent, "g", "left_anti")
        cand = (
            inv_cand.alias("x")
            .join(inv_cand.alias("y"), F.col("x.g") == F.col("y.g"))
            .where(F.col("x.doc") < F.col("y.doc"))
            .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
            .distinct()
        )
        # exact verify over FULL gram sets (capped grams still count
        # toward intersection/union — values identical to the uncapped op)
        return (
            cand.join(grams.select(F.col("doc").alias("id_a"), F.col("grams").alias("ga")), "id_a")
            .join(grams.select(F.col("doc").alias("id_b"), F.col("grams").alias("gb")), "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("ga", "gb")).cast("double")
                / F.size(F.array_union("ga", "gb")).cast("double"),
            )
            .where(F.col("jaccard") >= F.lit(threshold))
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        )

    # Pair-count aggregation: the join emits sum-over-grams(f^2) rows
    # (127M at sf1.0) with almost no duplicate reduction, so the
    # aggregate's key cost and the exchange width dominate.  For
    # integral non-negative ids below 2^31 the unordered pair packs
    # into ONE bigint (shiftleft 32 | other) — single-long hash/compare
    # in both HashAggregate passes and a 1-column exchange instead of
    # 2 — measured 27% faster on the sf1.0 pair core.  The range guard
    # is asserted ONCE on the inverted index (2.6M rows), not per pair;
    # out-of-range or non-integral ids fall back to the generic 2-key
    # aggregation with identical results.
    # ("long" only: packing smaller integer types would widen the
    # output id columns and change the result schema)
    id_type = str(df.schema[id_col].dataType.typeName())
    if id_type == "long":
        inv_chk = inv.withColumn(
            "doc",
            F.expr(
                "CASE WHEN doc >= 0 AND doc < 2147483648 THEN doc "
                "ELSE CAST(assert_true(false, 'ngram pair packing needs "
                "ids in [0, 2^31)') AS LONG) END"
            ),
        )
        pairs = (
            inv_chk.alias("x")
            .join(inv_chk.alias("y"), F.col("x.g") == F.col("y.g"))
            .where(F.col("x.doc") < F.col("y.doc"))
            .select(
                (F.shiftleft(F.col("x.doc"), 32) + F.col("y.doc")).alias("pk")
            )
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("inter"))
            .select(
                F.shiftright("pk", 32).alias("id_a"),
                F.col("pk").bitwiseAND(F.lit((1 << 32) - 1)).alias("id_b"),
                "inter",
            )
        )
    else:
        pairs = (
            inv.alias("x")
            .join(inv.alias("y"), F.col("x.g") == F.col("y.g"))
            .where(F.col("x.doc") < F.col("y.doc"))
            .groupBy(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        pairs.join(sizes.select(F.col("doc").alias("id_a"), F.col("n_grams").alias("na")), "id_a")
        .join(sizes.select(F.col("doc").alias("id_b"), F.col("n_grams").alias("nb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates (banded) with exact verification
# ---------------------------------------------------------------------------

_MERSENNE_P = (1 << 61) - 1
_HASH_SPACE = 1 << 31  # shingle hashes and coefficients kept 31-bit so
                       # a*h + b < 2^62 never overflows int64 (ANSI mode)


def _minhash_params(num_hashes: int, seed: int = 42):
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _HASH_SPACE), rng.randrange(0, _HASH_SPACE))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str,
    num_hashes: int = 32, shingle_n: int = 3, seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(doc, sig array<long>) — minhash over word-shingle hash values.

    Universal hash h_i(x) = (a_i * x + b_i) mod (2^61 - 1) computed in
    JVM integer arithmetic (values kept positive via pmod).

    ``portable=True`` swaps the xxhash64 shingle hash for the md5-based
    ``sqlgen.hash60_sql`` so the ENTIRE signature pipeline is
    reproducible in DuckDB (driver oracle); default stays xxhash64
    (JVM-native, production path).
    """
    from ..functions.sqlgen import hash60_sql

    params = _minhash_params(num_hashes, seed)
    gram_hash = hash60_sql("g", "spark") if portable else "xxhash64(g)"
    grams = df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_ngrams_col(text_col, shingle_n)).alias("g"),
    ).withColumn("h", F.expr(f"pmod({gram_hash}, {_HASH_SPACE}L)"))
    aggs = [
        F.min(F.expr(f"pmod({a}L * h + {b}L, {_MERSENNE_P}L)")).alias(f"mh{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = grams.groupBy("doc").agg(*aggs)
    return sig.select(
        "doc", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame, text_col: str, id_col: str,
    num_hashes: int = 32, bands: int = 8, shingle_n: int = 3,
    threshold: float = 0.6, seed: int = 42, verify: bool = True,
    portable: bool = False,
) -> DataFrame:
    """LSH-banded candidate pairs, optionally verified with exact Jaccard.

    Scale path: the band-bucket self-join replaces the all-pairs scan;
    only same-bucket docs meet.  rows-per-band = num_hashes // bands.

    ``portable=True`` uses md5-based hashing for shingles AND band keys
    so the whole LSH pipeline replays in the DuckDB oracle.
    """
    from ..functions.sqlgen import hash60_sql

    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, seed, portable=portable
    )

    band_structs = []
    for bi in range(bands):
        if portable:
            cols_sql = ", ".join(f"CAST(sig[{bi * r + j}] AS STRING)" for j in range(r))
            bkey = F.expr(hash60_sql(f"concat_ws(',', {cols_sql})", "spark"))
        else:
            bkey = F.xxhash64(*[F.col("sig")[bi * r + j] for j in range(r)])
        band_structs.append(
            F.struct(F.lit(bi).alias("band"), bkey.alias("bkey"))
        )
    band_arr = F.array(*band_structs)
    buckets = sig.select("doc", F.explode(band_arr).alias("b")).select(
        "doc", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y"), ["band", "bkey"])
        .where(F.col("x.doc") < F.col("y.doc"))
        .select(F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    grams = df.select(
        F.col(id_col).alias("doc"), word_ngrams_col(text_col, shingle_n).alias("grams")
    )
    return (
        cand.join(grams.select(F.col("doc").alias("id_a"), F.col("grams").alias("ga")), "id_a")
        .join(grams.select(F.col("doc").alias("id_b"), F.col("grams").alias("gb")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("ga", "gb")).cast("double")
            / F.size(F.array_union("ga", "gb")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, token_hash_sql: str | None = None
) -> DataFrame:
    """(doc, sh) — 64-bit SimHash of whitespace tokens as a signed long.

    Per bit j: sign of the sum over token OCCURRENCES of (+1 if bit j of
    hash(token) else -1).  One explode + one 64-column agg; the token
    hash is computed once (not per bit).

    ``token_hash_sql`` is a SQL expression over the exploded token column
    ``t``; default xxhash64 (JVM-native, production path).  Pass
    ``sqlgen.hash60_sql('t', 'spark')`` for the DuckDB-oracle-portable
    variant (bits 60-63 then vote all-negative on both engines).
    """
    toks = f"filter(split(lower({text_col}), ' '), x -> x != '')"
    exploded = df.select(
        F.col(id_col).alias("doc"), F.explode(F.expr(toks)).alias("t")
    ).withColumn("h", F.expr(token_hash_sql or "xxhash64(t)"))
    aggs = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    votes = exploded.groupBy("doc").agg(*aggs)
    sh = None
    for j in range(64):
        term = F.when(F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
            F.lit(0).cast("long")
        )
        sh = term if sh is None else sh.bitwiseOR(term)
    return votes.select("doc", sh.alias("sh"))


def simhash_chunk_bounds(max_hamming: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """(start_bit, width) per bucket chunk.  Pigeonhole completeness: two
    signatures differing in <= max_hamming bits, split into max_hamming+1
    chunks, must agree on at least one whole chunk — so chunk-bucket
    candidates have FULL recall at the declared radius (the round-1
    fixed 4x16 chunking silently lost recall for max_hamming > 3)."""
    n_chunks = max(2, max_hamming + 1)
    if n_chunks > n_bits:
        raise ValueError(f"max_hamming={max_hamming} needs > {n_bits} chunks")
    base, rem = divmod(n_bits, n_chunks)
    bounds, start = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        bounds.append((start, w))
        start += w
    return bounds


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3,
    token_hash_sql: str | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming: chunk-bucket
    candidates (max_hamming+1 chunks -> guaranteed recall by pigeonhole)
    then exact popcount verification."""
    sim = simhash_signatures(df, text_col, id_col, token_hash_sql)
    bounds = simhash_chunk_bounds(max_hamming)
    chunks = sim.select(
        "doc", "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        (
                            F.shiftright("sh", start).bitwiseAND(F.lit((1 << w) - 1))
                        ).alias("ckey"),
                    )
                    for i, (start, w) in enumerate(bounds)
                ]
            )
        ).alias("c"),
    ).select("doc", "sh", F.col("c.chunk").alias("chunk"), F.col("c.ckey").alias("ckey"))
    cand = (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk", "ckey"])
        .where(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("id_a"), F.col("y.doc").alias("id_b"),
            F.col("x.sh").alias("sha"), F.col("y.sh").alias("shb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sha").bitwiseXOR(F.col("shb"))))
        .where(F.col("hamming") <= F.lit(max_hamming))
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_dup_pairs(
    df: DataFrame, vec_col: str, id_col: str, threshold: float = 0.95,
    n_planes: int = 16, seed: int = 7, brute_force: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold.

    Scale path: signed-random-projection bucketing (n_planes hyperplanes
    -> one bucket key; near-identical vectors collide with prob
    (1 - theta/pi)^n_planes), exact cosine verified per candidate.
    ``brute_force=True`` joins everything (oracle/test path).
    """
    from ..functions.vectors import cosine_expr, srp_bucket_col

    v = df.select(F.col(id_col).alias("doc"), F.col(vec_col).alias("vec"))
    if brute_force:
        cand = (
            v.alias("x").crossJoin(v.alias("y"))
            .where(F.col("x.doc") < F.col("y.doc"))
        )
    else:
        if dim is None:
            # round-2 verdict #5: no driver round-trip in the SRP path —
            # the embedding dimension is a property of the table, so the
            # caller must state it (the SRP plane literals are baked into
            # the plan and cannot depend on runtime data anyway)
            raise ValueError(
                "embedding_dup_pairs(brute_force=False) requires dim="
                "<embedding dimension>; the SRP hyperplanes are compiled "
                "into the plan as literals"
            )
        b = v.withColumn("bucket", srp_bucket_col("vec", dim, n_planes, seed))
        cand = (
            b.alias("x").join(b.alias("y"), "bucket")
            .where(F.col("x.doc") < F.col("y.doc"))
        )
    return (
        cand.select(
            F.col("x.doc").alias("id_a"),
            F.col("y.doc").alias("id_b"),
            cosine_expr("x.vec", "y.vec").alias("cosine"),
        )
        .where(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )
