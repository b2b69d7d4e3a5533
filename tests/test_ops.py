"""Operator tests: training-pipeline dedup family, similarity search,
text functions, checkpoint/resume."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_conflate_spark.operators import dedup as dd
from osm_conflate_spark.operators import similarity as sim
from osm_conflate_spark.functions import text as tf

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def _jaccard(a: str, b: str, n=3):
    def grams(t):
        toks = [w for w in t.lower().split(" ") if w]
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def test_ngram_jaccard_exact_vs_python(spark, docs):
    sub = docs.limit(60)
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(sub, "text", "doc_id", threshold=0.2).collect()
    }
    pdf = sub.toPandas()
    want = {}
    for i in range(len(pdf)):
        for j in range(i + 1, len(pdf)):
            a, b = pdf.iloc[i], pdf.iloc[j]
            jac = _jaccard(a["text"], b["text"])
            if jac >= 0.2:
                ia, ib = sorted([a["doc_id"], b["doc_id"]])
                want[(ia, ib)] = round(jac, 6)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_minhash_lsh_finds_planted_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 6
    rows = [(1, base), (2, base + "extra token"), (3, "совершенно другой текст " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dd.minhash_lsh_pairs(
        df, "text", "doc_id", num_hashes=32, bands=8, threshold=0.5
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and all(3 not in p for p in got)


def test_minhash_lsh_verified_subset_of_exact(spark, docs):
    sub = docs.limit(80)
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dd.minhash_lsh_pairs(
            sub, "text", "doc_id", num_hashes=32, bands=8, threshold=0.4
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(sub, "text", "doc_id", threshold=0.4).collect()
    }
    assert lsh <= exact  # verification guarantees no false positives


def test_simhash_identical_and_near(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # identical -> hamming 0
        (3, "alpha beta gamma delta epsilon eta"),    # near
        (4, "one two three four five six seven"),     # far
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc"]: r["sh"] for r in dd.simhash_signatures(df, "text", "doc_id").collect()}
    assert sig[1] == sig[2]
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dd.simhash_pairs(df, "text", "doc_id", max_hamming=16).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs or pairs[(1, 4)] > 16


def test_embedding_dup_srp_vs_brute(spark, emb):
    brute = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_dup_pairs(
            emb, "embedding", "vec_id", threshold=0.95, brute_force=True
        ).collect()
    }
    srp = {
        (r["id_a"], r["id_b"])
        for r in dd.embedding_dup_pairs(
            emb, "embedding", "vec_id", threshold=0.95, n_planes=8, dim=64
        ).collect()
    }
    assert srp <= brute
    if brute:
        assert len(srp) >= len(brute) * 0.5  # recall sanity at 8 planes
    with pytest.raises(ValueError):  # SRP path must not silently .first()
        dd.embedding_dup_pairs(emb, "embedding", "vec_id", threshold=0.95)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def test_brute_force_topk_vs_numpy(spark, emb):
    queries = emb.where(F.col("vec_id") < 5)
    got = sim.brute_force_topk(queries, emb, k=5).collect()
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy())
    ids = pdf["vec_id"].to_numpy()
    mat64 = mat.astype(np.float64)
    norms = np.linalg.norm(mat64, axis=1)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"], r["cosine"]))
    for q in range(5):
        qi = np.where(ids == q)[0][0]
        cos = (mat64 @ mat64[qi]) / (norms * norms[qi])
        cos_r = np.round(cos, 6)
        order = sorted(
            [(float(-cos_r[i]), int(ids[i])) for i in range(len(ids)) if ids[i] != q]
        )[:5]
        want = [(rank + 1, oid, -negc) for rank, (negc, oid) in enumerate(order)]
        got_q = sorted(by_q[q])
        assert [(r, o) for r, o, _ in got_q] == [(r, o) for r, o, _ in want]
        for (_, _, cg), (_, _, cw) in zip(got_q, want):
            assert abs(cg - cw) < 2e-6


def test_ivf_topk_recall(spark, emb):
    queries = emb.where(F.col("vec_id") < 20)
    exact = sim.brute_force_topk(queries, emb, k=5).collect()
    approx = sim.ivf_topk(queries, emb, k=5, n_centroids=8, n_probe=4).collect()
    exact_s = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_s = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_s & approx_s) / len(exact_s)
    assert recall >= 0.5  # approximate path sanity


# ---------------------------------------------------------------------------
# text functions
# ---------------------------------------------------------------------------

def test_token_count_and_quality(spark, docs):
    out = docs.select(
        "doc_id",
        tf.token_count_spark("text").alias("n_tok"),
        F.expr(tf.quality_score_sql("text", "spark")).alias("q"),
        F.expr(tf.word_count_sql("text", "spark")).alias("n_words"),
    ).collect()
    pdf = docs.toPandas().set_index("doc_id")
    for r in out:
        toks = [t for t in pdf.loc[r["doc_id"], "text"].split(" ") if t]
        assert r["n_tok"] == len(toks)
        assert r["n_words"] == len(toks)  # single-space tokenized corpus
        assert 0.0 <= r["q"] <= 1.0


def test_langid_runs(spark, docs):
    out = docs.select(tf.langid_spark("text").alias("lang")).groupBy("lang").count()
    langs = {r["lang"] for r in out.collect()}
    assert langs  # heuristic labels exist; cross-engine parity in test_sql_parity


def test_fingerprint_matches_python_twin(spark, docs):
    sub = docs.limit(30)
    got = {
        r["doc_id"]: r["fp"]
        for r in sub.select("doc_id", tf.fingerprint_col("text").alias("fp")).collect()
    }
    # python twin via the same xxhash64 (computed through Spark on literals
    # would be circular — instead verify structural properties + determinism)
    got2 = {
        r["doc_id"]: r["fp"]
        for r in sub.select("doc_id", tf.fingerprint_col("text").alias("fp")).collect()
    }
    assert got == got2
    pdf = sub.toPandas()
    same = pdf.iloc[0]["text"]
    df2 = spark.createDataFrame([(1, same), (2, same)], "doc_id long, text string")
    fp2 = {r["doc_id"]: r["fp"] for r in df2.select("doc_id", tf.fingerprint_col("text").alias("fp")).collect()}
    assert fp2[1] == fp2[2]


# ---------------------------------------------------------------------------
# checkpoint / resume
# ---------------------------------------------------------------------------

def test_stage_runner_resume(spark, tmp_path):
    from osm_conflate_spark.plans.lineage import StageRunner

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(10).withColumn("v", F.col("id") * 2)

    r1 = StageRunner(spark, out_dir=str(tmp_path), cfg_hash="abc")
    df1 = r1.run("s1", build)
    assert df1.count() == 10 and calls["n"] == 1
    r2 = StageRunner(spark, out_dir=str(tmp_path), cfg_hash="abc")
    df2 = r2.run("s1", build)
    assert df2.count() == 10 and calls["n"] == 1  # resumed, not rebuilt
    assert r2.lineage[0]["resumed"]
    r3 = StageRunner(spark, out_dir=str(tmp_path), cfg_hash="other")
    r3.run("s1", build)
    assert calls["n"] == 2  # config changed -> rebuilt
