"""textops/vecops against local Python recomputation oracles."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_flat(spark):
    texts = [
        "the cat sat on the mat and looked at the hat",
        "the cat sat on the mat and looked at the hat",   # exact dup of 0
        "the cat sat on the mat and looked at the hats",  # near dup of 0
        "el perro y el gato y los dos",
        "der hund und die katze und das haus",
        "completely different words entirely here xyz abc",
        "le chat et le chien et les deux",
    ]
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))


def test_exact_dedup(docs_flat):
    from sgspark.textops import exact_dedup
    out = exact_dedup(docs_flat).toPandas()
    assert len(out) == 6  # 7 docs, one exact dup pair
    dup = out[out.n_dups == 2]
    assert len(dup) == 1 and dup.keeper_id.iloc[0] == 0


def test_shingles_and_near_dups(docs_flat):
    from sgspark.textops import near_dup_pairs, shingles
    sh = shingles(docs_flat, width=12).toPandas()
    # local oracle for doc 5
    t = "completely different words entirely here xyz abc"
    want = {t[i:i + 12] for i in range(len(t) - 11)}
    got = set(sh[sh.doc_id == 5].sh)
    assert got == want
    pairs = near_dup_pairs(docs_flat, threshold=0.5).toPandas()
    pset = {(a, b) for a, b in zip(pairs.a, pairs.b)}
    assert (0, 1) in pset          # exact dup -> jaccard 1.0
    assert (0, 2) in pset          # one-char edit -> high jaccard
    j01 = pairs[(pairs.a == 0) & (pairs.b == 1)].jaccard.iloc[0]
    assert j01 == 1.0
    # exact-jaccard verification matches a python recompute
    t0 = "the cat sat on the mat and looked at the hat"
    t2 = "the cat sat on the mat and looked at the hats"
    s0 = {t0[i:i + 12] for i in range(len(t0) - 11)}
    s2 = {t2[i:i + 12] for i in range(len(t2) - 11)}
    want_j = round(len(s0 & s2) / len(s0 | s2), 6)
    j02 = pairs[(pairs.a == 0) & (pairs.b == 2)].jaccard.iloc[0]
    assert j02 == pytest.approx(want_j)
    # no cross-language false positives at 0.5
    assert (3, 4) not in pset


def test_simhash_and_bands(docs_flat):
    from sgspark.textops import simhash, simhash_near_dups
    sh = simhash(docs_flat).toPandas().sort_values("doc_id")
    assert sh.simhash.iloc[0] == sh.simhash.iloc[1]  # identical texts
    nd = simhash_near_dups(docs_flat, max_hamming=12).toPandas()
    pset = {(a, b) for a, b in zip(nd.a, nd.b)}
    assert (0, 1) in pset
    h01 = nd[(nd.a == 0) & (nd.b == 1)].hamming.iloc[0]
    assert h01 == 0


def test_token_stats_quality_langid(docs_flat):
    from sgspark.textops import lang_id, quality_score, token_stats
    ts = token_stats(docs_flat).toPandas().sort_values("doc_id")
    t0 = "the cat sat on the mat and looked at the hat"
    assert ts.n_tokens.iloc[0] == len(t0.split(" "))
    q = quality_score(docs_flat).toPandas().sort_values("doc_id")
    want_ratio = sum(w in ("the", "a", "of", "and", "le", "la", "et", "les",
                           "el", "y", "los", "der", "die", "und", "das")
                     for w in t0.split(" ")) / len(t0.split(" "))
    assert q.stopword_ratio.iloc[0] == pytest.approx(round(want_ratio, 6))
    lang = lang_id(docs_flat).toPandas().sort_values("doc_id")
    assert lang.lang_pred.iloc[0] == "en"
    assert lang.lang_pred.iloc[3] == "es"
    assert lang.lang_pred.iloc[4] == "de"
    assert lang.lang_pred.iloc[6] == "fr"
    assert lang.lang_pred.iloc[5] == "und"


def test_fingerprint_matches_python(docs_flat):
    from sgspark.textops import fingerprint
    fp = fingerprint(docs_flat).toPandas().sort_values("doc_id")

    def poly(s):
        acc = 0
        for ch in s:
            acc = (acc * 131 + ord(ch)) % 1000000007
        return acc

    t0 = "the cat sat on the mat and looked at the hat"
    assert fp.fingerprint.iloc[0] == poly(t0)
    assert fp.fingerprint.iloc[0] == fp.fingerprint.iloc[1]


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 16).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(40),
                        "embedding": [v.tolist() for v in vecs]})
    df = spark.createDataFrame(pdf)
    from sgspark.vecops import cosine_topk_bruteforce, cosine_topk_lsh
    got = cosine_topk_bruteforce(df, 3).toPandas()
    # numpy oracle on the QUANTIZED vectors (the documented semantics)
    q = np.round(vecs.astype(np.float64) * 1000)
    sims = (q @ q.T) / np.sqrt((q * q).sum(1)[:, None] * (q * q).sum(1)[None, :])
    np.fill_diagonal(sims, -np.inf)
    for v in range(40):
        top = np.argsort(-sims[v], kind="stable")[:3]
        sub = got[got.vec_id == v].sort_values("k_rank")
        assert list(sub.neighbor_id) == list(top)
        assert np.allclose(sub.sim, np.round(sims[v][top], 6))
    # LSH recall@3 against brute force: wide buckets (2 bits) x 8 tables
    # give high recall even on near-orthogonal random gaussians
    lsh = cosine_topk_lsh(df, 3, n_bits=2, n_tables=8).toPandas()
    hits = 0
    for v in range(40):
        b = set(got[got.vec_id == v].neighbor_id)
        l = set(lsh[lsh.vec_id == v].neighbor_id)
        hits += len(b & l)
    assert hits / (40 * 3) > 0.6


def test_embedding_near_dups_exact_vs_lsh(spark):
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from sgspark.vecops import embedding_near_dups
    exact = {(r.a, r.b): r.sim
             for r in embedding_near_dups(vecs, 0.35).collect()}
    assert len(exact) > 0
    approx = {(r.a, r.b): r.sim
              for r in embedding_near_dups(vecs, 0.35, exact=False).collect()}
    # LSH candidates are a subset with identical sims where present
    assert set(approx) <= set(exact)
    for kk, v in approx.items():
        assert v == exact[kk]


def test_cosine_topk_ivf_recall(spark):
    vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    from sgspark.vecops import cosine_topk_bruteforce, cosine_topk_ivf
    truth = {(r.vec_id, r.neighbor_id)
             for r in cosine_topk_bruteforce(vecs, 3).collect()}
    got = {(r.vec_id, r.neighbor_id)
           for r in cosine_topk_ivf(vecs, 3, n_centroids=8,
                                    n_probe=4).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, recall  # probing half the lists
    # full probe == exact
    got_all = {(r.vec_id, r.neighbor_id)
               for r in cosine_topk_ivf(vecs, 3, n_centroids=8,
                                        n_probe=8).collect()}
    assert got_all == truth


def test_shingle_shape_equals_transform_lambda(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a", "b", "c", "d"],
        "text": ["abcdefghijklmnop", "abcdefghijklmnop",
                 "zyxwvutsrqponmlkjihg", "short"]}))
    from sgspark.textops import shingles
    w = 12
    new = shingles(docs, width=w, distinct=False)
    old = (docs.where(F.length("text") >= w)
           .select("doc_id", F.explode(F.expr(
               f"transform(sequence(1, length(text) - {w - 1}), "
               f"i -> substring(text, i, {w}))")).alias("sh")))
    assert sorted(map(tuple, new.collect())) == \
        sorted(map(tuple, old.collect()))
