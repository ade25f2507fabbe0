"""Tests for the training-pipeline operators (dedup / similarity / text).

Ground truth is computed independently in pandas/numpy on the same rows —
the operators must agree exactly (dedup, text) or meet recall bounds
(LSH, IVF: approximate by design, verified against the exact operator).
"""

import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandasschema_spark.operators import dedup as D
from pandasschema_spark.operators import similarity as S
from pandasschema_spark.operators import text as TX
from pandasschema_spark.resources import scope

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(SF_DIR + "/documents.parquet").select("doc_id", "text")


@pytest.fixture(scope="module")
def docs_pd(docs):
    return docs.toPandas().sort_values("doc_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(SF_DIR + "/embeddings.parquet")


def _norm(t: str) -> str:
    return " ".join(t.lower().split())


def _grams(t: str, n=3):
    w = _norm(t).split(" ")
    if len(w) < n:
        return {" ".join(w)}
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _spark_grams(df, text_col, id_col, n=3):
    """{id: grams} as Spark's word_ngrams_expr emits them (None for NULL
    text): the SQL form the DuckDB oracles replay, so the signature
    closed forms below hash Java-\\s tokens, not a Python mirror's."""
    return {r[0]: r[1] for r in df.select(
        id_col, D.word_ngrams_expr(F.col(text_col), n)).collect()}


def _md5(g: str) -> str:
    return hashlib.md5(g.encode()).hexdigest()


def _minhash(grams, k=16):
    """MinHash closed form: per affine (a, b), the min over the grams of
    (a * md5[:8] + b) mod p; NULL text gives k NULL parts."""
    if grams is None:
        return [None] * k
    hs = [int(_md5(g)[:8], 16) for g in grams]
    return [min((a * h + b) % D.MINHASH_PRIME for h in hs)
            for a, b in D._affine_params(k)]


def _simhash(grams):
    """SimHash closed form: bit b < 32 is the majority vote of bit b of
    md5[:8], bit 32 + b (b < 31) that of md5[8:16]; NULL text signs 0."""
    if grams is None:
        return 0
    digs = [_md5(g) for g in grams]
    sig = 0
    for bit in range(63):
        hs = [int(d[:8] if bit < 32 else d[8:16], 16) for d in digs]
        if sum(2 * ((h >> bit % 32) & 1) - 1 for h in hs) > 0:
            sig |= 1 << bit
    return sig


def _cos_fold(a, b):
    """Scalar left fold in dimension order, the oracle's cosine."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
        na += float(x) * float(x)
        nb += float(y) * float(y)
    return dot / (math.sqrt(na) * math.sqrt(nb))


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_duplicate_ids(spark, docs):
    dupes = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    # a whitespace/case variant must also collapse to the same fingerprint
    variants = docs.where(F.col("doc_id") == 1).select(
        F.lit(5000).alias("doc_id"), F.upper(F.concat(F.lit("  "), F.col("text"))).alias("text")
    )
    corpus = docs.unionByName(dupes).unionByName(variants)
    got = {(r["id"], r["keep_id"]) for r in D.exact_duplicate_ids(corpus, "text", "doc_id").collect()}
    expected = {(i + 1000, i) for i in range(0, 500, 5)} | {(5000, 1)}
    assert got == expected


def test_ngram_jaccard_pairs_matches_pandas(spark, docs, docs_pd):
    mutated = docs.select((F.col("doc_id") + 1000).alias("doc_id"),
                          F.concat("text", F.lit(" tail words")).alias("text"))
    corpus = docs.unionByName(mutated)
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_a"], r["n_b"])
        for r in D.ngram_jaccard_pairs(corpus, "text", "doc_id", threshold=0.5).collect()
    }
    # independent pandas ground truth over the planted pairs
    for _, row in docs_pd.iterrows():
        a = _grams(row["text"])
        b = _grams(row["text"] + " tail words")
        jac = len(a & b) / len(a | b)
        key = (row["doc_id"], row["doc_id"] + 1000)
        if jac >= 0.5:
            assert got[key] == (len(a & b), len(a), len(b))
        else:
            assert key not in got
    # every returned pair (incl. genuine near-dups inside the corpus)
    # must carry exactly the pandas-computed gram counts and pass the bar
    texts = dict(zip(docs_pd["doc_id"], docs_pd["text"]))
    full = {**texts, **{i + 1000: t + " tail words" for i, t in texts.items()}}
    for (ia, ib), (nc, na, nb) in got.items():
        a, b = _grams(full[ia]), _grams(full[ib])
        assert (nc, na, nb) == (len(a & b), len(a), len(b))
        assert nc / (na + nb - nc) >= 0.5


def test_lsh_candidates_recall_and_precision(spark, docs):
    mutated = docs.select((F.col("doc_id") + 1000).alias("doc_id"),
                          F.concat("text", F.lit(" zz")).alias("text"))
    corpus = docs.unionByName(mutated)
    cands = {(r["id_a"], r["id_b"]) for r in
             D.lsh_candidate_pairs(corpus, "text", "doc_id", k=16, bands=4).collect()}
    planted = {(i, i + 1000) for i in range(500)}
    recall = len(cands & planted) / len(planted)
    assert recall >= 0.95  # ~0.99 expected at jaccard≈0.98, r=4 b=4
    # candidates verified by exact jaccard (pandas) keep the planted pairs
    texts = {r["doc_id"]: r["text"] for r in corpus.collect()}

    def jaccard(ia, ib):
        a, b = _grams(texts[ia]), _grams(texts[ib])
        return len(a & b) / len(a | b)

    verified = {p for p in cands if jaccard(*p) >= 0.5}
    assert len(verified & planted) / len(planted) >= 0.95


def test_lsh_hot_bucket_cap_drops_boilerplate(spark, docs):
    """max_bucket semantics: a bucket larger than the cap contributes NO
    candidate pairs (identical boilerplate is exact-dedup's job), while
    normal-size buckets are unaffected — results equal the uncapped run
    minus the hot cluster."""
    boiler = spark.range(30).select(
        (F.col("id") + 9000).alias("doc_id"),
        F.lit("same boilerplate text repeated everywhere forever and ever").alias("text"),
    )
    mutated = docs.select((F.col("doc_id") + 1000).alias("doc_id"),
                          F.concat("text", F.lit(" zz")).alias("text"))
    corpus = docs.unionByName(mutated).unionByName(boiler)
    capped = {(r["id_a"], r["id_b"]) for r in
              D.lsh_candidate_pairs(corpus, "text", "doc_id", max_bucket=10).collect()}
    uncapped = {(r["id_a"], r["id_b"]) for r in
                D.lsh_candidate_pairs(corpus, "text", "doc_id", max_bucket=None).collect()}
    boiler_pairs = {(a, b) for a in range(9000, 9030) for b in range(9000, 9030) if a < b}
    assert boiler_pairs <= uncapped
    assert capped == uncapped - boiler_pairs


def test_near_dup_multi_probe_beats_single_probe(spark, emb):
    """n_probe must actually take effect (r1 advice: it was silently
    unused): multi-probe candidate pairs are a superset of single-probe,
    and both recover all identical-vector pairs."""
    dup = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    corpus = emb.where(F.col("vec_id") < 100).select("vec_id", "embedding").unionByName(dup)
    cents = emb.where(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec"))
    p1 = {(r["id_a"], r["id_b"]) for r in S.embedding_near_dup_pairs(
        corpus, threshold=0.9, centroids=cents, n_probe=1).collect()}
    p3 = {(r["id_a"], r["id_b"]) for r in S.embedding_near_dup_pairs(
        corpus, threshold=0.9, centroids=cents, n_probe=3).collect()}
    assert p1 <= p3
    assert {(i, i + 1000) for i in range(20)} <= p1  # identical -> same cells


def test_scope_unpersists(spark, docs, pinned):
    before = pinned()
    with scope():
        D.lsh_candidate_pairs(docs.limit(40), "text", "doc_id").count()
        assert pinned() - before, "the signature frame must be persisted"
    assert not pinned() - before


def test_minhash_arrow_native_equivalence(spark, docs):
    """The Arrow signatures equal the hashlib closed form over Spark's
    grams."""
    sub = docs.where(F.col("doc_id") < 60)
    got = {r["id"]: r["sig"] for r in
           D.minhash_signatures(sub, "text", "doc_id").collect()}
    grams = _spark_grams(sub, "text", "doc_id")
    assert got == {i: _minhash(g) for i, g in grams.items()}


def test_simhash_arrow_native_equivalence(spark, docs):
    sub = docs.where(F.col("doc_id") < 60)
    got = {r["id"]: r["simhash"] for r in
           D.simhash64(sub, "text", "doc_id").collect()}
    grams = _spark_grams(sub, "text", "doc_id")
    assert got == {i: _simhash(g) for i, g in grams.items()}


def test_simhash_properties(spark, docs):
    corpus = docs.where(F.col("doc_id") < 50)
    dup = corpus.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    sigs = {r["id"]: r["simhash"] for r in
            D.simhash64(corpus.unionByName(dup), "text", "doc_id").collect()}
    for i in range(50):
        assert sigs[i] == sigs[i + 1000]  # identical text -> identical signature
        assert sigs[i] >= 0               # sign bit kept clear
    # distinct random docs should not all collide
    assert len(set(sigs.values())) > 25


def test_simhash_candidates_find_near_dups(spark, docs):
    corpus = docs.where(F.col("doc_id") < 100)
    near = corpus.select((F.col("doc_id") + 1000).alias("doc_id"),
                         F.concat("text", F.lit(" x")).alias("text"))
    both = corpus.unionByName(near)
    cands = {(r["id_a"], r["id_b"]) for r in
             D.simhash_candidates(both, "text", "doc_id").collect()}
    sigs = {r["id"]: r["simhash"] for r in D.simhash64(both, "text", "doc_id").collect()}
    planted = {(i, i + 1000) for i in range(100)}
    # banding guarantee: Hamming distance <= 3 over 4 chunks of 16 bits
    # MUST share a chunk (pigeonhole); beyond that it's best-effort
    close = {p for p in planted if bin(sigs[p[0]] ^ sigs[p[1]]).count("1") <= 3}
    assert close <= cands
    assert len(cands & planted) / len(planted) >= 0.5  # best-effort recall


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _np_topk(emb_pd, query_ids, k=10):
    vecs = np.stack(emb_pd["embedding"].to_numpy()).astype(np.float64)
    ids = emb_pd["vec_id"].to_numpy()
    out = {}
    for q in query_ids:
        qv = vecs[ids == q][0]
        cos = vecs @ qv / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(qv))
        order = sorted(range(len(ids)), key=lambda i: (-cos[i], ids[i]))
        out[q] = [ids[i] for i in order if ids[i] != q][:k]
    return out


def test_cosine_topk_matches_numpy(spark, emb):
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    got = {}
    for r in S.cosine_topk(emb, queries, k=10).collect():
        got.setdefault(r["query_id"], []).append((r["cos"], r["vec_id"]))
    expected = _np_topk(emb.toPandas(), [0, 1, 2], k=10)
    for q in [0, 1, 2]:
        ranked = [v for _, v in sorted(got[q], key=lambda t: (-t[0], t[1]))]
        assert ranked == list(expected[q])


def test_cosine_topk_arrow_matches_expr(spark, emb):
    """Scores and ranking equal a scalar left fold bit for bit: the Arrow
    kernel folds in dimension order, as dot_expr and DuckDB do."""
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    got = {}
    for r in S.cosine_topk(emb, queries, k=10).collect():
        got.setdefault(r["query_id"], []).append((-r["cos"], r["vec_id"]))
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    for q in (0, 1, 2):
        expected = sorted((-_cos_fold(v, vecs[q]), i)
                          for i, v in vecs.items() if i != q)[:10]
        assert sorted(got[q]) == expected


def test_ivf_topk_recall(spark, emb):
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    centroids = emb.where(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec"))
    exact = _np_topk(emb.toPandas(), list(range(5)), k=10)
    approx = {}
    for r in S.ivf_topk(emb, queries, centroids, k=10, n_probe=3).collect():
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(approx.get(q, set()) & set(exact[q])) / 10 for q in range(5)]
    assert sum(recalls) / len(recalls) >= 0.4  # IVF with 10 cells / probe 3


def test_embedding_near_dup_pairs(spark, emb):
    # plant exact duplicates: cosine(v, v) == 1 >= any threshold
    dup = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    corpus = emb.where(F.col("vec_id") < 100).select("vec_id", "embedding").unionByName(dup)
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in
           S.embedding_near_dup_pairs(corpus, threshold=0.99).collect()}
    assert set(got) == {(i, i + 1000) for i in range(20)}
    assert all(abs(c - 1.0) < 1e-9 for c in got.values())
    # IVF-bucketed variant finds same-cell duplicates (identical vectors
    # always land in the same cell)
    cents = emb.where(F.col("vec_id") % 50 == 3).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cvec"))
    bucketed = {(r["id_a"], r["id_b"]) for r in
                S.embedding_near_dup_pairs(corpus, threshold=0.99, centroids=cents).collect()}
    assert bucketed == set(got)


def test_column_profile(spark, docs):
    from pandasschema_spark.operators.profile import column_profile

    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "b", None), (2, None, 4.0), (3, "a", 6.0)],
        "k long, s string, x double",
    )
    prof = {r["column"]: r for r in column_profile(df, ["k", "s", "x"], exact_distinct=True).collect()}
    assert (prof["k"]["n"], prof["k"]["nulls"], prof["k"]["distinct"]) == (4, 0, 3)
    assert (prof["k"]["min"], prof["k"]["max"], prof["k"]["sum"], prof["k"]["mean"]) == ("1", "3", 8.0, 2.0)
    assert (prof["s"]["n"], prof["s"]["nulls"], prof["s"]["distinct"]) == (3, 1, 2)
    assert prof["s"]["sum"] is None and prof["s"]["mean"] is None
    assert (prof["x"]["n"], prof["x"]["nulls"], prof["x"]["sum"], prof["x"]["mean"]) == (3, 1, 12.0, 4.0)
    # approx (HLL) distinct is close on real data
    approx = {r["column"]: r["distinct"] for r in
              column_profile(docs, ["doc_id", "lang"] if "lang" in docs.columns else ["doc_id"]).collect()}
    assert abs(approx["doc_id"] - 500) / 500 < 0.1


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_token_count_matches_pandas(spark, docs, docs_pd):
    got = {r["doc_id"]: r["n_tokens"] for r in TX.token_count(docs, "text", "doc_id").collect()}
    for _, row in docs_pd.iterrows():
        assert got[row["doc_id"]] == len(row["text"].split())


def test_quality_metrics_match_pandas(spark, docs, docs_pd):
    import re

    got = {r["doc_id"]: r.asDict() for r in TX.quality_metrics(docs, "text", "doc_id").collect()}
    stop = set(TX._STOPWORDS)
    for _, row in docs_pd.head(50).iterrows():
        t = row["text"]
        g = got[row["doc_id"]]
        assert g["n_chars"] == len(t)
        assert g["n_tokens"] == len(t.split())
        assert g["n_punct"] == len(re.sub(r"[^.!?,;:]", "", t))
        assert g["n_digits"] == len(re.sub(r"[^0-9]", "", t))
        assert g["n_upper"] == len(re.sub(r"[^A-Z]", "", t))
        assert g["n_stopwords"] == sum(1 for w in t.split() if w.lower() in stop)


def test_lang_id_markers(spark):
    rows = [
        (0, "the cat and the dog is here of course to stay"),
        (1, "der hund und die katze ist das beste"),
        (2, "le chat et la souris est dans les champs"),
        (3, "el perro y la gata es los mejores"),
        (4, "qwerty asdf zxcv"),
        (5, "这是 中文 文本"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["lang_pred"] for r in TX.lang_id(df, "text", "doc_id").collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "es", 4: "und", 5: "zh"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, " HELLO\tWORLD "), (3, "other")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["fp"] for r in TX.fingerprint(df, "text", "doc_id").collect()}
    assert got[0] == got[1] == got[2] != got[3]


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([(0, "don't stop, it's 2024!"), (1, "")], ["doc_id", "text"])
    got = {r["doc_id"]: r["n_subtokens"] for r in
           TX.bpe_ish_token_count(df, "text", "doc_id").collect()}
    # don | ' | t | stop | , | it | ' | s | 2024 | !
    assert got[0] == 10
    assert got[1] == 0


def test_token_marker_literal_matching(spark):
    """Markers with regex metacharacters must match literally."""
    from pandasschema_spark.operators.text import token_marker_count_expr
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("i code c++ and cpp daily uXsY u.s. ok",)], ["t"])
    out = df.select(
        token_marker_count_expr(F.col("t"), ["c++"]).alias("cpp"),
        token_marker_count_expr(F.col("t"), ["u.s."]).alias("us"),
    ).collect()[0]
    assert out["cpp"] == 1   # no PatternSyntaxException, literal match
    assert out["us"] == 1    # 'uXsY' must NOT match 'u.s.'


def test_word_ngrams_edge_cases(spark):
    """Regex-based shingling must keep the slice-based form's edge
    semantics: token-anchored overlapping trigrams; <n-token docs yield
    the whole normalized text as one shingle; empty text -> ['']; null
    text -> null (row dropped by explode)."""
    from pandasschema_spark.operators.dedup import word_ngrams_expr

    df = spark.createDataFrame(
        [(1, "The  quick Brown fox jumps"), (2, "one two"), (3, "   "),
         (4, None), (5, "ab ab ab ab")],
        "id int, text string")
    rows = {r["id"]: r["g"] for r in df.select(
        "id", word_ngrams_expr(F.col("text"), 3).alias("g")).collect()}
    assert rows[1] == ["the quick brown", "quick brown fox", "brown fox jumps"]
    assert rows[2] == ["one two"]
    assert rows[3] == [""]
    assert rows[4] is None
    assert rows[5] == ["ab ab ab"]  # array_distinct collapses repeats


def test_marker_count_literal_backslash_e(spark):
    """A marker containing the 2-char sequence \\E must not end the
    \\Q...\\E quote region early (Pattern.quote split-and-requote)."""
    from pandasschema_spark.operators.text import token_marker_count_expr

    df = spark.createDataFrame(
        [(1, r"ok a\eb ok .*"), (2, r"a\Eb nothing")], "id int, text string")
    out = {r["id"]: r["c"] for r in df.select(
        "id",
        token_marker_count_expr(F.col("text"), ["ok", "a\\Eb", ".*"]).alias("c"),
    ).collect()}
    # text is lowercased before matching: 'a\Eb' token never matches the
    # uppercase-E marker, '.*' matches only literally, and the quoting
    # must not throw or corrupt the alternation
    assert out[1] == 3  # two 'ok' + literal '.*'
    assert out[2] == 0


def test_train_ivf_centroids_recovers_planted_clusters(spark):
    """Spherical k-means must separate three well-separated planted
    directions: every member assigns to the same cell as its cluster
    mates, and the trained centroids plug into ivf_topk."""
    import numpy as np

    from pandasschema_spark.operators.similarity import (
        assign_probe_cells,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(11)
    dirs = np.eye(3)  # three orthogonal cluster directions in R^3
    rows = []
    vid = 0
    for c in range(3):
        for _ in range(40):
            v = dirs[c] + rng.normal(0, 0.05, 3)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, truth int")

    cents = train_ivf_centroids(df, k=3, n_iter=4)
    assert cents.count() == 3
    memb = assign_probe_cells(
        df.select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("query_vec")),
        cents, n_probe=1)
    got = {r["query_id"]: r["cell"] for r in memb.collect()}
    truth = {r["vec_id"]: r["truth"] for r in df.collect()}
    # cells are a relabeling of the planted clusters: grouping must match
    from collections import defaultdict

    groups = defaultdict(set)
    for vid2, cell in got.items():
        groups[cell].add(truth[vid2])
    assert all(len(tr) == 1 for tr in groups.values()), groups
    assert len(groups) == 3


def test_train_ivf_centroids_deterministic(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    from pandasschema_spark.operators.similarity import train_ivf_centroids

    c1 = train_ivf_centroids(emb, k=8, n_iter=2).collect()
    c2 = train_ivf_centroids(emb.repartition(7), k=8, n_iter=2).collect()
    m1 = {r["cell"]: r["cvec"] for r in c1}
    m2 = {r["cell"]: r["cvec"] for r in c2}
    assert set(m1) == set(m2)
    import numpy as np

    for cell in m1:
        assert np.allclose(m1[cell], m2[cell], atol=1e-6), cell


def test_train_ivf_centroids_seeds_past_a_null_vector(spark):
    """A NULL vector in the seeding sample has no cosine: it is neither a
    seed nor a member of any cell, and the others still train two cells."""
    import numpy as np

    from pandasschema_spark.operators.similarity import (
        assign_probe_cells,
        train_ivf_centroids,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0]), (4, None)],
        "vec_id long, embedding array<float>")
    cents = train_ivf_centroids(df, k=2, n_iter=2)
    vecs = np.array([r["cvec"] for r in cents.orderBy("cell").collect()])
    assert vecs.shape == (2, 2) and np.isfinite(vecs).all()
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-6)
    memb = {r["query_id"]: r["cell"] for r in assign_probe_cells(
        df.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")),
        cents, n_probe=1).collect()}
    assert set(memb) == {1, 2, 3}
    assert memb[1] == memb[2] != memb[3]


def test_cosine_topk_poison_pill_vectors(spark):
    """One rule for undefined cosines, across every vector kernel: a NULL
    vector, a NULL or NaN element, a zero norm, or a length that differs
    from the other side's (shorter or longer) has no cosine. The row is ABSENT — never a
    crash, a NULL or NaN score (NaN would rank FIRST under Spark's desc
    ordering), or an arbitrary cell — and embedding_norm_violations
    flags it instead, with norm2_micro NULL where no finite norm
    exists."""
    nan = float("nan")
    good = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]), (5, [0.5, 0.5, 0.0])]
    bad = [(2, [0.0, 0.0, 0.0]), (3, [1.0, None, 0.0]), (4, None),
           (6, [1.0, nan, 0.0]), (7, [1.0, 0.0]), (8, [1.0, 0.0, 0.0, 0.0])]
    corpus = spark.createDataFrame(good + bad, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (10, [0.0, 0.0, 0.0]), (11, [1.0, None, 0.0]),
         (12, None), (13, [nan, 1.0, 0.0]), (14, [1.0])],
        "query_id long, query_vec array<double>")
    null_queries = spark.createDataFrame(
        [(0, None), (1, None)], "query_id long, query_vec array<double>")
    # cell 2 has a zero norm: never anyone's probe
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 0.0])],
        "cell int, cvec array<double>")
    as_queries = corpus.select(F.col("vec_id").alias("query_id"),
                               F.col("embedding").alias("query_vec"))
    good_pairs = {(0, 1), (0, 5), (1, 5)}
    table = [
        ("cosine_topk", S.cosine_topk(corpus, queries, k=10), {(0, 1), (0, 5)}),
        ("cosine_topk, all-NULL queries",
         S.cosine_topk(corpus, null_queries, k=10), set()),
        ("near_dup_pairs", S.embedding_near_dup_pairs(corpus, threshold=0.5),
         good_pairs),
        ("near_dup_pairs, centroids", S.embedding_near_dup_pairs(
            corpus, threshold=0.5, centroids=cents, n_probe=2), good_pairs),
        ("assign_probe_cells", S.assign_probe_cells(as_queries, cents, n_probe=2),
         {(i, c) for i in (0, 1, 5) for c in (0, 1)}),
        ("ivf_topk", S.ivf_topk(corpus, queries, cents, k=10, n_probe=2),
         {(0, 1), (0, 5)}),
        ("ivf_topk, all-NULL queries",
         S.ivf_topk(corpus, null_queries, cents, k=10, n_probe=2), set()),
    ]
    for name, out, expected in table:
        rows = [tuple(r) for r in out.collect()]
        assert {r[:2] for r in rows} == expected and len(rows) == len(expected), (name, rows)
        if "cos" in out.columns:
            assert all(math.isfinite(r[2]) for r in rows), (name, rows)
    flagged = {r["id"]: (r["dim"], r["norm2_micro"]) for r in
               S.embedding_norm_violations(corpus, expected_dim=3,
                                           min_norm2_micro=1).collect()}
    assert flagged == {2: (3, 0), 3: (3, None), 4: (0, None), 6: (3, None),
                       7: (2, 1_000_000), 8: (4, 1_000_000)}


def test_assign_cells_argmax_no_window(spark):
    """assign_cells ties break to the SMALLEST cell and the plan is the
    house groupBy max(struct) — no Window (a row_number window would
    shuffle every scored copy of every embedding)."""
    cents = spark.createDataFrame(
        [(7, [1.0, 0.0]), (3, [1.0, 0.0]), (9, [0.0, 1.0])],
        "cell int, cvec array<double>")
    vecs = spark.createDataFrame(
        [(0, [2.0, 0.0]), (1, [0.0, 5.0])], "vec_id long, embedding array<double>")
    out = S.assign_cells(vecs, cents)
    assert {r["vec_id"]: r["cell"] for r in out.collect()} == {0: 3, 1: 9}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "partial_max" in plan
    with pytest.raises(ValueError, match="integral cell ids"):
        S.assign_cells(vecs, cents.select(F.col("cell").cast("string").alias("cell"), "cvec"))


def test_signature_impl_parity_on_unicode_ws_and_null(spark):
    """Signatures equal the hashlib closed form over the grams Spark's
    word_ngrams_expr emits, even on non-ASCII whitespace (Java \\s is
    ASCII-only; Python str.split() is Unicode-aware — the kernels' mirror
    must use the ASCII class) and on NULL text (minhash [NULL]*k,
    simhash 0)."""
    from pandasschema_spark.operators.dedup import (
        minhash_signatures, simhash64, simhash_candidates)

    rows = [(0, "foo\u00a0bar baz qux extra words here"),
            (1, "plain ascii words only right here"),
            (2, None), (3, ""), (4, "\u2028line\u2028sep tokens a b c")]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    grams = _spark_grams(df, "body", "doc_id")
    assert "foo\u00a0bar baz qux" in grams[0]  # NBSP does not split
    mh = {r["id"]: r["sig"] for r in
          minhash_signatures(df, "body", "doc_id").collect()}
    sh = {r["id"]: r["simhash"] for r in
          simhash64(df, "body", "doc_id").collect()}
    assert mh == {i: _minhash(g) for i, g in grams.items()}
    assert sh == {i: _simhash(g) for i, g in grams.items()}
    assert mh[2] == [None] * 16 and sh[2] == 0
    with pytest.raises(ValueError, match="divide 64"):
        simhash_candidates(df, "body", "doc_id", chunk_bits=24)


def test_pii_scan_reserved_name(spark):
    from pandasschema_spark.operators.text import pii_scan

    df = spark.createDataFrame([(1, "x")], "doc_id long, body string")
    with pytest.raises(ValueError, match="reserved"):
        pii_scan(df, "body", "doc_id", patterns={"pii": "x"})


def test_point_in_interval_join_exact_past_2_53(spark):
    """Band indices must stay exact past 2^53 (double division loses the
    low bits of an exact multiple and shifts a boundary point one band
    low, silently missing its interval)."""
    from pandasschema_spark.operators.joins import point_in_interval_join

    t0 = (1 << 60)  # not representable as double +- small offsets
    points = spark.createDataFrame(
        [(1, t0), (1, t0 + 999), (1, t0 + 1000)], "key long, ts long")
    ivals = spark.createDataFrame(
        [(1, t0, t0 + 1000, "iv0"), (1, t0 + 1000, t0 + 2000, "iv1")],
        "key long, start_ts long, end_ts long, name string")
    got = sorted((r["ts"] - t0, r["name"]) for r in point_in_interval_join(
        points, ivals, on="key", point_ts="ts",
        start_ts="start_ts", end_ts="end_ts", band=1000).collect())
    assert got == [(0, "iv0"), (999, "iv0"), (1000, "iv1")]
