"""Tests for the training-data corpus operators (dedup, textstats,
similarity)."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from beats_spark.corpus import dedup, similarity, textstats
from beats_spark.corpus.hashing import h32, shingles, word_tokens
from tests.conftest import rows


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# -- hashing -----------------------------------------------------------------


def test_h32_matches_python_md5(spark):
    df = spark.createDataFrame([("hello world",)], "s string")
    got = df.select(h32(F.col("s"), seed="7").alias("h")).collect()[0]["h"]
    expect = int(hashlib.md5(b"7:hello world").hexdigest()[:8], 16)
    assert got == expect


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d e",), ("a b",), ("",)], "t string")
    out = [r[0] for r in df.select(shingles(word_tokens(F.col("t")), 3)).collect()]
    assert out[0] == ["a b c", "b c d", "c d e"]
    assert out[1] == []
    # empty string splits to [''] → fewer than k tokens → empty
    assert out[2] == []


# -- textstats ---------------------------------------------------------------


def test_text_stats_counts(spark):
    df = _docs(spark, ["the cat sat on the mat 42 times!"])
    r = textstats.text_stats(df).collect()[0]
    assert r["n_words"] == 8
    assert r["n_stopwords"] == 2  # the, the ("on" is not in the list)
    assert r["n_digit"] == 2
    assert r["word_chars"] == 25
    # BPE-ish: the,cat,sat,on,the,mat,42,times,! → 9
    assert r["n_bpe_tokens"] == 9


def test_lang_id_markers(spark):
    df = _docs(
        spark,
        [
            "the cat and the dog of winter",
            "der hund und die katze ist gut",
            "le chat est dans la maison avec moi",
            "xyzzy plugh",
        ],
    )
    got = dict(rows(textstats.lang_id(df), "doc_id", "predicted_lang"))
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "fr"
    assert got[3] == "und"


def test_doc_fingerprint_normalizes(spark):
    df = _docs(spark, ["Hello   World", "hello world", "different"])
    fps = [r[1] for r in rows(textstats.doc_fingerprint(df), "doc_id", "fp")]
    assert fps[0] == fps[1] != fps[2]


def test_simhash_similar_docs_close(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated words about spark shuffles and broadcast joins"
    df = _docs(spark, [base, near, far])
    s = {r[0]: r[1] for r in rows(textstats.simhash(df), "doc_id", "simhash")}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(s[0], s[1]) < ham(s[0], s[2])
    assert ham(s[0], s[1]) <= 10


# -- dedup -------------------------------------------------------------------


def test_exact_dedup(spark):
    df = _docs(spark, ["aa bb", "aa bb", "cc dd", "aa bb"])
    got = rows(dedup.exact_dedup(df, ["text"], "doc_id"), "canonical_id", "n_copies")
    assert got == [(0, 3), (2, 1)]


NEAR_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
NEAR_B = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
FAR = "one two three four five six seven eight nine ten eleven twelve"


def test_minhash_neardup_finds_near_pair(spark):
    df = _docs(spark, [NEAR_A, NEAR_B, FAR])
    got = rows(dedup.minhash_neardup_pairs(df), "doc_a", "doc_b", "sig_matches")
    assert len(got) == 1
    a, b, m = got[0]
    assert (a, b) == (0, 1)
    assert m >= 8  # ~90% shingle overlap → high signature agreement


def test_ngram_jaccard_exact(spark):
    df = _docs(spark, [NEAR_A, NEAR_B, FAR])
    got = rows(dedup.ngram_jaccard_pairs(df), "doc_a", "doc_b", "n_inter", "n_union")
    assert len(got) == 1
    a, b, inter, union = got[0]
    # 12 tokens → 10 shingles each; only the final shingle contains the
    # differing last token → 9 shared, union 11
    assert (a, b) == (0, 1)
    assert inter == 9 and union == 11


def test_simhash_neardup_pairs(spark):
    df = _docs(spark, [NEAR_A, NEAR_B, FAR])
    got = rows(
        dedup.simhash_neardup_pairs(df, max_hamming=10), "doc_a", "doc_b", "hamming"
    )
    assert (0, 1) in {(a, b) for a, b, _ in got}


# -- similarity --------------------------------------------------------------


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_topk_exact(spark):
    df = _emb(spark, [[1, 0], [0.9, 0.1], [0, 1]])
    top = {r[0]: (r[1], r[2]) for r in rows(similarity.cosine_topk(df, k=1), "vec_id", "nid", "cos")}
    assert top[0][0] == 1
    assert top[1][0] == 0
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(top[0][1] - expected) < 1e-6


def test_embedding_neardup_threshold(spark):
    df = _emb(spark, [[1, 0], [1, 0.01], [0, 1]])
    got = rows(similarity.embedding_neardup_pairs(df, 0.99), "vec_a", "vec_b")
    assert got == [(0, 1)]


def test_ann_lsh_same_bucket_for_identical(spark):
    df = _emb(spark, [[1.0] * 8, [1.0] * 8, [-1.0] * 8])
    out = rows(similarity.ann_lsh_topk(df, k=1, n_planes=4, dim=8), "vec_id", "nid")
    got = dict(out)
    # identical vectors share every hyperplane sign → same bucket
    assert got.get(0) == 1 and got.get(1) == 0


def test_ann_ivf_identical_vectors_share_cell(spark):
    df = _emb(spark, [[1.0] * 8, [1.0] * 8, [-1.0] * 8])
    out = rows(similarity.ann_ivf_topk(df, k=1, n_cells=4, dim=8), "vec_id", "nid")
    got = dict(out)
    # identical vectors have identical centroid distances → same cell,
    # and each is the other's nearest (cosine 1.0)
    assert got.get(0) == 1 and got.get(1) == 0


def test_ivf_cell_is_argmin_with_low_index_ties(spark):
    cents = similarity.ivf_centroids(4, 2)
    df = spark.createDataFrame([([float(cents[2][0]), float(cents[2][1])],)],
                               "v array<double>")
    cell = df.select(similarity.ivf_cell(F.col("v"), cents).alias("c")).first()["c"]
    assert cell == 2  # a vector AT centroid 2 lands in cell 2


def test_ivf_pandas_assignment_matches_expr(spark):
    """The GEMM argmin (default) must assign every vector to the same
    cell as the literal-fold JVM expression."""
    import numpy as _np

    vecs = [[float(_np.cos(i * 0.7 + d)) for d in range(8)] for i in range(50)]
    df = _emb(spark, vecs)
    a = rows(similarity.ann_ivf_topk(df, k=1, n_cells=16, dim=8, assign="pandas"),
             "vec_id", "nid", "rank")
    b = rows(similarity.ann_ivf_topk(df, k=1, n_cells=16, dim=8, assign="expr"),
             "vec_id", "nid", "rank")
    assert a == b


def test_ann_ivf_requires_dim(spark):
    df = _emb(spark, [[1.0, 0.0]])
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_ivf_topk(df, k=1)
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_lsh_topk(df, k=1)


def test_blocked_topk_matches_crossjoin(spark):
    """Blocked GEMM exact top-k = cross-join exact top-k, row for row
    (ids, cos doubles, ranks)."""
    import numpy as _np

    vecs = [[float(_np.sin(i * 1.3 + d * 0.5)) for d in range(6)] for i in range(40)]
    df = _emb(spark, vecs)
    cols = ("vec_id", "nid", "cos", "rank")
    want = sorted(rows(similarity.cosine_topk(df, k=3), *cols))
    got = sorted(rows(similarity.cosine_topk_blocked(df, k=3, n_blocks=4), *cols))
    assert got == want


def test_blocked_neardup_matches_crossjoin(spark):
    import numpy as _np

    vecs = [[float(_np.sin(i * 0.9 + d)) for d in range(6)] for i in range(30)]
    vecs[7] = [v * 1.001 for v in vecs[3]]  # a guaranteed near-dup pair
    df = _emb(spark, vecs)
    cols = ("vec_a", "vec_b", "cos")
    want = sorted(rows(similarity.embedding_neardup_pairs(df, 0.8), *cols))
    got = sorted(rows(similarity.embedding_neardup_blocked(df, 0.8, n_blocks=4), *cols))
    assert got == want and len(want) > 0


def test_lang_id_pluggable_scorer(spark):
    """A model drops into the LangScorer interface; the engine runs it
    Arrow-batched and the default heuristic is untouched."""
    import pandas as pd

    from beats_spark.corpus.textstats import LangScorer, lang_id

    class FakeModel(LangScorer):
        def predict(self, texts: pd.Series) -> pd.Series:
            return texts.map(lambda t: "xx" if t and "zz" in t else "en")

    df = spark.createDataFrame([(1, "hello zz world"), (2, "plain text")],
                               "doc_id long, text string")
    got = dict(rows(lang_id(df, scorer=FakeModel()), "doc_id", "predicted_lang"))
    assert got == {1: "xx", 2: "en"}
    # default path unaffected
    base = dict(rows(lang_id(df), "doc_id", "predicted_lang"))
    assert set(base.values()) <= {"en", "de", "fr", "es", "zh", "und"}


def test_ivf_full_probe_equals_exact(spark):
    """nprobe == n_cells degenerates to exact brute force: every query
    probes every cell, so the result must equal cosine_topk row for row."""
    import numpy as _np

    vecs = [[float(_np.cos(i * 0.9 + d * 0.3)) for d in range(6)] for i in range(30)]
    df = _emb(spark, vecs)
    cols = ("vec_id", "nid", "cos", "rank")
    want = sorted(rows(similarity.cosine_topk(df, k=2), *cols))
    got = sorted(rows(
        similarity.ann_ivf_topk(df, k=2, n_cells=5, dim=6, nprobe=5), *cols))
    assert got == want


def test_ivf_nprobe_improves_recall(spark):
    """Recall(nprobe=3) >= recall(nprobe=1) against the exact answer,
    and multi-probe candidates are a superset per query."""
    import numpy as _np

    vecs = [[float(_np.sin(i * 1.7 + d * 0.4)) for d in range(8)] for i in range(60)]
    df = _emb(spark, vecs)
    exact = dict(rows(similarity.cosine_topk(df, k=1), "vec_id", "nid"))

    def recall(nprobe):
        got = dict(rows(similarity.ann_ivf_topk(df, k=1, n_cells=12, dim=8,
                                                nprobe=nprobe), "vec_id", "nid"))
        hit = sum(1 for v, n in exact.items() if got.get(v) == n)
        return hit / len(exact)

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 > 0.5  # 3 of 12 cells probed finds most true neighbors


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= w + k - 1 share at least one fingerprint; identical docs share
    all of them; short docs still emit one fingerprint."""
    shared = "the quick brown fox jumps over the lazy dog"
    docs = _docs(spark, [
        f"AAAA {shared} BBBB",
        f"CCCCCCC {shared} DDDD",
        "completely different words here entirely",
        f"AAAA {shared} BBBB",  # exact dup of doc 0
        "tinydoc",               # >= k chars but fewer than one full window
        "abc",                   # shorter than k: no fingerprints
    ])
    fps = {r["doc_id"]: set(r["fps"])
           for r in textstats.winnow_fingerprints(docs, k=5, w=4).collect()}
    assert fps[0] & fps[1], "shared substring must yield a shared fingerprint"
    assert fps[0] == fps[3], "identical docs share all fingerprints"
    assert len(fps[4]) == 1, "short doc emits its single minimum"
    assert fps[5] == set(), "sub-k doc has no fingerprints (empty, not null)"
    assert not (fps[2] & fps[0]) or len(fps[2] & fps[0]) < 3


def test_winnow_neardup_pairs_finds_dups(spark):
    docs = _docs(spark, [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta iota",
        "one two three four five six seven eight nine",
    ])
    got = rows(textstats.winnow_neardup_pairs(docs, k=5, w=4, min_shared=3),
               "doc_a", "doc_b", "shared_fps")
    pairs = {(a, b) for a, b, _ in got}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_neardup_resolve_transitive_chain(spark):
    """A~B~C with A!~C must still land in ONE cluster (transitivity via
    connected components), D~E a second cluster, F a singleton."""
    from beats_spark.corpus.dedup import neardup_resolve

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    docs = spark.createDataFrame(
        [(1,), (2,), (3,), (10,), (11,), (99,)], "doc_id long"
    )
    got = {r["doc_id"]: r["canonical_id"]
           for r in neardup_resolve(pairs, docs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_neardup_resolve_long_path_and_order(spark):
    """Hash-min needs diameter rounds: a 7-node path given in the worst
    label order still converges; pairs-only mode returns graph nodes."""
    from beats_spark.corpus.dedup import neardup_resolve

    # path 7-6-5-4-3-2-1: min label (1) must travel 6 hops
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["canonical_id"]
           for r in neardup_resolve(pairs).collect()}
    assert got == {i: 1 for i in range(1, 8)}


def test_neardup_resolve_max_iter_raises(spark):
    from beats_spark.corpus.dedup import neardup_resolve
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 7)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="converge"):
        neardup_resolve(pairs, max_iter=2)


def test_neardup_survivors_keep_one(spark):
    from beats_spark.corpus.dedup import neardup_survivors

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    surv = sorted(r["doc_id"] for r in neardup_survivors(docs, pairs).collect())
    assert surv == [1, 10, 99]


def test_cosine_topk_auto_gate_delegates_to_blocked(spark):
    """mode='auto' above the small-n gate must produce exactly the
    cross-join rows (blocked GEMM is identical by construction) and
    must not have a cartesian product in the plan."""
    from beats_spark.corpus.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = sorted(map(tuple, cosine_topk(emb, k=2, mode="crossjoin").collect()))
    auto = cosine_topk(emb, k=2, mode="auto", small_n=10)  # force blocked
    got = sorted(map(tuple, auto.collect()))
    assert got == want
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_cosine_topk_gate_is_lazy_with_hint_and_streaming(spark):
    """approx_count skips the eager count() at plan build; a streaming
    frame (uncountable) goes blocked unconditionally instead of
    raising."""
    from beats_spark.corpus.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def boom():
        raise AssertionError("gate must not call count() when hinted")

    emb.count = boom  # instance-level trip-wire
    want = sorted(map(tuple, cosine_topk(emb, k=2, mode="crossjoin").collect()))
    hinted = cosine_topk(emb, k=2, mode="auto", small_n=10, approx_count=50)
    assert sorted(map(tuple, hinted.collect())) == want  # blocked, no count
    tiny = cosine_topk(emb, k=2, mode="auto", small_n=10_000, approx_count=50)
    assert sorted(map(tuple, tiny.collect())) == want  # crossjoin, no count

    stream = (
        spark.readStream.format("rate").load()
        .selectExpr("value AS vec_id", "array(1.0, 2.0) AS embedding")
    )
    plan = cosine_topk(stream, k=1, mode="auto")  # must not count()
    assert plan.isStreaming


def test_embedding_neardup_auto_gate(spark):
    """mode='auto' above the small-n gate delegates near-dup pair
    finding to the blocked path with crossjoin-identical results."""
    from beats_spark.corpus.similarity import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = sorted(map(tuple, embedding_neardup_pairs(
        emb, threshold=0.45, mode="crossjoin").collect()))
    got = sorted(map(tuple, embedding_neardup_pairs(
        emb, threshold=0.45, mode="auto", small_n=10).collect()))
    assert got == want


def _clustered_vectors(spark, n=300, ncl=8, dim=16, noise=0.25, seed=42):
    """Seeded clustered unit vectors: ncl random unit centers, each
    vector = center + gaussian noise, L2-normalized (so L2 order ==
    cosine order — the PQ ADC metric and the cosine ground truth
    agree). Deterministic: the recall numbers below are exact."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(ncl, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    V = np.stack(
        [centers[i % ncl] + rng.normal(scale=noise, size=dim) for i in range(n)]
    )
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    return spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()


def _recall_at_k(exact: dict, res) -> float:
    got: dict = {}
    for r in res.collect():
        got.setdefault(r["vec_id"], set()).add(r["nid"])
    return sum(
        len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact
    ) / len(exact)


def test_ann_ivf_recall_bounds_and_monotone_nprobe(spark):
    """Index QUALITY gate (not just determinism): on clustered data
    the IVF index must find ≥0.9 of the true top-10 at nprobe=3,
    recall must be monotone in nprobe (more probes → candidate
    superset → never worse), and full probe degenerates to exact.
    Trained centroids (k-means on a bounded sample) must beat the md5
    placeholders at the same nprobe. Measured values in SCALE.md."""
    from beats_spark.corpus import similarity as S

    df = _clustered_vectors(spark)
    k = 10
    exact: dict = {}
    for r in S.cosine_topk(df, k=k, mode="crossjoin").collect():
        exact.setdefault(r["vec_id"], set()).add(r["nid"])

    rec = {
        np_: _recall_at_k(
            exact, S.ann_ivf_topk(df, k=k, n_cells=8, dim=16, nprobe=np_)
        )
        for np_ in (1, 3, 8)
    }
    assert rec[3] >= 0.9, rec
    assert rec[1] <= rec[3] <= rec[8], rec
    assert rec[8] == 1.0, rec  # nprobe == n_cells → exact brute force

    trained = S.ivf_train_centroids(df, n_cells=8, dim=16, sample_n=300)
    rec_tr = _recall_at_k(
        exact,
        S.ann_ivf_topk(df, k=k, n_cells=8, dim=16, nprobe=1, centroids=trained),
    )
    assert rec_tr > rec[1], (rec_tr, rec[1])  # training earns its keep
    assert rec_tr >= 0.7, rec_tr


def test_ann_ivf_pq_trained_rerank_recall(spark):
    """IVF-PQ quality gate: md5-placeholder codebooks are oracle
    fixtures, not an index (pure-ADC recall ~0.26); TRAINED codebooks
    + the FAISS-style exact re-rank of the ADC top-4k must reach ≥0.9
    recall@10 at nprobe=3 (≥0.8 is the verdict bound; measured 0.954).
    Trained ADC must also beat untrained ADC standalone."""
    from beats_spark.corpus import similarity as S

    df = _clustered_vectors(spark)
    k = 10
    exact: dict = {}
    for r in S.cosine_topk(df, k=k, mode="crossjoin").collect():
        exact.setdefault(r["vec_id"], set()).add(r["nid"])

    cb = S.pq_train_codebooks(df, m=4, ksub=16, dim=16, sample_n=300)
    cents = S.ivf_train_centroids(df, n_cells=8, dim=16, sample_n=300)
    kw = dict(k=k, n_cells=8, m=4, ksub=16, dim=16, nprobe=3)
    adc_md5 = _recall_at_k(exact, S.ann_ivf_pq_topk(df, **kw))
    adc_tr = _recall_at_k(
        exact, S.ann_ivf_pq_topk(df, **kw, codebooks=cb, centroids=cents)
    )
    refined = _recall_at_k(
        exact,
        S.ann_ivf_pq_topk(df, **kw, codebooks=cb, centroids=cents, rerank=4),
    )
    assert adc_tr > adc_md5, (adc_tr, adc_md5)
    assert refined >= 0.9, refined
    # refine output carries exact cosine, ranked (vec_id, nid, cos, rank)
    cols = S.ann_ivf_pq_topk(
        df, **kw, codebooks=cb, centroids=cents, rerank=4
    ).columns
    assert cols == ["vec_id", "nid", "cos", "rank"]


def test_minhash_hot_bucket_cap_bounds_pairs(spark):
    """A boilerplate-heavy corpus: 40 identical docs share every band
    bucket -> 40*39/2 = 780 candidate pairs uncapped. max_bucket below
    40 skips those buckets entirely (whole-bucket cut, no silent
    partial sampling) while distinct small groups are untouched."""
    from beats_spark.corpus.dedup import minhash_neardup_pairs

    boiler = [(i, "the same boilerplate header text repeated verbatim here")
              for i in range(40)]
    pair = [(100, "alpha beta gamma delta epsilon zeta eta theta"),
            (101, "alpha beta gamma delta epsilon zeta eta iota")]
    docs = spark.createDataFrame(boiler + pair, "doc_id long, text string")

    uncapped = minhash_neardup_pairs(docs).count()
    assert uncapped >= 780
    capped = minhash_neardup_pairs(docs, max_bucket=10)
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert all(a >= 100 for a, _ in got)  # boilerplate pairs gone
    assert (100, 101) in got  # small groups untouched


def test_simhash_hot_bucket_cap(spark):
    from beats_spark.corpus.dedup import simhash_neardup_pairs

    boiler = [(i, "identical boilerplate words all over this text block")
              for i in range(30)]
    docs = spark.createDataFrame(boiler, "doc_id long, text string")
    assert simhash_neardup_pairs(docs).count() == 30 * 29 // 2
    assert simhash_neardup_pairs(docs, max_bucket=5).count() == 0


def test_quality_filters_rule_by_rule(spark):
    """One crafted doc per rule: fails exactly that rule (plus any rule
    it necessarily implicates), a clean doc passes everything."""
    from beats_spark.corpus.textstats import quality_filters

    base = ("the quick brown fox jumps over a lazy dog and then it runs "
            "far away to find some food for its hungry family members "
            "while birds sing in that old tree near this quiet river "
            "bank just before sunset light fades out over these hills "
            "and the evening wind carries distant voices from town")
    docs = [
        (1, base),                                     # clean: passes
        (2, "too few words here"),                     # word count
        (3, " ".join(["a"] * 60)),                     # mean word len low
        (4, base + " " + "#" * 1 + " #### ### ## # ... ... ... ..."),  # symbols
        (5, "\n".join(["- bullet line the a of and to in is it that for"] * 10)),  # bullets
        (6, "\n".join([f"the line number {i} trails off..." for i in range(10)])),  # ellipsis lines
        (7, " ".join(["12345"] * 30) + " the a of and to in is it"),   # alpha words
        (8, " ".join([f"w{i}" for i in range(60)])),   # no stopwords
        (9, "the a " + " ".join(["spam eggs"] * 40)),  # dup 2-grams
        # Gopher repetition rules: >30% duplicate lines (distinct words
        # so 2-gram rule stays clear), >30% duplicate paragraphs, >20%
        # of chars inside duplicate lines / paragraphs
        (10, "\n".join(f"the w{i} a{i} b{i} c{i} d{i}" for i in range(4))
         + "\n" + "\n".join(["it was of and to in is on at"] * 4)),
        (11, "\n\n".join(f"the w{i} a{i} b{i} c{i} d{i}" for i in range(4))
         + "\n\n" + "\n\n".join(["it was of and to in is on at"] * 4)),
        (12, "\n".join(f"the w{i}" for i in range(20)) + "\n"
         + "\n".join(["it was of and to in is on at this very long repeated line"] * 3)),
        (13, "\n\n".join(f"the w{i}" for i in range(20)) + "\n\n"
         + "\n\n".join(["it was of and to in is on at this very long repeated paragraph"] * 3)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_filters(df).collect()}

    assert out[1]["passes_quality"]
    assert not out[2]["f_word_count"]
    assert not out[3]["f_mean_word_len"]
    assert not out[4]["f_symbol_ratio"]
    assert not out[5]["f_bullet_lines"]
    assert not out[6]["f_ellipsis_lines"]
    assert not out[7]["f_alpha_words"]
    assert not out[8]["f_stopwords"]
    assert not out[9]["f_dup_2grams"]
    assert not out[10]["f_dup_lines"]
    assert out[10]["f_dup_paras"]
    assert not out[11]["f_dup_paras"]
    assert not out[12]["f_dup_line_chars"]
    assert not out[13]["f_dup_para_chars"]
    for i in range(2, 14):
        assert not out[i]["passes_quality"], i


def test_quality_filters_metrics(spark):
    from beats_spark.corpus.textstats import quality_filters

    df = spark.createDataFrame(
        [(1, "- one...\n* two\nthe end...")], "doc_id long, text string")
    r = quality_filters(df).collect()[0]
    assert r["n_lines"] == 3
    assert r["n_bullet_lines"] == 2
    assert r["n_ellipsis_lines"] == 2
    assert r["n_symbol_marks"] == 2  # two '...' runs, no '#'


# -- token-sequence operators --------------------------------------------------


def test_pack_sequences_layout(spark):
    """Concat-then-chunk: sequence k holds exactly stream positions
    [k*max_len, (k+1)*max_len); docs straddle boundaries; only the tail
    sequence is short."""
    from beats_spark.corpus.tokens import pack_sequences

    docs = spark.createDataFrame(
        [(1, list(range(0, 5))), (2, list(range(10, 17))), (3, list(range(20, 24)))],
        "doc_id long, tokens array<int>",
    )
    out = {r["seq_no"]: r for r in pack_sequences(docs, max_len=6).collect()}
    # stream = 0..4, 10..16, 20..23 → 16 tokens → seqs of 6, 6, 4
    assert out[0]["tokens"] == [0, 1, 2, 3, 4, 10]
    assert out[1]["tokens"] == [11, 12, 13, 14, 15, 16]
    assert out[2]["tokens"] == [20, 21, 22, 23]
    assert [out[k]["n_tok"] for k in (0, 1, 2)] == [6, 6, 4]


def test_pack_sequences_exploded_matches_arrays(spark):
    from beats_spark.corpus.tokens import pack_sequences, tokenize_ids

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    t = tokenize_ids(docs)
    arrays = pack_sequences(t, max_len=64, emit="arrays")
    exploded = pack_sequences(t, max_len=64, emit="exploded")
    n_arr = arrays.selectExpr("sum(n_tok) AS s").first()["s"]
    assert exploded.count() == n_arr
    one = arrays.filter(F.col("seq_no") == 0).first()["tokens"]
    flat = [r["token_id"] for r in
            exploded.filter(F.col("seq_no") == 0)
            .orderBy("pos_in_seq").collect()]
    assert flat == one


def test_split_assign_deterministic_proportions(spark):
    from beats_spark.corpus.tokens import split_assign

    docs = spark.range(0, 10000).withColumnRenamed("id", "doc_id")
    out = split_assign(docs)
    got = {r["split"]: r["n"] for r in
           out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(got["train"] - 9000) < 300
    assert abs(got["val"] - 500) < 150
    assert abs(got["test"] - 500) < 150
    # deterministic: same ids → same assignment on re-run
    a = {r["doc_id"]: r["split"] for r in out.limit(50).collect()}
    b = {r["doc_id"]: r["split"] for r in split_assign(docs).limit(50).collect()}
    assert all(b[k] == v for k, v in a.items())


def test_vocab_histogram_and_bigrams(spark):
    from beats_spark.corpus.tokens import token_bigrams, vocab_histogram

    docs = spark.createDataFrame(
        [(1, [7, 8, 7, 8]), (2, [7, 9])], "doc_id long, tokens array<int>")
    hist = {r["token_id"]: r["n"] for r in vocab_histogram(docs).collect()}
    assert hist == {7: 3, 8: 2, 9: 1}
    bi = {(r["t1"], r["t2"]): r["n"] for r in token_bigrams(docs).collect()}
    assert bi == {(7, 8): 2, (8, 7): 1, (7, 9): 1}


# -- corpus cleaning -------------------------------------------------------------


def test_pii_redact(spark):
    from beats_spark.corpus.cleaning import pii_redact

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.io or 192.168.0.1 call +1 (415) 555-0199 ssn 123-45-6789"),
         (2, "no pii here just words")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_redact(df).collect()}
    r = out[1]
    assert "<EMAIL>" in r["text"] and "<IP>" in r["text"]
    assert "<PHONE>" in r["text"] and "<SSN>" in r["text"]
    assert "@" not in r["text"] and "192.168" not in r["text"]
    assert r["email_redactions"] == 1 and r["ipv4_redactions"] == 1
    assert r["ssn_redactions"] == 1
    r2 = out[2]
    assert r2["text"] == "no pii here just words"
    assert r2["email_redactions"] == 0


def test_line_dedup_removes_boilerplate(spark):
    from beats_spark.corpus.cleaning import line_dedup

    docs = spark.createDataFrame(
        [(i, f"unique body line {i}\ncopyright footer boilerplate\nshort")
         for i in range(5)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in line_dedup(docs).collect()}
    for i in range(5):
        assert out[i] == f"unique body line {i}\nshort"  # footer gone,
        # 'short' (< 8 chars) exempt even though shared


def test_temperature_mix_flattens_shares(spark):
    """α-temperature mixing: α=0.5 lifts the low-resource source's
    output share above its natural share (and caps rates at 1.0);
    α=1.0 reproduces natural proportions (every rate == target_frac);
    the kept rows are a deterministic id-hash subset (rerun-stable)."""
    from beats_spark.corpus.tokens import temperature_mix, temperature_rates

    rows = [(i, "big", 100) for i in range(900)] + [
        (900 + i, "small", 100) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")

    r = {x["source"]: x for x in
         temperature_rates(df, alpha=0.5, target_frac=0.5).collect()}
    assert r["small"]["share_natural"] == 0.1
    assert r["small"]["share_target"] > 0.2  # sqrt flattening lifts it
    assert r["big"]["share_target"] < 0.8
    assert r["small"]["rate_ppm"] == 1_000_000  # capped at keep-everything
    assert 0 < r["big"]["rate_ppm"] < 500_000

    r1 = {x["source"]: x["rate_ppm"] for x in
          temperature_rates(df, alpha=1.0, target_frac=0.5).collect()}
    assert r1 == {"big": 500_000, "small": 500_000}  # natural proportions

    kept_a = sorted(x["doc_id"] for x in
                    temperature_mix(df, alpha=0.5, target_frac=0.5).collect())
    kept_b = sorted(x["doc_id"] for x in
                    temperature_mix(df, alpha=0.5, target_frac=0.5).collect())
    assert kept_a == kept_b and 0 < len(kept_a) < 1000
    small_kept = sum(1 for i in kept_a if i >= 900)
    assert small_kept == 100  # rate 1.0 → all small-source docs survive


def test_fim_transform_preserves_tokens_and_layout(spark):
    """FIM (arXiv:2207.14255): applied rows re-emit as
    [PRE] prefix [SUF] suffix [MID] middle — stripping sentinels and
    undoing the rotation must recover the ORIGINAL token sequence
    exactly; non-applied rows stay byte-identical; the apply decision
    and cut points are id-hash deterministic (partition-layout
    independent)."""
    from beats_spark.corpus.tokens import fim_transform

    vocab = 100
    rows = [(i, [(i * 7 + j) % vocab for j in range(3 + i % 9)])
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    orig = dict(rows)
    out = {r["doc_id"]: r for r in
           fim_transform(df, rate=0.5, vocab=vocab).collect()}
    pre, suf, mid = vocab, vocab + 1, vocab + 2
    n_applied = 0
    for i, t in orig.items():
        r = out[i]
        if not r["fim_applied"]:
            assert r["tokens"] == t and r["n_tok"] == len(t)
            continue
        n_applied += 1
        got = r["tokens"]
        assert r["n_tok"] == len(t) + 3
        assert got[0] == pre
        si, mi = got.index(suf), got.index(mid)
        prefix, suffix, middle = got[1:si], got[si + 1:mi], got[mi + 1:]
        assert prefix + middle + suffix == t  # reconstruction exact
    assert 0 < n_applied < 200  # rate=0.5 hits a real subset
    # short docs (< min_len) never transform
    assert all(not out[i]["fim_applied"] for i in orig if len(orig[i]) < 4)
    # layout independence
    again = {r["doc_id"]: r["tokens"] for r in
             fim_transform(df.repartition(17), rate=0.5, vocab=vocab).collect()}
    assert all(again[i] == out[i]["tokens"] for i in orig)
    # SPM mode: [PRE][SUF] suffix [MID] prefix middle — same multiset
    spm = {r["doc_id"]: r for r in
           fim_transform(df, rate=1.0, mode="spm", vocab=vocab).collect()}
    for i, t in orig.items():
        r = spm[i]
        if not r["fim_applied"]:
            continue
        got = r["tokens"]
        assert got[0] == pre and got[1] == suf
        mi = got.index(mid)
        suffix, rest = got[2:mi], got[mi + 1:]
        assert rest + suffix == t


def test_line_dedup_keeps_fully_boilerplate_doc_row(spark):
    """A doc made entirely of boilerplate must not vanish — it keeps
    its row with text='' (one-row-per-doc contract, same as
    _cut_spans / line_dedup_within)."""
    from beats_spark.corpus.cleaning import line_dedup

    docs = spark.createDataFrame(
        [(1, "copyright footer boilerplate"),
         (2, "copyright footer boilerplate"),
         (3, "a unique surviving line\ncopyright footer boilerplate")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in line_dedup(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] == "" and out[2] == ""
    assert out[3] == "a unique surviving line"


def test_decontaminate_flags_overlap(spark):
    from beats_spark.corpus.cleaning import decontaminate

    span = " ".join(f"w{i}" for i in range(13))
    docs = spark.createDataFrame(
        [(1, span + " trailing body words here"),
         (2, "completely different text with plenty of words to go around town")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(span + " eval continuation",)], "text string")
    got = {r["doc_id"]: r for r in decontaminate(docs, bench, n=13).collect()}
    assert got[1]["contaminated"] and got[1]["n_shared_ngrams"] >= 1
    assert not got[2]["contaminated"] and got[2]["n_shared_ngrams"] == 0


def test_hash_sample_deterministic_and_proportional(spark):
    from beats_spark.corpus.tokens import hash_sample

    docs = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    s = hash_sample(docs, 0.25)
    n = s.count()
    assert abs(n - 5000) < 400
    assert s.count() == n  # deterministic across actions
    # subset property: lower rate yields a subset of higher rate
    low = {r["doc_id"] for r in hash_sample(docs, 0.1).collect()}
    high = {r["doc_id"] for r in hash_sample(docs, 0.25).collect()}
    assert low <= high


def test_mix_sources_weights(spark):
    from beats_spark.corpus.tokens import mix_sources

    docs = spark.createDataFrame(
        [(i, "web" if i % 2 == 0 else ("code" if i % 4 == 1 else "books"))
         for i in range(12000)],
        "doc_id long, source string",
    )
    out = mix_sources(docs, {"web": 0.5, "code": 1.0})
    got = {r["source"]: r["n"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert "books" not in got          # unlisted → dropped
    assert got["code"] == 3000         # rate 1.0 keeps all
    assert abs(got["web"] - 3000) < 300  # half of 6000


def test_pack_sequences_distributed_matches_naive(spark):
    """The range-partitioned prefix-sum path must be byte-identical to
    the single-partition global window at any parallelism."""
    from beats_spark.corpus.tokens import pack_sequences, tokenize_ids

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(3 + i % 11)))
         for i in range(200)],
        "doc_id long, text string",
    ).repartition(7)
    t = tokenize_ids(docs)
    naive = pack_sequences(t, max_len=17, distributed=False).collect()
    dist = pack_sequences(t, max_len=17, distributed=True, n_parts=5).collect()
    key = lambda rows: sorted((r["seq_no"], tuple(r["tokens"])) for r in rows)
    assert key(dist) == key(naive)
    # no single-partition window in the distributed plan
    plan = (
        pack_sequences(t, max_len=17, distributed=True, n_parts=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SinglePartition" not in plan


def test_pack_sequences_distributed_deterministic_at_scale(spark):
    """Regression (found by the sf0.1 oracle gate): the prefix-sum
    range index must be a pure function of the id against PLAN-BUILD
    boundary literals. repartitionByRange + spark_partition_id
    re-samples boundaries on every re-execution, so the totals branch
    and the window branch disagreed — non-deterministic output from
    ~5k docs up. Two materializations of the same plan AND the naive
    global window must all be byte-identical."""
    from pyspark.sql import functions as F

    from beats_spark.corpus.tokens import pack_sequences

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.transform(
            F.sequence(F.lit(0), F.pmod(F.col("id") * 7919, F.lit(13))),
            lambda j: (F.col("id") * 31 + j).cast("int"),
        ).alias("tokens"),
    ).repartition(11)
    h = lambda d: d.agg(
        F.sum(F.col("seq_no") * F.col("token_id") + F.col("pos_in_seq"))
    ).first()[0]
    dist = pack_sequences(docs, max_len=128, emit="exploded",
                          distributed=True, n_parts=8)
    naive = pack_sequences(docs, max_len=128, emit="exploded",
                           distributed=False)
    assert h(dist) == h(naive) == h(dist)


def test_pack_sequences_sharded(spark):
    """shard_col packs one independent stream per shard: sequences are
    numbered within the shard and never mix tokens across shards."""
    from beats_spark.corpus.tokens import pack_sequences

    docs = spark.createDataFrame(
        [("a", 1, [1, 2, 3]), ("a", 2, [4, 5]), ("b", 3, [9, 8, 7, 6])],
        "src string, doc_id long, tokens array<int>",
    )
    out = pack_sequences(docs, max_len=4, shard_col="src").collect()
    got = {(r["src"], r["seq_no"]): r["tokens"] for r in out}
    assert got == {
        ("a", 0): [1, 2, 3, 4],
        ("a", 1): [5],
        ("b", 0): [9, 8, 7, 6],
    }


def test_neardup_survivors_priority_keeps_best(spark):
    """priority_col survivor selection: the longest doc in a transitive
    chain survives, not the smallest id; singletons always survive."""
    from beats_spark.corpus import dedup as dd

    docs = spark.createDataFrame(
        [(1, "aa", 5), (2, "aa bb", 9), (3, "aa", 5), (9, "solo", 4)],
        "doc_id long, text string, pr long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    got = sorted(
        r["doc_id"]
        for r in dd.neardup_survivors(docs, pairs, priority_col="pr").collect()
    )
    assert got == [2, 9]
    # default (no priority) keeps the smallest id
    got_min = sorted(
        r["doc_id"] for r in dd.neardup_survivors(docs, pairs).collect()
    )
    assert got_min == [1, 9]


def test_chunk_tokens_overlap_and_tail(spark):
    from beats_spark.corpus.tokens import chunk_tokens

    docs = spark.createDataFrame(
        [(1, list(range(10))), (2, [1, 2]), (3, [])],
        "doc_id long, tokens array<int>",
    )
    out = {(r["doc_id"], r["chunk_no"]): r["tokens"]
           for r in chunk_tokens(docs, size=4, stride=3).collect()}
    # doc 1: starts 0,3,6 cover [0..10); no tail needed
    assert out[(1, 0)] == [0, 1, 2, 3]
    assert out[(1, 1)] == [3, 4, 5, 6]
    assert out[(1, 2)] == [6, 7, 8, 9]
    assert (1, 3) not in out
    # short doc: one (short) chunk; empty doc: one empty chunk
    assert out[(2, 0)] == [1, 2]
    assert out[(3, 0)] == []

    # keep_tail drops the trailing partial: 11 tokens, starts 0,3,6
    # cover 10 < 11 → tail chunk [9,10] appears only with keep_tail
    docs2 = spark.createDataFrame([(1, list(range(11)))],
                                  "doc_id long, tokens array<int>")
    with_tail = chunk_tokens(docs2, size=4, stride=3).collect()
    no_tail = chunk_tokens(docs2, size=4, stride=3, keep_tail=False).collect()
    assert len(with_tail) == 4 and len(no_tail) == 3
    assert sorted(r["tokens"] for r in with_tail)[-1] == [9, 10]


def test_top_ngram_stats(spark):
    from beats_spark.corpus.textstats import top_ngram_stats

    docs = _docs(spark, [
        "spam eggs spam eggs spam eggs and something else entirely here",
        " ".join(f"uniq{i}" for i in range(40)),  # all 2-grams count 1
        "",  # no 2-grams at all
    ])
    out = {r["doc_id"]: r for r in top_ngram_stats(docs, n=2).collect()}
    # "spam eggs" occurs 3x (9 chars each → 27 covered)
    assert out[0]["top_gram"] == "spam eggs"
    assert out[0]["top_gram_count"] == 3
    assert out[0]["covered_chars"] == 27
    assert not out[0]["f_top_ngram"]  # 27*100 > 20*62
    # all-unique doc: every gram count 1, ties → lexicographically last
    assert out[1]["top_gram_count"] == 1
    assert out[1]["f_top_ngram"]
    # empty doc: no grams, zero coverage, passes
    assert out[2]["top_gram"] is None
    assert out[2]["covered_chars"] == 0
    assert out[2]["f_top_ngram"]


# -- semantic dedup (SemDeDup) ----------------------------------------------


def test_semantic_dedup_earliest_survives(spark):
    """Identical vectors share a cell; the lowest id survives, every
    later copy is flagged."""
    df = _emb(spark, [[1.0, 0.0], [1.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    got = dict(rows(similarity.semantic_dedup(df, threshold=0.99, n_cells=1,
                                              dim=2), "vec_id", "is_semdup"))
    assert got == {0: False, 1: True, 2: True, 3: False}


def test_semantic_dedup_triangular_rule(spark):
    """The published triangular-mask semantics: a member is flagged if
    ANY earlier same-cell member is within epsilon — even when that
    earlier member was itself flagged. Chain A~B~C with A !~ C still
    flags C (its earlier neighbor B exists, flagged or not)."""
    a = [1.0, 0.0]
    b = [math.cos(math.radians(25)), math.sin(math.radians(25))]
    c = [math.cos(math.radians(50)), math.sin(math.radians(50))]
    t = math.cos(math.radians(30))  # A.B, B.C above; A.C (cos 50deg) below
    df = _emb(spark, [a, b, c])
    got = dict(rows(similarity.semantic_dedup(df, threshold=t, n_cells=1,
                                              dim=2), "vec_id", "is_semdup"))
    assert got == {0: False, 1: True, 2: True}


def test_semantic_dedup_gemm_matches_fold(spark):
    """The per-cell GEMM path (scale default) and the pure-JVM fold
    equi-join flag the same rows with the same cells."""
    import numpy as _np

    vecs = [[float(_np.sin(i * 0.9 + d)) for d in range(6)] for i in range(40)]
    vecs[7] = [v * 1.001 for v in vecs[3]]
    vecs[21] = [v * 0.999 for v in vecs[5]]
    df = _emb(spark, vecs)
    cols = ("vec_id", "cell", "is_semdup")
    got = sorted(rows(similarity.semantic_dedup(df, 0.8, n_cells=4, dim=6), *cols))
    want = sorted(rows(similarity.semantic_dedup(df, 0.8, n_cells=4, dim=6,
                                                 method="fold"), *cols))
    assert got == want
    assert len(got) == len(vecs)  # one flag row per input row
    assert any(f for _, _, f in got)


def test_semantic_dedup_requires_dim(spark):
    df = _emb(spark, [[1.0, 0.0]])
    with pytest.raises(ValueError, match="dim"):
        similarity.semantic_dedup(df, threshold=0.9)


# -- unigram LM scoring (CCNet-style) ----------------------------------------


def test_lm_score_uniform_corpus_exact(spark):
    """Two tokens, each with p=0.5 → exactly 1 bit/token (the integer
    micro-bit path is exact here: log2(0.5)*1e6 = -1e6 precisely)."""
    df = _docs(spark, ["a b", "a b"])
    got = rows(textstats.lm_score(df), "doc_id", "n_tokens", "bits_per_token")
    assert got == [(0, 2, 1.0), (1, 2, 1.0)]


def test_lm_score_rare_tokens_score_higher(spark):
    df = _docs(spark, ["the the the the", "the the the zebra"])
    got = dict(
        (r[0], r[1]) for r in rows(textstats.lm_score(df), "doc_id", "bits_per_token")
    )
    assert got[1] > got[0]  # the doc holding the rare token is less typical


def test_lm_score_foreign_lm_oov_floor(spark):
    """Scoring under a foreign LM: unseen tokens take the 1/total
    floor instead of crashing or dropping rows."""
    lm = _docs(spark, ["a a a b"])  # total 4: p(a)=3/4, p(b)=1/4
    df = _docs(spark, ["a zzz"])
    (r,) = rows(textstats.lm_score(df, lm=lm), "n_tokens", "bits_per_token")
    expect = (-math.log2(3 / 4) - math.log2(1 / 4)) / 2  # oov → log2(1/4)
    assert r[0] == 2 and abs(r[1] - expect) < 1e-5


def test_lm_score_buckets(spark):
    df = _docs(spark, ["x x x x x x x x", "x x x x x x x y"])
    got = dict(rows(textstats.lm_score(df, thresholds=(0.3, 0.5)),
                    "doc_id", "ppl_bucket"))
    assert got[0] == "head" and got[1] == "tail"


# -- ExactSubstr dedup -------------------------------------------------------


def test_substring_dedup_cross_doc_keeps_first(spark):
    from beats_spark.corpus.cleaning import substring_dedup

    df = _docs(spark, ["k1 p q r s t k2", "z1 z2 p q r s t"])
    got = {r["doc_id"]: r for r in substring_dedup(df, min_len=5).collect()}
    assert got[0]["cleaned_text"] == "k1 p q r s t k2"  # first copy intact
    assert got[0]["dup_tokens"] == 0
    assert got[1]["cleaned_text"] == "z1 z2"  # later copy cut
    assert got[1]["dup_tokens"] == 5


def test_substring_dedup_merges_overlapping_windows(spark):
    from beats_spark.corpus.cleaning import substring_dedup

    run = "w1 w2 w3 w4 w5 w6 w7"  # 7 tokens → three overlapping 5-windows
    df = _docs(spark, [f"a1 {run} a2", f"b1 b2 {run} b3"])
    got = {r["doc_id"]: r for r in substring_dedup(df, min_len=5).collect()}
    assert got[1]["cleaned_text"] == "b1 b2 b3"  # ONE merged 7-token span
    assert got[1]["dup_tokens"] == 7


def test_substring_dedup_within_doc_repeat(spark):
    from beats_spark.corpus.cleaning import substring_dedup

    df = _docs(spark, ["a b c d e a b c d e"])
    (r,) = substring_dedup(df, min_len=5).collect()
    assert r["cleaned_text"] == "a b c d e" and r["dup_tokens"] == 5


def test_substring_dedup_fully_cut_doc_row_survives(spark):
    from beats_spark.corpus.cleaning import substring_dedup

    df = _docs(spark, ["m n o p q", "m n o p q"])
    got = {r["doc_id"]: r for r in substring_dedup(df, min_len=5).collect()}
    assert got[1]["cleaned_text"] == "" and got[1]["dup_tokens"] == 5
    assert got[0]["cleaned_text"] == "m n o p q"


def test_substring_dedup_short_docs_untouched(spark):
    from beats_spark.corpus.cleaning import substring_dedup

    df = _docs(spark, ["tiny doc", "tiny doc"])  # < min_len tokens
    got = {r["doc_id"]: r["cleaned_text"] for r in substring_dedup(df, min_len=5).collect()}
    assert got == {0: "tiny doc", 1: "tiny doc"}


def _tokdocs(spark, seqs):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(seqs)], "doc_id long, tokens array<int>"
    )


def test_substring_dedup_tokens_cross_doc_keeps_first(spark):
    from beats_spark.corpus.cleaning import substring_dedup_tokens

    df = _tokdocs(spark, [[901, 1, 2, 3, 4, 5, 902], [77, 88, 1, 2, 3, 4, 5]])
    got = {r["doc_id"]: r for r in substring_dedup_tokens(df, min_len=5).collect()}
    assert got[0]["cleaned_tokens"] == [901, 1, 2, 3, 4, 5, 902]
    assert got[0]["dup_tokens"] == 0
    assert got[1]["cleaned_tokens"] == [77, 88] and got[1]["dup_tokens"] == 5


def test_substring_dedup_tokens_merges_overlapping_windows(spark):
    from beats_spark.corpus.cleaning import substring_dedup_tokens

    run = [11, 12, 13, 14, 15, 16, 17]  # 7 ids → three overlapping 5-windows
    df = _tokdocs(spark, [[1] + run + [2], [3, 4] + run + [5]])
    got = {r["doc_id"]: r for r in substring_dedup_tokens(df, min_len=5).collect()}
    assert got[1]["cleaned_tokens"] == [3, 4, 5]  # ONE merged 7-token span
    assert got[1]["dup_tokens"] == 7


def test_substring_dedup_tokens_fully_cut_and_short(spark):
    from beats_spark.corpus.cleaning import substring_dedup_tokens

    df = _tokdocs(spark, [[5, 6, 7, 8, 9], [5, 6, 7, 8, 9], [1, 2]])
    got = {r["doc_id"]: r for r in substring_dedup_tokens(df, min_len=5).collect()}
    assert got[1]["cleaned_tokens"] == [] and got[1]["dup_tokens"] == 5
    assert got[0]["cleaned_tokens"] == [5, 6, 7, 8, 9]
    assert got[2]["cleaned_tokens"] == [1, 2]  # < min_len: untouched


def test_substring_dedup_tokens_no_cross_id_boundary_alias(spark):
    """Decimal rendering must not alias across id boundaries:
    [1, 23, 4, 5, 6] and [12, 3, 4, 5, 6] share no 5-gram."""
    from beats_spark.corpus.cleaning import substring_dedup_tokens

    df = _tokdocs(spark, [[1, 23, 4, 5, 6], [12, 3, 4, 5, 6]])
    got = {r["doc_id"]: r["dup_tokens"] for r in substring_dedup_tokens(df, min_len=5).collect()}
    assert got == {0: 0, 1: 0}


def test_decontaminate_spans_tokens_surgical_cut(spark):
    """A sequence quoting a benchmark 5-gram loses exactly the merged
    span — every occurrence, no keep-first — and clean docs pass
    through with their exact token arrays (the north-rule per-row
    token-array invariant)."""
    from beats_spark.corpus.cleaning import decontaminate_spans_tokens

    bench = _tokdocs(spark, [[10, 11, 12, 13, 14]]).select("tokens")
    df = _tokdocs(spark, [
        [1, 10, 11, 12, 13, 14, 2],          # quotes the benchmark once
        [10, 11, 12, 13, 14, 10, 11, 12, 13, 14],  # twice: both cut
        [7, 8, 9, 7, 8],                     # clean
    ])
    got = {r["doc_id"]: r for r in
           decontaminate_spans_tokens(df, bench, n=5).collect()}
    assert got[0]["cleaned_tokens"] == [1, 2] and got[0]["dup_tokens"] == 5
    assert got[1]["cleaned_tokens"] == [] and got[1]["dup_tokens"] == 10
    assert got[2]["cleaned_tokens"] == [7, 8, 9, 7, 8]
    assert got[2]["dup_tokens"] == 0


def _bpe_reference(seqs, n_merges, start, min_count=2):
    """Pure-Python reference model of learn_bpe_merges (self-pairs
    excluded, ties by (t1, t2), merge replaces every match)."""
    from collections import Counter

    seqs = [list(s) for s in seqs]
    merges = []
    for r in range(n_merges):
        cnt = Counter()
        for s in seqs:
            for x, y in zip(s, s[1:]):
                if x != y:
                    cnt[(x, y)] += 1
        if not cnt:
            break
        (a, b), n = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < min_count:
            break
        c = start + r
        merges.append((r, a, b, c, n))
        out = []
        for s in seqs:
            t, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    t.append(c)
                    i += 2
                else:
                    t.append(s[i])
                    i += 1
            out.append(t)
        seqs = out
    return merges, seqs


def test_bpe_learn_hand_case(spark):
    from beats_spark.corpus.tokens import learn_bpe_merges

    # (1,2) appears 3x, (2,3) 2x (one (2,3) is consumed inside "1 2 3"?
    # no — counting is simultaneous per round, apply happens after)
    df = _tokdocs(spark, [[1, 2, 3, 1, 2], [1, 2, 3]])
    m = learn_bpe_merges(df, n_merges=2, new_id_start=100).collect()
    assert (m[0]["t1"], m[0]["t2"], m[0]["new_id"], m[0]["n_pairs"]) == (1, 2, 100, 3)
    # after merge 1: [100,3,100], [100,3] → best pair (100,3) x2
    assert (m[1]["t1"], m[1]["t2"], m[1]["new_id"], m[1]["n_pairs"]) == (100, 3, 101, 2)


def test_bpe_learn_on_sample_default(spark):
    """Above sample_threshold the trainer learns on a deterministic
    hash_sample slice BY DEFAULT (a naive caller cannot run k
    full-corpus shuffles by accident); the default path equals an
    explicit hash_sample of the same fraction, and sample_frac=1.0
    forces full-corpus learning."""
    from beats_spark.corpus.tokens import hash_sample, learn_bpe_merges

    docs = [[1, 2, 3, 1, 2] if i % 2 else [2, 3, 4] for i in range(200)]
    df = _tokdocs(spark, docs)
    # threshold 50 < 200 rows → default path samples to ~50/200 = 0.25
    auto = learn_bpe_merges(df, n_merges=2, new_id_start=100,
                            sample_threshold=50).collect()
    explicit = learn_bpe_merges(
        hash_sample(df, 50 / 200), n_merges=2, new_id_start=100,
        sample_frac=1.0).collect()
    assert [tuple(r) for r in auto] == [tuple(r) for r in explicit]
    # full-corpus learning still available and sees every pair
    full = learn_bpe_merges(df, n_merges=1, new_id_start=100,
                            sample_frac=1.0).collect()
    assert full[0]["n_pairs"] == sum(
        sum(1 for a, b in zip(d, d[1:]) if (a, b) == (1, 2)) for d in docs)


def test_bpe_apply_repeated_run_no_overlap(spark):
    """a≠b guarantees matches are never adjacent: 'a b a b' merges
    twice; 'a a b' merges once (the pair starts at index 1)."""
    from beats_spark.corpus.tokens import apply_bpe_merges

    df = _tokdocs(spark, [[1, 2, 1, 2], [1, 1, 2], [2, 1]])
    got = {r["doc_id"]: r["tokens"]
           for r in apply_bpe_merges(df, [(1, 2, 9)]).collect()}
    assert got == {0: [9, 9], 1: [1, 9], 2: [2, 1]}


def test_bpe_matches_reference_model(spark):
    """Property: Spark trainer ≡ the sequential reference on a messy
    corpus (repeats, runs, short docs, empties)."""
    import random

    from beats_spark.corpus.tokens import apply_bpe_merges, learn_bpe_merges

    rng = random.Random(7)
    seqs = [[rng.randrange(6) for _ in range(rng.randrange(0, 30))]
            for _ in range(40)]
    ref_merges, ref_seqs = _bpe_reference(seqs, n_merges=5, start=50)
    df = _tokdocs(spark, seqs)
    m = learn_bpe_merges(df, n_merges=5, new_id_start=50)
    got = [(r["rank"], r["t1"], r["t2"], r["new_id"], r["n_pairs"])
           for r in m.orderBy("rank").collect()]
    assert got == ref_merges
    applied = {r["doc_id"]: r["tokens"]
               for r in apply_bpe_merges(df, m).collect()}
    assert [applied[i] for i in range(len(seqs))] == ref_seqs


def test_tokens_mode_family_matches_text_mode(spark):
    """simhash / ngram_jaccard tokens_col mode ≡ text mode when the
    text IS the decimal rendering of the ids (both hash the same
    decimal strings)."""
    from beats_spark.corpus import tokens as toks

    df = _docs(spark, [NEAR_A, NEAR_B, FAR])
    t = toks.tokenize_ids(df)
    as_text = t.select(
        "doc_id",
        F.concat_ws(" ", F.col("tokens").cast("array<string>")).alias("text"),
    )
    sim_tok = rows(dedup.simhash_neardup_pairs(t, tokens_col="tokens"),
                   "doc_a", "doc_b", "hamming")
    sim_txt = rows(dedup.simhash_neardup_pairs(as_text),
                   "doc_a", "doc_b", "hamming")
    assert sim_tok == sim_txt
    jac_tok = rows(dedup.ngram_jaccard_pairs(t, tokens_col="tokens"),
                   "doc_a", "doc_b", "n_inter", "n_union")
    jac_txt = rows(dedup.ngram_jaccard_pairs(as_text),
                   "doc_a", "doc_b", "n_inter", "n_union")
    assert jac_tok == jac_txt and len(jac_tok) == 1


def test_winnow_tokens_shared_run_guarantee(spark):
    """Token winnowing keeps the paper's guarantee in token units: a
    shared run of ≥ w+k−1 ids yields ≥1 shared fingerprint; disjoint
    id sets share none."""
    from beats_spark.corpus.textstats import winnow_neardup_pairs

    run = list(range(700, 712))  # 12 ids ≥ w+k-1 = 8
    df = _tokdocs(spark, [
        [1, 2, 3] + run,
        run + [4, 5, 6],
        list(range(900, 930)),
    ])
    got = rows(
        winnow_neardup_pairs(df, k=5, w=4, min_shared=1,
                             tokens_col="tokens"),
        "doc_a", "doc_b",
    )
    assert (0, 1) in got
    assert all(2 not in p for p in got)


def test_pack_bins_invariants(spark):
    """No-split packing: every doc assigned exactly once; no bin's
    token total exceeds max_len (except a single oversize doc alone in
    its bin); assignment is layout-independent."""
    from collections import defaultdict

    from beats_spark.corpus.tokens import pack_bins

    seqs = [[i] * ((i * 37) % 90 + 1) for i in range(60)] + [[7] * 200]
    df = _tokdocs(spark, seqs)
    out = pack_bins(df, max_len=128, n_buckets=4).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(61))
    by_bin = defaultdict(list)
    for r in out:
        by_bin[r["bin_id"]].append(r["n_tok"])
    for ns in by_bin.values():
        assert sum(ns) <= 128 or (len(ns) == 1 and ns[0] > 128)
    # oversize doc is alone in its bin
    (big,) = [r for r in out if r["doc_id"] == 60]
    assert by_bin[big["bin_id"]] == [200]
    # layout independence
    out2 = pack_bins(df.repartition(13), max_len=128, n_buckets=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pack_bins_ffd_and_nfd_order(spark):
    """Hand-checkable strategies on [100, 90, 30, 20, 10] at
    max_len=128. FFD: 100→bin0(28), 90→bin1(38), 30→bin1(8),
    20→bin0(8), 10 fits neither → bin2. NFD (current bin only):
    100→bin0, 90→bin1(38), 30→bin1(8), 20→bin2(108), 10→bin2."""
    from beats_spark.corpus.tokens import pack_bins

    lens = [100, 90, 30, 20, 10]
    df = _tokdocs(spark, [[1] * n for n in lens])
    ffd = {r["n_tok"]: r["bin_no"]
           for r in pack_bins(df, max_len=128, n_buckets=1).collect()}
    assert ffd == {100: 0, 90: 1, 30: 1, 20: 0, 10: 2}
    nfd = {r["n_tok"]: r["bin_no"]
           for r in pack_bins(df, max_len=128, n_buckets=1,
                              strategy="nfd").collect()}
    assert nfd == {100: 0, 90: 1, 30: 1, 20: 2, 10: 2}


def test_shuffle_shards_reproducible_across_layouts(spark):
    """The permutation must be identical regardless of partition
    layout (the whole point vs orderBy(rand()))."""
    from beats_spark.corpus.tokens import shuffle_shards

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df.repartition(1), n_shards=8, with_pos=True)
    b = shuffle_shards(df.repartition(13), n_shards=8, with_pos=True)
    ra = sorted(map(tuple, a.select("doc_id", "shard", "pos").collect()))
    rb = sorted(map(tuple, b.select("doc_id", "shard", "pos").collect()))
    assert ra == rb
    # every shard's positions are dense 0..k-1
    from collections import defaultdict
    by = defaultdict(list)
    for d, s, p in ra:
        by[s].append(p)
    assert all(sorted(v) == list(range(len(v))) for v in by.values())
    # and the permutation is non-trivial (not id order)
    first = [d for d, s, p in ra if s == ra[0][1]]
    assert first != sorted(first) or len(by) > 1


def test_token_stats_hand_case(spark):
    from beats_spark.corpus.tokens import token_stats

    # [7,7,7,2]: distinct {7,2}=2, top id 7 ×3, bigrams [7,7][7,7][7,2]
    # → 3 bigrams, 2 distinct → dup 1/3, max run 3
    df = _tokdocs(spark, [[7, 7, 7, 2]])
    (r,) = token_stats(df).collect()
    assert r["n_tok"] == 4 and r["n_distinct"] == 2
    assert r["top_token_n"] == 3 and r["max_run_len"] == 3
    assert r["n_bigrams"] == 3 and abs(r["dup_bigram_frac"] - 1 / 3) < 1e-12
    assert abs(r["distinct_ratio"] - 0.5) < 1e-12


def test_token_stats_degenerate_loop(spark):
    from beats_spark.corpus.tokens import token_stats

    df = _tokdocs(spark, [[5] * 100, list(range(100))])
    got = {r["doc_id"]: r for r in token_stats(df).collect()}
    # 99 bigrams, one distinct: dup mass (99-1)/99 (first copy is not a dup)
    assert got[0]["max_run_len"] == 100
    assert abs(got[0]["dup_bigram_frac"] - 98 / 99) < 1e-12
    assert got[0]["top_token_frac"] == 1.0 and got[0]["n_distinct"] == 1
    assert got[1]["max_run_len"] == 1 and got[1]["dup_bigram_frac"] == 0.0
    assert got[1]["distinct_ratio"] == 1.0


def test_token_stats_top_not_a_run(spark):
    """Mode mass must count NON-adjacent repeats: [1,2,1,3,1] has
    max_run 1 but top_token_n 3 (the sorted-array run trick)."""
    from beats_spark.corpus.tokens import token_stats

    (r,) = token_stats(_tokdocs(spark, [[1, 2, 1, 3, 1]])).collect()
    assert r["max_run_len"] == 1 and r["top_token_n"] == 3


def test_token_stats_edge_rows(spark):
    from beats_spark.corpus.tokens import token_stats

    df = _tokdocs(spark, [[], [42]])
    got = {r["doc_id"]: r for r in token_stats(df).collect()}
    assert got[0]["n_tok"] == 0 and got[0]["distinct_ratio"] is None
    assert got[0]["dup_bigram_frac"] is None and got[0]["max_run_len"] == 0
    assert got[1]["n_tok"] == 1 and got[1]["top_token_frac"] == 1.0
    assert got[1]["n_bigrams"] == 0 and got[1]["dup_bigram_frac"] is None


def test_minhash_neardup_tokens_matches_text_mode(spark):
    """tokens_col mode over the decimal renderings of a text corpus'
    word ids must produce the identical candidate set and signature
    agreement as text mode over the same sequences spelled as text."""
    from beats_spark.corpus import tokens as toks

    df = _docs(spark, [NEAR_A, NEAR_B, FAR])
    t = toks.tokenize_ids(df)
    as_text = t.select(
        "doc_id",
        F.concat_ws(" ", F.col("tokens").cast("array<string>")).alias("text"),
    )
    got_tok = rows(
        dedup.minhash_neardup_pairs(t, tokens_col="tokens"),
        "doc_a", "doc_b", "sig_matches",
    )
    got_txt = rows(
        dedup.minhash_neardup_pairs(as_text), "doc_a", "doc_b", "sig_matches"
    )
    assert got_tok == got_txt and len(got_tok) == 1


# -- DSIR importance weights -------------------------------------------------


def test_dsir_weights_exact_arithmetic(spark):
    """Hand-checkable micro-bit arithmetic: target = {a a}, source =
    {a a, b b}. p_s(a)=p_s(b)=1/2; p_t(a)=1, OOV floor p_t(b)=1/2 →
    du(a)=+1e6 ubits, du(b)=0 → doc 'a a' scores exactly +2 bits,
    doc 'b b' exactly 0."""
    src = _docs(spark, ["a a", "b b"])
    tgt = _docs(spark, ["a a"])
    got = {r["doc_id"]: r for r in
           textstats.dsir_weights(src, tgt, threshold=0.5).collect()}
    assert got[0]["log_ratio_bits"] == 2.0 and got[0]["selected"]
    assert got[1]["log_ratio_bits"] == 0.0 and not got[1]["selected"]


def test_dsir_weights_ranks_target_like_docs_higher(spark):
    src = _docs(spark, ["cat dog cat dog", "xq zz xq zz", "cat zz"])
    tgt = _docs(spark, ["cat dog cat cat dog"])
    got = {r["doc_id"]: r["log_ratio_bits"] for r in
           textstats.dsir_weights(src, tgt).collect()}
    assert got[0] > got[2] > got[1]


def test_dsir_weights_empty_target_raises(spark):
    src = _docs(spark, ["a"])
    with pytest.raises(ValueError, match="non-empty"):
        textstats.dsir_weights(src, src.filter(F.lit(False)))


# -- per-group (per-language) LM scoring -------------------------------------


def _docs_lang(spark, rows_):
    return spark.createDataFrame(rows_, "doc_id long, lang string, text string")


def test_lm_score_grouped_matches_ungrouped_single_group(spark):
    df = _docs_lang(spark, [(0, "en", "a b a"), (1, "en", "b b a")])
    grouped = {r["doc_id"]: (r["n_tokens"], r["bits_per_token"]) for r in
               textstats.lm_score_grouped(df, by="lang").collect()}
    flat = {r["doc_id"]: (r["n_tokens"], r["bits_per_token"]) for r in
            textstats.lm_score(df).collect()}
    assert grouped == flat


def test_lm_score_grouped_models_are_isolated(spark):
    """'rare' is common in lang B but rare in lang A: the A doc holding
    it must score higher than B docs — each group scores under its OWN
    model, not the pooled one."""
    df = _docs_lang(spark, [
        (0, "A", "x x x rare"),
        (1, "A", "x x x x"),
        (2, "B", "rare rare rare rare"),
    ])
    got = {r["doc_id"]: r["bits_per_token"] for r in
           textstats.lm_score_grouped(df, by="lang").collect()}
    assert got[0] > got[1]      # rare token hurts within A
    assert got[2] == 0.0        # within B, 'rare' is the ONLY token: p=1


def test_lm_score_grouped_per_group_cutoffs(spark):
    df = _docs_lang(spark, [(0, "A", "x x"), (1, "B", "y y")])
    out = {r["lang"]: r["ppl_bucket"] for r in textstats.lm_score_grouped(
        df, by="lang",
        thresholds={"A": (1.0, 2.0)},          # 0 bits <= 1.0 -> head
        default_thresholds=(-1.0, -0.5),       # 0 bits > -0.5 -> tail
    ).collect()}
    assert out == {"A": "head", "B": "tail"}


def test_lm_score_grouped_null_group_surfaces(spark):
    df = _docs_lang(spark, [(0, None, "x x"), (1, "A", "x x")])
    got = {r["doc_id"]: r["bits_per_token"] for r in
           textstats.lm_score_grouped(df, by="lang").collect()}
    assert got[1] == 0.0 and got[0] is None


def _ref_substring_dedup(texts, L):
    """Pure-python spec of gram-granularity ExactSubstr: coverage is
    the UNION of [s, s+L) windows of every non-first occurrence (the
    gaps-and-islands merge emits exactly that union)."""
    toks = {i: t.split(" ") for i, t in enumerate(texts)}
    occ = {}
    for d in sorted(toks):
        ts = toks[d]
        for s in range(len(ts) - L + 1):
            occ.setdefault(tuple(ts[s:s + L]), []).append((d, s))
    cut = {}
    for g, lst in occ.items():
        if len(lst) > 1:
            for d, s in lst[1:]:
                cut.setdefault(d, set()).update(range(s, s + L))
    out = {}
    for d, ts in toks.items():
        c = cut.get(d, set())
        kept = [t for p, t in enumerate(ts) if p not in c]
        out[d] = (len(ts), len(ts) - len(kept), " ".join(kept))
    return out


def test_substring_dedup_matches_reference_on_random_corpora(spark):
    """Seeded random corpora over a tiny vocab (dup grams everywhere):
    Spark output must equal the pure-python spec doc for doc — one
    batched job per seed."""
    import random

    from beats_spark.corpus.cleaning import substring_dedup

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        texts = [
            " ".join(rng.choice("abcde") for _ in range(rng.randint(1, 15)))
            for _ in range(30)
        ]
        want = _ref_substring_dedup(texts, 3)
        got = {
            r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["cleaned_text"])
            for r in substring_dedup(_docs(spark, texts), min_len=3).collect()
        }
        assert got == want, f"seed {seed}"


def test_substring_dedup_tokens_matches_reference_on_random_corpora(spark):
    """Tokens twin of the reference-model property: the int-array path
    must equal the pure-python spec run on the decimal renderings."""
    import random

    from beats_spark.corpus.cleaning import substring_dedup_tokens

    for seed in (5, 41):
        rng = random.Random(seed)
        seqs = [[rng.randrange(5) for _ in range(rng.randint(0, 15))]
                for _ in range(30)]
        texts = [" ".join(map(str, s)) for s in seqs]
        want = {
            d: (n, dup, [int(x) for x in c.split()] if c else [])
            for d, (n, dup, c) in _ref_substring_dedup(texts, 3).items()
        }
        got = {
            r["doc_id"]: (r["n_tokens"], r["dup_tokens"],
                          list(r["cleaned_tokens"]))
            for r in substring_dedup_tokens(
                _tokdocs(spark, seqs), min_len=3).collect()
        }
        # empty seqs: word_tokens('') gives [''] (1 token) in the text
        # reference, the array path gives a true empty — align those
        for d, s in enumerate(seqs):
            if not s:
                want[d] = (0, 0, [])
        assert got == want, f"seed {seed}"


def test_line_dedup_within_keeps_first_and_order(spark):
    from beats_spark.corpus.cleaning import line_dedup_within

    df = _docs(spark, ["a\nb\na\nc\nb\na", "x\ny"])
    got = {r["doc_id"]: r for r in line_dedup_within(df).collect()}
    assert got[0]["cleaned_text"] == "a\nb\nc" and got[0]["dup_lines"] == 3
    assert got[0]["n_lines"] == 6
    assert got[1]["cleaned_text"] == "x\ny" and got[1]["dup_lines"] == 0


# -- IVF-PQ ------------------------------------------------------------------


def test_ann_ivf_pq_requires_dim_and_divisibility(spark):
    df = _emb(spark, [[1.0, 0.0]])
    with pytest.raises(ValueError, match="dim"):
        similarity.ann_ivf_pq_topk(df, k=1)
    with pytest.raises(ValueError, match="divisible"):
        similarity.ann_ivf_pq_topk(df, k=1, dim=6, m=4)


def test_ann_ivf_pq_identical_vectors_mutual_top1(spark):
    df = _emb(spark, [[0.5] * 8, [0.5] * 8, [-0.9] * 8])
    got = {r["vec_id"]: (r["nid"], r["adc"]) for r in
           similarity.ann_ivf_pq_topk(df, k=1, n_cells=2, m=2, ksub=4,
                                      dim=8).collect()
           if r["rank"] == 1}
    # identical vectors share cell + codes; each is the other's nearest
    assert got[0][0] == 1 and got[1][0] == 0
    assert got[0][1] == got[1][1]  # symmetric ADC


def _ref_ivf_pq(vecs, k, m, ksub, dsub):
    """Pure-python IVF-PQ spec (single cell): encode by expanded-form
    argmin, integer micro-unit LUT, ADC sum, rank by (adc, nid)."""
    import math as _math

    cbs = similarity.pq_codebooks(m, ksub, dsub)

    def seq_sq(row):
        acc = 0.0
        for x in row:
            acc += float(x) * float(x)
        return acc

    def sub_dists(v, j):
        q = v[j * dsub:(j + 1) * dsub]
        qn = seq_sq(q)
        return [
            qn + seq_sq(c) - 2.0 * sum(float(a) * float(b)
                                       for a, b in zip(q, c))
            for c in cbs[j]
        ]

    codes = {
        i: [min(range(ksub), key=lambda c: (sub_dists(v, j)[c], c))
            for j in range(m)]
        for i, v in enumerate(vecs)
    }
    out = []
    for qi, qv in enumerate(vecs):
        lut = {}
        for j in range(m):
            for c, d in enumerate(sub_dists(qv, j)):
                x = d * 1e9
                lut[(j, c)] = int(_math.copysign(_math.floor(abs(x) + 0.5), x))
        scored = sorted(
            (sum(lut[(j, codes[ni][j])] for j in range(m)), ni)
            for ni in codes if ni != qi
        )
        for r, (adc, ni) in enumerate(scored[:k], 1):
            out.append((qi, ni, adc, r))
    return sorted(out)


def test_ann_ivf_pq_matches_reference_single_cell(spark):
    import random

    import numpy as _np

    rng = random.Random(5)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(20)]
    df = _emb(spark, vecs)
    got = sorted(rows(similarity.ann_ivf_pq_topk(
        df, k=2, n_cells=1, m=2, ksub=4, dim=8),
        "vec_id", "nid", "adc", "rank"))
    # the embedding column is float32: the reference must see the same
    # rounded values the engine reads back
    vecs32 = _np.asarray(vecs, dtype=_np.float32).astype(_np.float64).tolist()
    want = _ref_ivf_pq(vecs32, k=2, m=2, ksub=4, dsub=4)
    assert got == want


def test_lm_score_bigram_exact(spark):
    """Bigram features: 'a b a b' -> [a b, b a, a b]; c(a b)=2, c(b a)=1,
    total 3 — hand-checkable micro-bit arithmetic."""
    df = _docs(spark, ["a b a b"])
    (r,) = rows(textstats.lm_score(df, ngram=2),
                "n_tokens", "bits_per_token")
    ub2 = round(math.log2(2 / 3) * 1e6)  # .5-boundary-free values
    ub1 = round(math.log2(1 / 3) * 1e6)
    expect = -(2 * ub2 + ub1) / (3 * 1e6)
    assert r == (3, expect)


def test_lm_score_bigram_short_doc_surfaces_null(spark):
    df = _docs(spark, ["only", "two words here"])
    got = {r["doc_id"]: (r["n_tokens"], r["bits_per_token"], r["ppl_bucket"])
           for r in textstats.lm_score(df, ngram=2,
                                       thresholds=(1.0, 2.0)).collect()}
    assert got[0] == (0, None, None)  # < ngram tokens: surfaced, not dropped
    assert got[1][0] == 2 and got[1][1] is not None


def test_dsir_weights_bigram_features(spark):
    """ngram=2 scores bigram features. Hand-checked micro-bits:
    target bigrams {a b:2, b a:1} (tot 3), source {a b:2, b a:1,
    c d:2, d c:1} (tot 6). Every target-seen bigram gains exactly
    +1 bit; the OOV floor (1/3) makes unseen 'c d' score 0 and
    'd c' +1 — summed: doc0 = 3.0, doc1 = 1.0, target-like on top."""
    src = _docs(spark, ["a b a b", "c d c d"])
    tgt = _docs(spark, ["a b a b"])
    got = {r["doc_id"]: r["log_ratio_bits"] for r in
           textstats.dsir_weights(src, tgt, ngram=2).collect()}
    assert got == {0: 3.0, 1: 1.0}


def test_decontaminate_spans_cuts_only_overlap(spark):
    """A doc quoting a benchmark n-gram loses exactly the merged
    contaminated span; the rest of the document survives (vs
    `decontaminate`, which drops the whole doc)."""
    from beats_spark.corpus.cleaning import decontaminate_spans

    quote = "q1 q2 q3 q4 q5"
    df = _docs(spark, [f"keep1 keep2 {quote} keep3", "all clean here"])
    bench = _docs(spark, [f"pre {quote} post"]).select("text")
    got = {r["doc_id"]: r for r in
           decontaminate_spans(df, bench, n=5).collect()}
    assert got[0]["cleaned_text"] == "keep1 keep2 keep3"
    assert got[0]["dup_tokens"] == 5
    assert got[1]["cleaned_text"] == "all clean here"
    assert got[1]["dup_tokens"] == 0


def test_decontaminate_spans_cuts_every_occurrence(spark):
    """No keep-first here: every overlapping occurrence is removed,
    including repeats within one document."""
    from beats_spark.corpus.cleaning import decontaminate_spans

    quote = "q1 q2 q3 q4 q5"
    df = _docs(spark, [f"{quote} mid {quote}"])
    bench = _docs(spark, [quote]).select("text")
    (r,) = decontaminate_spans(df, bench, n=5).collect()
    assert r["cleaned_text"] == "mid" and r["dup_tokens"] == 10


def test_ann_ivf_pq_full_probe_equals_brute_force(spark):
    """nprobe == n_cells degenerates to brute-force ADC: identical
    rows to the single-cell run (every query sees every code)."""
    import random

    rng = random.Random(11)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(25)]
    df = _emb(spark, vecs)
    cols = ("vec_id", "nid", "adc", "rank")
    full = sorted(rows(similarity.ann_ivf_pq_topk(
        df, k=2, n_cells=4, m=2, ksub=4, dim=8, nprobe=4), *cols))
    brute = sorted(rows(similarity.ann_ivf_pq_topk(
        df, k=2, n_cells=1, m=2, ksub=4, dim=8), *cols))
    assert full == brute and len(full) > 0


def test_lm_score_grouped_ngram_and_short_docs(spark):
    """Per-group bigram models: each group's features score under its
    own model, and a doc too short for any bigram surfaces with NULL
    score instead of vanishing."""
    df = _docs_lang(spark, [
        (0, "A", "a b a b"),   # A bigrams: {a b:2, b a:1}
        (1, "A", "x"),          # featureless at ngram=2
        (2, "B", "a b a b"),    # same text, separate model: same bits
    ])
    got = {r["doc_id"]: (r["n_tokens"], r["bits_per_token"]) for r in
           textstats.lm_score_grouped(df, by="lang", ngram=2).collect()}
    assert got[1] == (0, None)
    assert got[0] == got[2] and got[0][0] == 3 and got[0][1] > 0


def test_hashed_embedding_exact_and_composes_with_cosine(spark):
    """Hand-checkable properties: identical docs get identical vectors,
    per-doc bucket counts sum to ±word count parity, empty-vocab docs
    keep a zero row, and the normalized form feeds cosine_topk — the
    text→vector bridge end to end."""
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c d"), (2, "x y z w"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           textstats.hashed_embedding(df, dim=8, normalize=True).collect()}
    assert len(out) == 4
    assert out[0]["vec"] == out[1]["vec"]
    # total signed mass = sum of ±1 per word -> |sum| <= n_words, and
    # sum of |counts| parity equals word-count parity
    assert sum(abs(v) for v in out[0]["vec"]) <= 4
    assert out[0]["vec"] != out[2]["vec"]
    for r in out.values():
        if any(v != 0 for v in r["vec"]):
            n = sum(x * x for x in r["vec_norm"])
            assert abs(n - 1.0) < 1e-9
    # compose into the exact cosine operator: the twin docs are each
    # other's top-1 neighbor with cos == 1
    from beats_spark.corpus.similarity import cosine_topk

    vecs = textstats.hashed_embedding(df, dim=8, normalize=True).filter(
        F.col("vec_norm").isNotNull()
    ).select(F.col("doc_id").alias("vec_id"),
             F.col("vec_norm").alias("embedding"))
    top = {r["vec_id"]: (r["nid"], round(r["cos"], 9))
           for r in cosine_topk(vecs, k=1, mode="crossjoin").collect()}
    assert top[0] == (1, 1.0) and top[1] == (0, 1.0)


def test_compression_ratio_separates_loops_from_prose(spark):
    """A degenerate loop compresses far below varied prose; empty text
    keeps its row with NULL ratio; byte accounting is exact."""
    import zlib

    prose = " ".join(f"word{i}" for i in range(60))
    loop = "spam " * 60
    df = spark.createDataFrame(
        [(0, prose), (1, loop), (2, "")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict()
           for r in textstats.compression_ratio(df).collect()}
    assert got[1]["ratio_ppm"] < got[0]["ratio_ppm"]
    assert got[2]["ratio_ppm"] is None and got[2]["n_bytes"] == 0
    want = len(zlib.compress(prose.encode(), 6))
    assert got[0]["n_compressed"] == want
    assert got[0]["ratio_ppm"] == want * 1_000_000 // len(prose.encode())


def test_script_stats_mixed_scripts(spark):
    """Hand-counted mixed-script doc: Latin/Cyrillic/Han/Arabic/digit/
    replacement counts, and a pure-ASCII doc is all-Latin with zero
    mojibake."""
    df = spark.createDataFrame(
        [(0, "aбвxy漢字1�"), (1, "plain ascii 42")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r.asDict() for r in textstats.script_stats(df).collect()}
    assert got[0] == {"doc_id": 0, "n_chars": 9, "n_latin": 3,
                      "n_cyrillic": 2, "n_han": 2, "n_arabic": 0,
                      "n_digit": 1, "n_replacement": 1}
    assert got[1]["n_latin"] == 10 and got[1]["n_replacement"] == 0
    assert got[1]["n_digit"] == 2


def test_repeat_ngram_mask_hand_case(spark):
    """[1,2,3,1,2,3,4] at n=3: the second (1,2,3) starts at position 3
    -> mask covers 3,4,5; first occurrence and the fresh tail token
    keep loss. Short and repeat-free docs mask nothing."""
    from beats_spark.corpus import tokens as toks

    t = spark.createDataFrame(
        [(0, [1, 2, 3, 1, 2, 3, 4]),   # one repeated 3-gram
         (1, [7, 8]),                  # shorter than n
         (2, [1, 2, 3, 4, 5]),         # no repeats
         (3, [9, 9, 9, 9, 9, 9])],     # overlapping self-repeats
        "doc_id long, tokens array<int>",
    )
    got = {r["doc_id"]: (r["loss_mask"], r["n_masked"])
           for r in toks.repeat_ngram_mask(t, n=3).collect()}
    assert got[0] == ([1, 1, 1, 0, 0, 0, 1], 3)
    assert got[1] == ([1, 1], 0)
    assert got[2] == ([1, 1, 1, 1, 1], 0)
    # (9,9,9) first at 0; repeats start at 1,2,3 covering 1..5
    assert got[3] == ([1, 0, 0, 0, 0, 0], 5)


def test_detokenize_round_trip_and_unk(spark):
    """tokenize_ids → hash_vocab → detokenize reproduces the text
    byte-identically on a collision-free corpus; ids missing from the
    vocab render as <unk>; an empty token array keeps its row."""
    from beats_spark.corpus import tokens as toks
    docs = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "jumps over the dog")],
        "doc_id long, text string",
    )
    vocab = toks.hash_vocab(docs)
    # collision-free check: one surface form per id among these words
    n_words = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).distinct().count()
    assert vocab.count() == n_words
    back = {r["doc_id"]: r["text"]
            for r in toks.detokenize(toks.tokenize_ids(docs), vocab).collect()}
    assert back == {0: "the quick brown fox", 1: "jumps over the dog"}
    # unknown ids + empty array
    t = spark.createDataFrame(
        [(0, [123456789]), (1, [])], "doc_id long, tokens array<int>"
    )
    got = {r["doc_id"]: r["text"] for r in toks.detokenize(t, vocab).collect()}
    assert got == {0: "<unk>", 1: ""}


def test_ppl_tercile_buckets_rank_rule(spark):
    """9 docs in one language with strictly ordered scores split 3/3/3
    head/middle/tail under the integer rank rule, regardless of how
    many ranges the score domain splits into."""
    # score orders by how rare the doc's tokens are: doc i repeats a
    # token seen (10-i) times corpus-wide -> strictly increasing bits
    rows = [(i, "en", " ".join([f"t{i}"] * (9 - i))) for i in range(9)]
    for n_ranges in (1, 4):
        out = textstats.ppl_tercile_buckets(
            _docs_lang(spark, rows), by="lang", n_ranges=n_ranges
        ).collect()
        assert len(out) == 9
        by_bucket = {}
        for r in out:
            by_bucket.setdefault(r["ppl_bucket"], []).append(
                (r["bits_per_token"], r["doc_id"])
            )
        assert {k: len(v) for k, v in by_bucket.items()} == {
            "head": 3, "middle": 3, "tail": 3
        }
        assert max(by_bucket["head"]) < min(by_bucket["middle"])
        assert max(by_bucket["middle"]) < min(by_bucket["tail"])


def test_ppl_tercile_buckets_ties_and_null_group(spark):
    """Equal-score docs tie-break by doc_id (deterministic bucket
    split), groups bucket independently, and a NULL-group doc keeps
    its row with NULL score and bucket."""
    rows = [(i, "en", "a a a") for i in range(3)]  # 3 identical scores
    rows += [(10, "de", "x"), (11, "de", "y"), (12, "de", "x y")]
    df = _docs_lang(spark, rows).union(
        _docs_lang(spark, []).sparkSession.createDataFrame(
            [(99, None, "zz")], "doc_id long, lang string, text string"
        )
    )
    got = {r["doc_id"]: r["ppl_bucket"]
           for r in textstats.ppl_tercile_buckets(df, by="lang").collect()}
    # en ties: rank by doc_id -> 0 head, 1 middle, 2 tail
    assert (got[0], got[1], got[2]) == ("head", "middle", "tail")
    assert got[99] is None and len(got) == 7
    # de: x,y rarer than the x/y in doc 12? all tokens appear twice
    # except none - x:2, y:2 -> doc 10,11 score equal, doc12 equal too:
    # all three tie -> doc_id order decides
    assert (got[10], got[11], got[12]) == ("head", "middle", "tail")


def test_contamination_report_pairs(spark):
    from beats_spark.corpus.cleaning import contamination_report

    quote = " ".join(f"q{i}" for i in range(13))
    docs = _docs(spark, [f"intro {quote} outro", "totally clean text here",
                         f"{quote} and {quote}"])
    bench = spark.createDataFrame([(100, quote)], "doc_id long, text string")
    got = {(r["doc_id"], r["bench_id"]): r["shared_ngrams"]
           for r in contamination_report(docs, bench, n=13).collect()}
    # doc 0 shares exactly the one 13-gram; doc 2 quotes it twice but
    # grams are DISTINCT per doc, and its junction grams don't match
    assert got[(0, 100)] == 1 and got[(2, 100)] == 1
    assert (1, 100) not in got


def test_pack_bins_sequences_layout(spark):
    """Per-bin materialization: boundary table consistent with the
    concatenated array, docs in (n_tok DESC, doc_id) order, every
    token preserved exactly (the per-row invariant)."""
    from beats_spark.corpus.tokens import pack_bins_sequences

    seqs = [[i * 10 + j for j in range(3 + i % 5)] for i in range(12)]
    df = _tokdocs(spark, seqs)
    out = pack_bins_sequences(df, max_len=16, n_buckets=2).collect()
    seen = {}
    for r in out:
        assert r["n_docs"] == len(r["doc_ids"]) == len(r["doc_lens"])
        assert r["n_tok"] == sum(r["doc_lens"]) == len(r["tokens"])
        assert r["doc_starts"][0] == 0
        for i, (d, s, ln) in enumerate(zip(r["doc_ids"], r["doc_starts"],
                                           r["doc_lens"])):
            assert r["tokens"][s:s + ln] == seqs[d]      # exact tokens
            if i:
                assert s == r["doc_starts"][i - 1] + r["doc_lens"][i - 1]
            seen[d] = True
        lens = r["doc_lens"]
        assert lens == sorted(lens, reverse=True) or len(set(lens)) < len(lens)
    assert sorted(seen) == list(range(12))               # all docs, once


def test_sample_per_group_deterministic_and_capped(spark):
    from beats_spark.corpus.tokens import sample_per_group

    df = spark.createDataFrame(
        [(i, f"s{i % 4}") for i in range(100)], "doc_id long, source string"
    )
    a = sorted(map(tuple, sample_per_group(df, n=5).collect()))
    b = sorted(map(tuple,
                   sample_per_group(df.repartition(13), n=5).collect()))
    assert a == b and len(a) == 20
    from collections import Counter
    assert all(v == 5 for v in Counter(s for _, s in a).values())


def test_vocab_coverage_hand_case(spark):
    from beats_spark.corpus.tokens import vocab_coverage

    # id 1 ×6, id 2 ×3, id 3 ×1 → top-1 covers 0.6, top-2 covers 0.9
    df = _tokdocs(spark, [[1, 1, 1, 2, 2], [1, 1, 1, 2, 3]])
    got = {r["top_k"]: (r["covered"], r["total"], r["coverage"])
           for r in vocab_coverage(df, top_k=(1, 2, 3)).collect()}
    assert got[1] == (6, 10, 0.6)
    assert got[2] == (9, 10, 0.9)
    assert got[3] == (10, 10, 1.0)


def test_pack_training_meta_arrays(spark):
    from beats_spark.corpus.tokens import (
        pack_bins_sequences, pack_training_meta,
    )

    # two docs in one bin (3 + 2 ≤ 8) plus one oversize doc (10 > 8)
    df = _tokdocs(spark, [[10, 11, 12], [20, 21], list(range(30, 40))])
    # add n_tok, which pack_bins expects
    from pyspark.sql import functions as F
    df = df.withColumn("n_tok", F.size("tokens"))
    packed = pack_bins_sequences(df, max_len=8, n_buckets=1)
    out = {r["n_docs"]: r for r in
           pack_training_meta(packed, max_len=8, pad_id=0).collect()}
    two = out[2]  # the bin holding docs 0 and 1 (in-bin order: longer first)
    assert two["tokens"] == [10, 11, 12, 20, 21, 0, 0, 0]
    assert two["position_ids"] == [0, 1, 2, 0, 1, 0, 0, 0]
    assert two["segment_ids"] == [1, 1, 1, 2, 2, 0, 0, 0]
    assert two["loss_mask"] == [1, 1, 1, 1, 1, 0, 0, 0]
    one = out[1]  # oversize whole doc: emitted at true length, unpadded
    assert one["tokens"] == list(range(30, 40))
    assert one["position_ids"] == list(range(10))
    assert one["segment_ids"] == [1] * 10
    assert one["loss_mask"] == [1] * 10


def test_semantic_decontaminate_exact_and_never_drops(spark):
    """The broadcast-GEMM path must (a) emit exactly one row per corpus
    row, (b) pick the same argmax benchmark id as the cross-join fold
    (ties → smaller bench id), (c) emit cosines bit-identical to the
    canonical sequential fold, and (d) flag at the threshold."""
    from pyspark.sql import functions as F

    from beats_spark.corpus.similarity import (
        dot, norm, _as_double, semantic_decontaminate,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = emb.filter(F.col("vec_id") % 23 == 0)
    corpus = emb.filter(F.col("vec_id") % 23 != 0)
    got = {r["vec_id"]: r for r in
           semantic_decontaminate(corpus, bench, threshold=0.45).collect()}
    assert len(got) == corpus.count()  # never-drop contract

    # cross-join fold ground truth
    v = _as_double(F.col("embedding"))
    p = lambda df: df.select(
        F.col("vec_id"), v.alias("v"), norm(v).alias("nrm"))
    a, b = p(corpus).alias("a"), p(bench).alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    from pyspark.sql import Window
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("bench_id"))
    want = {
        r["vec_id"]: r
        for r in a.crossJoin(b)
        .select(F.col("a.vec_id").alias("vec_id"),
                F.col("b.vec_id").alias("bench_id"), cos.alias("cos"))
        .withColumn("rk", F.row_number().over(w)).filter("rk = 1").collect()
    }
    assert set(got) == set(want)
    for vid, g in got.items():
        assert g["bench_id"] == want[vid]["bench_id"], vid
        assert g["cos"] == want[vid]["cos"], vid  # bit-identical fold
        assert g["contaminated"] == (want[vid]["cos"] >= 0.45)


def test_semantic_decontaminate_empty_bench_raises(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from beats_spark.corpus.similarity import semantic_decontaminate

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _pytest.raises(ValueError, match="empty benchmark"):
        semantic_decontaminate(emb, emb.filter(F.lit(False)))


def test_fim_loss_mask_aligns_with_mid_sentinel(spark):
    """loss_mask is 0 strictly before the [MID] sentinel and 1 from it
    onward (both layouts); untransformed docs get all-ones."""
    from beats_spark.corpus.tokens import fim_transform

    df = _tokdocs(spark, [list(range(10, 10 + n)) for n in (1, 4, 7, 12, 30)])
    for mode in ("psm", "spm"):
        rows = fim_transform(df, rate=0.7, mode=mode, vocab=50257,
                             with_loss_mask=True).collect()
        assert rows, mode
        for r in rows:
            toks, mask = r["tokens"], r["loss_mask"]
            assert len(mask) == len(toks) == r["n_tok"]
            if not r["fim_applied"]:
                assert mask == [1] * len(toks)
                continue
            k = toks.index(50257 + 2)  # [MID]
            assert mask == [0] * k + [1] * (len(toks) - k), (mode, r)


def test_span_corrupt_reconstruction_and_determinism(spark):
    """Splicing each sentinel's target span back into the inputs must
    recover the original token array exactly; short docs pass through;
    output is identical across partition layouts."""
    from beats_spark.corpus.tokens import span_corrupt

    df = _tokdocs(spark, [list(range(100, 100 + n))
                          for n in (3, 8, 20, 40, 100)])
    rows = span_corrupt(df, noise_density=0.15, span_len=3,
                        vocab=500).collect()
    assert len(rows) == 5
    for r in rows:
        if not r["corrupted"]:
            assert r["targets"] == [] and r["n_spans"] == 0
            assert len(r["inputs"]) in (3,)  # only the len-3 doc
            continue
        spans, cur = {}, None
        for tok in r["targets"]:
            if tok >= 500:
                cur = tok - 500
                spans[cur] = []
            else:
                spans[cur].append(tok)
        assert cur == r["n_spans"]  # closing sentinel
        assert all(len(s) == 3 for i, s in spans.items() if i < cur)
        rec = []
        for tok in r["inputs"]:
            rec.extend(spans[tok - 500] if tok >= 500 else [tok])
        assert rec == list(range(100, 100 + len(rec))) and len(rec) >= 8

    a = sorted(map(tuple, span_corrupt(df, vocab=500).collect()))
    b = sorted(map(tuple, span_corrupt(df.repartition(7), vocab=500).collect()))
    assert a == b  # layout-independent


def test_curriculum_order_buckets_and_determinism(spark):
    from pyspark.sql import functions as F

    from beats_spark.corpus.tokens import curriculum_order

    df = spark.createDataFrame(
        [(i, (i * 37) % 1000) for i in range(400)], "doc_id long, score long"
    )
    out = curriculum_order(df, score_col="score", n_buckets=4).collect()
    assert len(out) == 400
    # bucket is monotone in score: every bucket-b score <= bucket-b+1 score
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["score"])
    assert sorted(by_bucket) == [0, 1, 2, 3]
    for b in (0, 1, 2):
        assert max(by_bucket[b]) <= min(by_bucket[b + 1])
    # quantile buckets on near-uniform scores are near-balanced
    sizes = [len(v) for _, v in sorted(by_bucket.items())]
    assert all(80 <= s <= 120 for s in sizes), sizes
    # descending curriculum flips the bucket index
    desc = {r["doc_id"]: r["bucket"] for r in curriculum_order(
        df, score_col="score", n_buckets=4, ascending=False).collect()}
    asc = {r["doc_id"]: r["bucket"] for r in out}
    assert all(desc[i] == 3 - asc[i] for i in desc)
    # layout-independent
    a = sorted(map(tuple, curriculum_order(df, score_col="score").collect()))
    b2 = sorted(map(tuple, curriculum_order(
        df.repartition(7), score_col="score").collect()))
    assert a == b2


def test_length_buckets_homogeneous_batches(spark):
    from beats_spark.corpus.tokens import length_buckets

    df = _tokdocs(spark, [list(range(n)) for n in
                          [1, 2, 3, 5, 8, 9, 16, 17, 31, 33, 64] * 20])
    out = length_buckets(df, batch_size=4, n_shards=2).collect()
    assert len(out) == 220
    from collections import defaultdict
    batches = defaultdict(list)
    for r in out:
        assert (r["n_tok"] <= 1 and r["bucket"] == 0) or (
            2 ** (r["bucket"] - 1) < r["n_tok"] <= 2 ** r["bucket"]
        )
        batches[(r["bucket"], r["shard"], r["batch_id"])].append(r)
    for rows_ in batches.values():
        assert len(rows_) <= 4
        # batch members are within 2x of each other by construction
        ns = [r["n_tok"] for r in rows_ if r["n_tok"] > 1]
        if ns:
            assert max(ns) <= 2 * min(ns)
    # pos is dense per (bucket, shard)
    per_bs = defaultdict(list)
    for r in out:
        per_bs[(r["bucket"], r["shard"])].append(r["pos"])
    assert all(sorted(v) == list(range(len(v))) for v in per_bs.values())


def test_semantic_decontaminate_degenerate_norms(spark):
    """Zero-norm corpus row → the cross-join baseline's row (NaN cos,
    smallest bench id, not contaminated); zero-norm benchmark vector →
    ValueError at build."""
    import math

    import pytest as _pytest

    from beats_spark.corpus.similarity import semantic_decontaminate

    bench = spark.createDataFrame(
        [(23, [1.0, 0.0]), (46, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [0.0, 0.0])],  # row 2 is zero-norm
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in
           semantic_decontaminate(corpus, bench, threshold=0.9).collect()}
    assert math.isnan(got[2]["cos"])
    assert got[2]["bench_id"] == 23 and not got[2]["contaminated"]
    assert got[1]["bench_id"] == 23  # tie cos=0.707.. on both; smaller id

    zbench = spark.createDataFrame(
        [(23, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="zero-norm benchmark"):
        semantic_decontaminate(corpus, zbench)


def test_curriculum_order_empty_sample_raises(spark):
    import pytest as _pytest

    from beats_spark.corpus.tokens import curriculum_order

    df = spark.createDataFrame([(1, 10)], "doc_id long, score long")
    # a single id essentially never lands under a 1-ppm sample cut
    with _pytest.raises(ValueError, match="no scores"):
        curriculum_order(df, score_col="score", sample_rate=0.000001)


def test_pack_sequences_boundaries_straddle_and_meta_composition(spark):
    """Token content matches pack_sequences exactly; the boundary table
    is consistent (starts+lens tile each sequence, straddling docs
    appear in every bin they touch); output composes straight into
    pack_training_meta."""
    from beats_spark.corpus.tokens import (
        pack_sequences, pack_sequences_boundaries, pack_training_meta,
    )

    df = _tokdocs(spark, [list(range(i * 100, i * 100 + n))
                          for i, n in enumerate([5, 3, 9, 2, 6, 300])])
    out = pack_sequences_boundaries(df, max_len=8).collect()
    want = {r["seq_no"]: r["tokens"] for r in
            pack_sequences(df, max_len=8).collect()}
    assert {r["bin_id"]: r["tokens"] for r in out} == want
    for r in out:
        assert sum(r["doc_lens"]) == r["n_tok"] == len(r["tokens"])
        assert r["doc_starts"][0] == 0
        nxt = list(r["doc_starts"][1:]) + [r["n_tok"]]
        assert all(s + l == x for s, l, x in
                   zip(r["doc_starts"], r["doc_lens"], nxt))
    # doc 5 (300 tokens) straddles many bins — once per bin it touches
    bins_with_5 = [r["bin_id"] for r in out if 5 in r["doc_ids"]]
    assert len(bins_with_5) >= 300 // 8
    meta = pack_training_meta(spark.createDataFrame(out), max_len=8).collect()
    for m in meta:
        assert (len(m["position_ids"]) == len(m["segment_ids"])
                == len(m["loss_mask"]) == len(m["tokens"]))


def test_epoch_schedule_distinct_per_epoch_permutations(spark):
    from collections import Counter

    from beats_spark.corpus.tokens import epoch_schedule

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = epoch_schedule(df, n_epochs=3, n_shards=8).collect()
    assert len(out) == 600
    assert Counter(r["epoch"] for r in out) == {0: 200, 1: 200, 2: 200}
    orders = {
        e: [r["doc_id"] for r in sorted(
            (x for x in out if x["epoch"] == e),
            key=lambda r: (r["shard"], r["sort_key"], r["doc_id"]))]
        for e in (0, 1, 2)
    }
    # each epoch is a full permutation, and the permutations differ
    assert all(sorted(v) == list(range(200)) for v in orders.values())
    assert orders[0] != orders[1] != orders[2]
    # layout-independent
    a = sorted(map(tuple, epoch_schedule(df, 2, 8).collect()))
    b = sorted(map(tuple, epoch_schedule(df.repartition(7), 2, 8).collect()))
    assert a == b


def test_batch_schedule_partitions_positions_into_steps(spark):
    import pytest as _pytest

    from beats_spark.corpus.tokens import batch_schedule, shuffle_shards

    df = spark.createDataFrame([(str(i),) for i in range(433)],
                               "doc_id string")
    out = batch_schedule(df, global_batch=32, n_ranks=4, n_shards=8).collect()
    # drop_last trims the trailing partial batch: 433 -> 13 full batches
    assert len(out) == 416
    assert sorted(r["global_pos"] for r in out) == list(range(416))
    for r in out:
        assert r["step"] == r["global_pos"] // 32
        assert r["dp_rank"] == (r["global_pos"] % 32) // 8
        assert r["slot"] == r["global_pos"] % 8
    # every (step, rank, slot) cell is occupied exactly once
    cells = {(r["step"], r["dp_rank"], r["slot"]) for r in out}
    assert len(cells) == 416
    # global order is shard-major over the shuffle_shards permutation
    sh = {r["doc_id"]: (r["shard"], r["sort_key"])
          for r in shuffle_shards(df, n_shards=8).collect()}
    expect = sorted(sh, key=lambda d: (*sh[d], d))[:416]
    got = [r["doc_id"] for r in sorted(out, key=lambda r: r["global_pos"])]
    assert got == expect
    # layout-independent
    a = sorted(map(tuple, out))
    b = sorted(map(tuple, batch_schedule(
        df.repartition(7), global_batch=32, n_ranks=4, n_shards=8).collect()))
    assert a == b
    # keep-all mode pads out the tail positions
    full = batch_schedule(df, global_batch=32, n_ranks=4, n_shards=8,
                          drop_last=False)
    assert full.count() == 433
    with _pytest.raises(ValueError):
        batch_schedule(df, global_batch=30, n_ranks=4)


def test_step_token_balance_hand_math(spark):
    from collections import defaultdict

    from beats_spark.corpus.tokens import batch_schedule, step_token_balance

    df = spark.createDataFrame(
        [(str(i), 10 + (i * 7) % 23) for i in range(37)],
        "doc_id string, n_tok int",
    )
    out = {r["step"]: r for r in
           step_token_balance(df, global_batch=8, n_ranks=2,
                              n_shards=4).collect()}
    assert len(out) == 4  # 37 docs -> 4 full batches of 8
    # recompute from the schedule directly
    toks = {r["doc_id"]: r["n_tok"] for r in df.collect()}
    loads = defaultdict(int)
    for r in batch_schedule(df, global_batch=8, n_ranks=2,
                            n_shards=4).collect():
        loads[(r["step"], r["dp_rank"])] += toks[r["doc_id"]]
    for step, row in out.items():
        ranks = [loads[(step, k)] for k in (0, 1)]
        assert row["ranks"] == 2
        assert row["step_tokens"] == sum(ranks)
        assert row["min_rank_tokens"] == min(ranks)
        assert row["max_rank_tokens"] == max(ranks)
        assert row["imbalance_ppm"] == max(ranks) * 1000000 * 2 // sum(ranks)
        assert row["imbalance_ppm"] >= 1000000


def test_corpus_report_hand_case(spark):
    from beats_spark.corpus.textstats import corpus_report

    good = ("This is a reasonably long natural paragraph of text that "
            "should pass the quality rules. It has several proper "
            "sentences, normal punctuation, and the usual stopwords "
            "that the filters look for in clean text.")
    df = spark.createDataFrame(
        [(1, good, "a", len(good)),
         (2, good, "a", len(good)),          # exact dup of 1
         (3, "x", "b", 1)],                  # too short: fails quality
        "doc_id long, text string, source string, n_chars long",
    )
    r = corpus_report(df).collect()[0]
    assert r["n_docs"] == 3 and r["n_sources"] == 2
    assert r["total_chars"] == 2 * len(good) + 1
    assert r["n_unique_texts"] == 2
    # pass count must agree with quality_filters itself (the short doc
    # fails; whether `good` passes every Gopher rule is the filter's
    # business, not this report's)
    from beats_spark.corpus.textstats import quality_filters
    want_pass = quality_filters(df).filter("passes_quality").count()
    assert r["n_quality_pass"] == want_pass < 3


def test_quality_classifier_hashed_matches_reference_math(spark):
    import hashlib

    from beats_spark.corpus.textstats import quality_classifier

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    texts = {1: "the quick brown fox", 2: "single", 3: "a b a b a"}
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in quality_classifier(df, n_buckets=1 << 18).collect()}
    for did, text in texts.items():
        words = text.split(" ")
        feats = words + [f"{a} {b}" for a, b in zip(words, words[1:])]
        want_sum = sum(
            h32("qc:w:" + str(h32("qc:" + f) % (1 << 18))) % 2001 - 1000
            for f in feats
        )
        r = out[did]
        assert r["n_feat"] == len(feats)
        assert r["sum_w"] == want_sum
        want_ppm = round(want_sum * 1000.0 / max(len(feats), 1))
        assert r["score_ppm"] == want_ppm
        assert r["passes_classifier"] == (r["score_ppm"] >= 0)


def test_quality_classifier_broadcast_weight_table(spark):
    from beats_spark.corpus.textstats import quality_classifier

    df = spark.createDataFrame(
        [(1, "good good text"), (2, "bad unknown")],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        [("good", 500), ("bad", -900), ("good good", 100)],
        "feature string, weight long",
    )
    out = {r["doc_id"]: r for r in
           quality_classifier(df, weights=weights, threshold_ppm=100).collect()}
    # doc 1: feats = good, good, text, "good good", "good text"
    #        → 500 + 500 + 0 + 100 + 0 = 1100 over 5 feats
    assert out[1]["n_feat"] == 5 and out[1]["sum_w"] == 1100
    assert out[1]["score_ppm"] == round(1100 * 1000.0 / 5)
    assert bool(out[1]["passes_classifier"]) is True
    # doc 2: feats = bad, unknown, "bad unknown" → -900 over 3
    assert out[2]["n_feat"] == 3 and out[2]["sum_w"] == -900
    assert bool(out[2]["passes_classifier"]) is False


def test_truncation_stats_hand_case(spark):
    from beats_spark.corpus.tokens import truncation_stats

    df = spark.createDataFrame(
        [(1, list(range(3)), 3), (2, list(range(10)), 10)],
        "doc_id long, tokens array<int>, n_tok int",
    )
    out = {r["ctx_len"]: r for r in
           truncation_stats(df, ctx_lens=(4, 8)).collect()}
    assert set(out) == {4, 8}
    r4, r8 = out[4], out[8]
    assert r4["n_docs"] == 2 and r4["n_docs_truncated"] == 1
    assert r4["tokens_total"] == 13 and r4["tokens_kept"] == 7
    assert r4["tokens_lost"] == 6
    assert r4["kept_ppm"] == round(7 * 1000000.0 / 13)
    assert r8["n_docs_truncated"] == 1 and r8["tokens_kept"] == 11
    assert r8["tokens_lost"] == 2


def _rhalf(x: float) -> int:
    import math as _m

    return int(_m.copysign(_m.floor(abs(x) + 0.5), x))


def test_train_classifier_nb_hand_math(spark):
    import math as _m

    from beats_spark.corpus.textstats import train_classifier_nb

    rows = [(1, "spam spam offer", True), (2, "hello world", False),
            (3, "spam offer", True)]
    df = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    out = {r["feature"]: r for r in train_classifier_nb(df).collect()}

    # recompute counts by hand: features are unigrams + space-joined bigrams
    feats = {}
    for _, text, pos in rows:
        words = text.split(" ")
        fs = words + [f"{a} {b}" for a, b in zip(words, words[1:])]
        for f in fs:
            cp, cn = feats.get(f, (0, 0))
            feats[f] = (cp + (1 if pos else 0), cn + (0 if pos else 1))
    tp = sum(c for c, _ in feats.values())
    tn = sum(c for _, c in feats.values())
    v = len(feats)
    assert set(out) == set(feats)
    for f, (cp, cn) in feats.items():
        w = _rhalf(_m.log2((cp + 1) / (tp + v)) * 1e6) - _rhalf(
            _m.log2((cn + 1) / (tn + v)) * 1e6
        )
        assert out[f]["c_pos"] == cp and out[f]["c_neg"] == cn
        assert out[f]["weight"] == w, f
    # sanity: positive-only features weigh positive, negative-only negative
    assert out["spam"]["weight"] > 0 > out["hello"]["weight"]


def test_quality_classifier_trained_separates(spark):
    from beats_spark.corpus.textstats import quality_classifier, train_classifier_nb

    labeled = spark.createDataFrame(
        [(1, "clean prose sentence here", True),
         (2, "clean prose paragraph here", True),
         (3, "junk junk junk junk", False),
         (4, "junk noise noise junk", False)],
        "doc_id long, text string, label boolean",
    )
    w = train_classifier_nb(labeled)
    scored = {r["doc_id"]: r for r in
              quality_classifier(labeled, weights=w).collect()}
    assert scored[1]["score_ppm"] > scored[3]["score_ppm"]
    assert bool(scored[1]["passes_classifier"]) is True
    assert bool(scored[3]["passes_classifier"]) is False


def test_source_kl_identical_vs_skewed(spark):
    from beats_spark.corpus.textstats import source_kl

    # a and b have IDENTICAL token distributions -> per-token dist ==
    # corpus dist for every shared token only if the third source
    # doesn't shift the mix; so test the pure two-source case first
    df = spark.createDataFrame(
        [(1, "x y", "a"), (2, "x y", "b")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in source_kl(df).collect()}
    assert out["a"]["kl_mbits"] == 0 and out["b"]["kl_mbits"] == 0
    assert out["a"]["n_tokens"] == 2 and out["a"]["n_distinct"] == 2

    df2 = spark.createDataFrame(
        [(1, "x x x x", "skew"), (2, "x y z w", "flat")],
        "doc_id long, text string, source string",
    )
    out2 = {r["source"]: r for r in source_kl(df2).collect()}
    # the all-x source diverges from the mixed corpus distribution
    assert out2["skew"]["kl_mbits"] > 0
    assert out2["skew"]["kl_mbits"] > out2["flat"]["kl_mbits"] - 1


def test_incremental_neardup_flags(spark):
    from beats_spark.corpus.dedup import incremental_neardup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    existing = spark.createDataFrame(
        [(10, base), (11, "one two three four five six seven eight")],
        "doc_id long, text string",
    )
    # one token differs; this mutation is verified (deterministic md5
    # hashing) to still share an LSH band with doc 10 — a changed token
    # CAN land outside every band (that's LSH recall, not a bug)
    near_text = base.rsplit(" ", 1)[0] + " OMEGA"
    new = spark.createDataFrame(
        [(100, base),              # exact copy of 10
         (101, near_text),         # near-dup of 10
         (102, "totally different words appear in this novel document")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           incremental_neardup(new, existing, min_matches=8).collect()}
    assert set(out) == {100, 101, 102}  # row contract: one row per new doc
    assert bool(out[100]["exact_dup"]) is True and out[100]["exact_of"] == 10
    assert out[100]["near_matches"] == 16 and out[100]["near_of"] == 10
    assert bool(out[101]["exact_dup"]) is False
    assert out[101]["near_of"] == 10 and 8 <= out[101]["near_matches"] < 16
    assert bool(out[102]["exact_dup"]) is False
    assert out[102]["near_matches"] == 0 and out[102]["near_of"] is None


def test_quality_by_source_matches_per_doc_composition(spark):
    from beats_spark.corpus.textstats import (
        quality_by_source, quality_classifier, quality_filters,
    )

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over it for a that is good", "a"),
         (2, "# # # # #", "a"),
         (3, "the cat sat on the mat and it is that fine too", "b")],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in quality_by_source(df).collect()}
    qf = {r["doc_id"]: r["passes_quality"]
          for r in quality_filters(df).collect()}
    sc = {r["doc_id"]: r["score_ppm"]
          for r in quality_classifier(df).collect()}
    rows = [(1, "a"), (2, "a"), (3, "b")]
    for src in ("a", "b"):
        ids = [i for i, s in rows if s == src]
        r = out[src]
        assert r["n_docs"] == len(ids)
        assert r["n_quality_pass"] == sum(1 for i in ids if qf[i])
        assert r["sum_score_ppm"] == sum(sc[i] for i in ids)
        assert r["pass_ppm"] == round(
            r["n_quality_pass"] * 1000000.0 / r["n_docs"]
        )


def test_bm25_topk_hand_math(spark):
    import math as _m

    from beats_spark.corpus.textstats import bm25_topk

    docs = [(1, "apple banana apple"), (2, "banana cherry"),
            (3, "cherry cherry cherry durian")]
    queries = [(100, "apple cherry")]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    qdf = spark.createDataFrame(queries, "query_id long, query string")
    out = {(r["query_id"], r["doc_id"]): r
           for r in bm25_topk(ddf, qdf, k=10).collect()}

    n = len(docs)
    lens = {d: len(t.split(" ")) for d, t in docs}
    avgdl = sum(lens.values()) / n
    tf = {}
    for d, t in docs:
        for w in t.split(" "):
            tf[(d, w)] = tf.get((d, w), 0) + 1
    dft = {}
    for (d, w) in tf:
        dft[w] = dft.get(w, 0) + 1

    def idf(w):
        return _rhalf(_m.log2((n - dft[w] + 0.5) / (dft[w] + 0.5) + 1.0) * 1e6)

    def contrib(d, w):
        f = tf.get((d, w), 0)
        if not f:
            return None
        norm = (f * (1.2 + 1.0)) / (
            f + 1.2 * (1.0 - 0.75 + 0.75 * (lens[d] / avgdl))
        )
        return _rhalf(idf(w) * norm)

    expect = {}
    for d, _ in docs:
        cs = [c for w in ["apple", "cherry"]
              if (c := contrib(d, w)) is not None]
        if cs:
            expect[d] = sum(cs)
    assert {d for (_, d) in out} == set(expect)
    for d, s in expect.items():
        assert out[(100, d)]["score_mu"] == s, d
    # ranking: deterministic by (score desc, doc_id asc)
    ranked = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))
    for i, (d, _) in enumerate(ranked, 1):
        assert out[(100, d)]["rank"] == i


def test_packing_efficiency_hand_case(spark):
    from beats_spark.corpus.tokens import packing_efficiency

    packed = spark.createDataFrame(
        [(1, 64, 10), (2, 64, 10),    # full bin
         (3, 100, 11),                # 28 padding
         (4, 200, 12)],               # overfull (long doc)
        "doc_id long, n_tok int, bin_id long",
    )
    r = packing_efficiency(packed, max_len=128).collect()[0]
    assert r["max_len"] == 128 and r["n_bins"] == 3 and r["n_docs"] == 4
    assert r["tokens_total"] == 428 and r["slots_total"] == 384
    assert r["padding_tokens"] == 28 and r["overfull_bins"] == 1
    assert r["fill_ppm"] == round(428 * 1000000.0 / 384)


def test_quality_sample_matches_hash_draw(spark):
    import hashlib

    from beats_spark.corpus.textstats import quality_classifier, quality_sample

    df = spark.createDataFrame(
        [(i, f"doc number {i} words vary here") for i in range(20)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in quality_sample(df).collect()}
    scores = {r["doc_id"]: r["score_ppm"]
              for r in quality_classifier(df).collect()}
    assert set(out) == set(scores)  # row contract
    for did, r in out.items():
        assert r["score_ppm"] == scores[did]
        p = max(min(500000 + scores[did], 1000000), 0)
        assert r["p_ppm"] == p
        draw = int(hashlib.md5(f"qsample:{did}".encode()).hexdigest()[:8],
                   16) % 1000000
        assert bool(r["selected"]) == (draw < p)


def test_split_assign_by_col_groups_stay_together(spark):
    from beats_spark.corpus.tokens import split_assign

    df = spark.createDataFrame(
        [(i, i % 7) for i in range(70)], "doc_id long, canonical_id long"
    )
    out = split_assign(df, by_col="canonical_id").collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r["canonical_id"], set()).add(r["split"])
    # every group lands in exactly one split
    assert all(len(s) == 1 for s in by_group.values())
    # plain per-id split must differ from the grouped one somewhere
    plain = {r["doc_id"]: r["split"]
             for r in split_assign(df).collect()}
    grouped = {r["doc_id"]: r["split"] for r in out}
    assert plain != grouped


# -- duplication-audit datacards ----------------------------------------------


def test_dup_profile_histogram(spark):
    df = _docs(spark, ["a", "a", "a", "b", "b", "c", "d"])
    got = rows(
        dedup.dup_profile(df, ["text"], "doc_id"),
        "n_copies", "n_clusters", "n_docs", "n_excess",
    )
    # one text x3, one x2, two x1
    assert got == [(1, 2, 2, 0), (2, 1, 2, 1), (3, 1, 3, 2)]
    # invariant: n_docs sums to the input row count
    assert sum(r[2] for r in got) == df.count()


def test_source_overlap_jaccard(spark):
    data = [
        # src A: texts t1 t2 t3; src B: t2 t3 t4; src C: t9 (disjoint)
        (0, "t1", "A"), (1, "t2", "A"), (2, "t3", "A"),
        (3, "t2", "B"), (4, "t3", "B"), (5, "t4", "B"),
        (6, "t9", "C"),
        # duplicate row inside A: distinct-fp semantics must ignore it
        (7, "t1", "A"),
    ]
    df = spark.createDataFrame(data, "doc_id long, text string, source string")
    got = rows(
        dedup.source_overlap(df),
        "source_a", "source_b", "n_shared", "n_a", "n_b", "jaccard_ppm",
    )
    # only the A-B pair overlaps; C never appears (no shared fp)
    assert got == [("A", "B", 2, 3, 3, 500000)]


def test_soft_dedup_weights_sum_to_unit_mass(spark):
    df = _docs(spark, ["a", "a", "a", "b", "b", "c"])
    out = rows(
        dedup.soft_dedup_weights(df, ["text"], "doc_id"),
        "doc_id", "n_copies", "weight_ppm",
    )
    # every input doc keeps a row
    assert len(out) == 6
    by_id = {r[0]: r for r in out}
    # triple 'a' -> 333333 each; pair 'b' -> 500000; unique 'c' -> 1e6
    assert by_id[0][1:] == (3, 333333)
    assert by_id[3][1:] == (2, 500000)
    assert by_id[5][1:] == (1, 1000000)


def test_soft_dedup_weights_sharpness(spark):
    df = _docs(spark, ["a", "a", "b"])
    out = {r[0]: r[1] for r in rows(
        dedup.soft_dedup_weights(df, ["text"], "doc_id", sharpness=2.0),
        "doc_id", "weight_ppm",
    )}
    # n=2, t=2 -> 1e6 / 4; singleton unchanged
    assert out[0] == 250000
    assert out[2] == 1000000


def test_neardup_profile_histogram(spark):
    cl = spark.createDataFrame(
        # one 3-cluster, one 2-cluster, two singletons
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5), (6, 6)],
        "doc_id long, canonical_id long",
    )
    got = rows(
        dedup.neardup_profile(cl),
        "n_members", "n_clusters", "n_docs", "n_excess",
    )
    assert got == [(1, 2, 2, 0), (2, 1, 2, 1), (3, 1, 3, 2)]
    assert sum(r[2] for r in got) == cl.count()


def test_split_leakage_report_filters_cross_split_pairs(spark):
    sp = spark.createDataFrame(
        [(0, "train"), (1, "train"), (2, "test"), (3, "val")],
        "doc_id long, split string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (2, 3)], "doc_a long, doc_b long"
    )
    got = rows(
        dedup.split_leakage_report(sp, pairs),
        "doc_a", "doc_b", "split_a", "split_b",
    )
    # (0,1) same split -> dropped; the two straddlers survive
    assert got == [(0, 2, "train", "test"), (2, 3, "test", "val")]


def test_split_leakage_safe_split_has_zero_leakage(spark):
    from beats_spark.corpus import tokens as toks

    # identical texts share every LSH band -> guaranteed pair
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = _docs(spark, [base, base, base + " extra tail", "unrelated " * 6])
    pairs = dedup.minhash_neardup_pairs(df).select("doc_a", "doc_b")
    assert pairs.count() > 0
    cl = dedup.neardup_resolve(pairs, df)
    safe = toks.split_assign(cl, by_col="canonical_id")
    assert dedup.split_leakage_report(safe, pairs).count() == 0
    # self-consistency of the PLAIN split's report: rows == pairs whose
    # endpoints landed in different splits per the engine's own labels
    plain = toks.split_assign(df, train_pct=50, val_pct=25)
    labels = {r["doc_id"]: r["split"] for r in plain.collect()}
    expect = sum(
        1 for r in pairs.collect()
        if labels[r["doc_a"]] != labels[r["doc_b"]]
    )
    assert dedup.split_leakage_report(plain, pairs).count() == expect


def test_padding_stats_hand_math(spark):
    from beats_spark.corpus import tokens as toks

    lay = spark.createDataFrame(
        [
            (3, 0, 0, 5), (3, 0, 0, 7), (3, 0, 0, 6),   # pads to 7
            (3, 0, 1, 8),                                # partial batch
            (4, 1, 0, 9), (4, 1, 0, 16),                 # pads to 16
        ],
        "bucket int, shard int, batch_id long, n_tok int",
    )
    got = rows(
        toks.padding_stats(lay),
        "bucket", "n_batches", "real_tokens", "padded_slots", "waste_ppm",
    )
    # bucket 3: batches (3x7=21 vs 18) + (1x8=8 vs 8) -> 3/29
    # bucket 4: 2x16=32 vs 25 -> 7/32
    assert got == [
        (3, 2, 26, 29, round((29 - 26) * 1e6 / 29)),
        (4, 1, 25, 32, round((32 - 25) * 1e6 / 32)),
    ]


def test_length_resample_weights_equalize_bucket_mass(spark):
    from beats_spark.corpus import tokens as toks

    df = spark.createDataFrame(
        [(i, list(range(n))) for i, n in enumerate([1, 2, 3, 4, 8])],
        "doc_id long, tokens array<int>",
    )
    out = rows(
        toks.length_resample_weights(df),
        "doc_id", "bucket", "n_docs", "weight_ppm",
    )
    assert len(out) == 5  # every doc keeps a row
    by_bucket = {}
    for _, b, n, w in out:
        by_bucket.setdefault(b, []).append((n, w))
    # K=4 buckets (0,1,2,3), total 5 docs: weight = 5e6 / (4 * n_docs)
    assert sorted(by_bucket) == [0, 1, 2, 3]
    assert by_bucket[0] == [(1, 1250000)]
    assert by_bucket[2] == [(2, 625000), (2, 625000)]
    # per-bucket mass is equal across buckets
    masses = {b: sum(w for _, w in v) for b, v in by_bucket.items()}
    assert len(set(masses.values())) == 1


def test_chat_loss_mask_roles_and_sentinels(spark):
    from beats_spark.corpus import tokens as toks

    conv = spark.createDataFrame(
        [(7, [("user", [10, 11]), ("assistant", [20]), ("tool", [30])])],
        "conv_id long, turns array<struct<role:string,tokens:array<int>>>",
    )
    got = rows(
        toks.chat_loss_mask(conv), "conv_id", "tokens", "loss_mask", "n_tok"
    )
    # sentinels: user=2, assistant=3, unknown role -> -1; mask is 1
    # only on assistant CONTENT (never on sentinels)
    assert got == [(7, [2, 10, 11, 3, 20, -1, 30],
                    [0, 0, 0, 0, 1, 0, 0], 7)]


def test_preference_pairs_tiebreak_and_drops(spark):
    from beats_spark.corpus import tokens as toks

    pool = spark.createDataFrame(
        [
            (1, 10, 5), (1, 11, 9), (1, 12, 9),   # tie on best: min id wins
            (2, 20, 7),                            # singleton: no pair
            (3, 30, 4), (3, 31, 4),                # all-tie: margin 0, drop
        ],
        "prompt_id long, response_id long, score long",
    )
    got = rows(
        toks.preference_pairs(pool),
        "prompt_id", "chosen_id", "rejected_id",
        "chosen_score", "rejected_score", "margin",
    )
    assert got == [(1, 11, 10, 9, 5, 4)]


def test_log_corpus_bridge_counts(spark):
    from beats_spark.corpus.entry_queries import q_log_corpus_bridge

    sf = "/root/testdata/sf0.001"
    out = q_log_corpus_bridge(spark, sf)
    ev = spark.read.parquet(f"{sf}/events.parquet").filter(
        F.col("event_type") != "view"
    )
    lvl = (
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("value") >= 400, "warn")
        .otherwise("info")
    )
    texts = ev.select(
        F.concat(
            lvl, F.lit(" "), F.col("event_type"), F.lit(" evt u"),
            (F.col("user_id") % 100).cast("string"),
        ).alias("text")
    ).distinct()
    # one packed token row per token of each DISTINCT surviving text
    expect = texts.select(
        F.sum(F.size(F.split("text", " "))).alias("n")
    ).first()["n"]
    assert out.count() == expect
    # every sequence except the last (highest seq_no) is full
    counts = {r["seq_no"]: r["c"] for r in out.groupBy("seq_no").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    last = max(counts)
    assert all(c == 64 for s, c in counts.items() if s != last)
    assert counts[last] <= 64


def test_token_budget_sample_cut_line_and_bucket_invariance(spark):
    from beats_spark.corpus import tokens as toks

    pool = spark.createDataFrame(
        [(i, "A" if i < 40 else "B", 10 + (i % 7)) for i in range(60)],
        "doc_id long, source string, n_tok long",
    )
    out = toks.token_budget_sample(pool, 100)
    got = out.collect()
    assert len(got) == 60  # one audit row per input doc
    for src in ("A", "B"):
        kept = [r for r in got if r["source"] == src and r["kept"]]
        dropped = [r for r in got if r["source"] == src and not r["kept"]]
        assert max(r["cum_tok"] for r in kept) <= 100
        assert min(r["cum_tok"] for r in dropped) > 100
        # cumsum is consistent: kept token total == max kept cum_tok
        assert sum(r["n_tok"] for r in kept) == max(r["cum_tok"] for r in kept)
    # bucket-count invariance (the _global_starts property)
    one = {(r["doc_id"], r["cum_tok"], r["kept"])
           for r in toks.token_budget_sample(pool, 100, n_buckets=1).collect()}
    many = {(r["doc_id"], r["cum_tok"], r["kept"])
            for r in toks.token_budget_sample(pool, 100, n_buckets=256).collect()}
    assert one == many


def test_token_budget_sample_dict_budgets(spark):
    from beats_spark.corpus import tokens as toks

    pool = spark.createDataFrame(
        [(i, "A" if i % 2 == 0 else "B", 10) for i in range(20)],
        "doc_id long, source string, n_tok long",
    )
    out = toks.token_budget_sample(pool, {"A": 30, "B": 70}).collect()
    kept = {"A": 0, "B": 0}
    for r in out:
        if r["kept"]:
            kept[r["source"]] += r["n_tok"]
    assert kept == {"A": 30, "B": 70}


def test_minhash_lsh_recall_gate(spark):
    """Quality gate for the LSH index itself (the dedup analog of the
    ANN recall gates): on a synthetic corpus with KNOWN shingle-Jaccard
    pairs, the 16-hash/4-band index must catch every high-J pair and
    invent none. Deterministic hashes -> exact, stable numbers."""
    def words(seed, n=60):
        return [f"w{seed}x{j}" for j in range(n)]

    def shingle_set(toks, k=3):
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

    rows_, truth = [], {}
    for i in range(30):
        a = words(i)
        b = list(a)
        m = 1 + (i % 6)  # 1..6 mutations -> true J from 0.90 down to 0.53
        for j in range(m):
            b[5 + j * 9] = f"mut{i}x{j}"
        truth[(2 * i, 2 * i + 1)] = (
            len(shingle_set(a) & shingle_set(b))
            / len(shingle_set(a) | shingle_set(b))
        )
        rows_.append((2 * i, " ".join(a)))
        rows_.append((2 * i + 1, " ".join(b)))
    df = spark.createDataFrame(rows_, "doc_id long, text string")
    found = {(r["doc_a"], r["doc_b"]) for r in
             dedup.minhash_neardup_pairs(df)
             .select("doc_a", "doc_b").collect()}
    hi = {p for p, j in truth.items() if j >= 0.73}
    # every pair at or above the 4-band S-curve knee is caught
    assert hi <= found
    # nothing across unrelated documents (precision: candidates only
    # ever come from true mutated twins)
    assert found <= set(truth)
    # and the catch rate decays with J (S-curve sanity, exact pins)
    frac = lambda j: (
        sum(1 for p in truth if abs(truth[p] - j) < 1e-9 and p in found)
        / sum(1 for p in truth if abs(truth[p] - j) < 1e-9)
    )
    assert frac(next(j for j in truth.values() if j > 0.9)) == 1.0
