"""Driver-contract queries + DuckDB oracles for the corpus operators
(registered as rows of ``__spark_entry__.REGISTRY``).

Each Spark query runs the engine operator; the oracle re-derives the
same result in pure SQL (md5-based portable hashing makes minhash /
simhash / LSH bit-checkable across engines). Oracles that share
constants with the engine (stopwords, language markers, LSH planes) are
GENERATED from the same Python constants, so the two sides cannot
drift."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.corpus import dedup, similarity, textstats

H32_SQL = "('0x' || substr(md5({expr}), 1, 8))::BIGINT"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# -- exact dedup -------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_docs(spark, sf_dir), ["text"], "doc_id")


_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY text
"""


def _docs_with_mirror(spark, sf_dir):
    """documents plus a deterministic 'mirror recrawl': every doc whose
    md5(doc_id) starts with 0-5 (~3/8 of rows) reappears under
    source '<source>_mirror' with a fresh doc_id — the synthetic-dup
    fixture for the duplication-audit datacards (the base table has no
    exact duplicates at any SF)."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "source"
    )
    mirror = docs.filter(
        F.substring(F.md5("doc_id"), 1, 1).isin(*"012345")
    ).select(
        F.concat(F.col("doc_id"), F.lit("_m")).alias("doc_id"),
        "text",
        F.concat(F.col("source"), F.lit("_mirror")).alias("source"),
    )
    return docs.unionByName(mirror)


_MIRROR_SQL = """
mirrored AS (
  SELECT doc_id::VARCHAR AS doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id::VARCHAR || '_m' AS doc_id, text,
         source || '_mirror' AS source
  FROM documents
  WHERE substr(md5(doc_id::VARCHAR), 1, 1)
        IN ('0','1','2','3','4','5')
)
"""


def q_dup_profile(spark, sf_dir):
    return dedup.dup_profile(
        _docs_with_mirror(spark, sf_dir), ["text"], "doc_id"
    )


_DUP_PROFILE_SQL = f"""
WITH {_MIRROR_SQL},
sizes AS (SELECT count(*) AS n_copies FROM mirrored GROUP BY text)
SELECT n_copies, count(*) AS n_clusters,
       n_copies * count(*) AS n_docs,
       (n_copies - 1) * count(*) AS n_excess
FROM sizes GROUP BY n_copies
"""


def q_source_overlap(spark, sf_dir):
    return dedup.source_overlap(_docs_with_mirror(spark, sf_dir))


_SOURCE_OVERLAP_SQL = f"""
WITH {_MIRROR_SQL},
fp AS (SELECT DISTINCT source, md5(text) AS fp FROM mirrored),
per AS (SELECT source, count(*) AS n_distinct FROM fp GROUP BY source),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         count(*) AS n_shared
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT s.source_a, s.source_b, s.n_shared,
       pa.n_distinct AS n_a, pb.n_distinct AS n_b,
       CAST(round(s.n_shared * 1000000.0
                  / (pa.n_distinct + pb.n_distinct - s.n_shared)) AS BIGINT)
         AS jaccard_ppm
FROM shared s
JOIN per pa ON pa.source = s.source_a
JOIN per pb ON pb.source = s.source_b
"""


def q_soft_dedup(spark, sf_dir):
    """SoftDeDup duplicate reweighting over the mirror-recrawl fixture:
    every doc kept, weight_ppm = round(1e6 / n_copies) — a duplicate
    group's weights sum to one unit of training mass."""
    return dedup.soft_dedup_weights(
        _docs_with_mirror(spark, sf_dir), ["text"], "doc_id"
    )


_SOFT_DEDUP_SQL = f"""
WITH {_MIRROR_SQL},
c AS (SELECT md5(text) AS fp, count(*) AS n_copies
      FROM mirrored GROUP BY md5(text))
SELECT m.doc_id, c.n_copies,
       CAST(round(1000000.0 / c.n_copies) AS BIGINT) AS weight_ppm
FROM mirrored m JOIN c ON md5(m.text) = c.fp
"""


# -- text stats --------------------------------------------------------------


def q_text_stats(spark, sf_dir):
    out = textstats.text_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_stopwords").cast("long").alias("n_stopwords"),
        F.col("n_alpha").cast("long").alias("n_alpha"),
        F.col("n_digit").cast("long").alias("n_digit"),
        "word_chars",
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "is_quality",
    )


def _text_stats_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)
    bpe = textstats.BPE_TOKEN_RE.replace("\\", "\\\\") if False else textstats.BPE_TOKEN_RE
    return f"""
WITH s AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id,
  len(toks)::BIGINT AS n_words,
  len(list_filter(toks, t -> t IN ({stop})))::BIGINT AS n_stopwords,
  length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS n_alpha,
  length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS n_digit,
  COALESCE(CAST(list_sum(list_transform(toks, w -> length(w))) AS BIGINT), 0) AS word_chars,
  len(regexp_extract_all(text, '{bpe}'))::BIGINT AS n_bpe_tokens,
  (len(toks) >= 5 AND len(toks) <= 5000
   AND len(list_filter(toks, t -> t IN ({stop}))) * 10 <= len(toks) * 4
   AND length(regexp_replace(text, '[^a-z]', '', 'g')) * 10 >= length(text) * 5
  ) AS is_quality
FROM s
"""


# -- language id -------------------------------------------------------------


def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_docs(spark, sf_dir)).select("doc_id", "predicted_lang")


def _lang_id_sql() -> str:
    order = list(textstats.LANG_MARKERS)
    score_cols = []
    for lang, markers in textstats.LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(f"len(list_filter(toks, t -> t IN ({lst}))) AS s_{lang}")
    whens = []
    for i, lang in enumerate(order):
        conds = [f"s_{lang} > 0"]
        for j, other in enumerate(order):
            if other == lang:
                continue
            op = ">" if j < i else ">="
            conds.append(f"s_{lang} {op} s_{other}")
        whens.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return f"""
WITH s AS (
  SELECT doc_id, {', '.join(score_cols)}
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT doc_id, CASE {' '.join(whens)} ELSE 'und' END AS predicted_lang FROM s
"""


# -- fingerprint & simhash ---------------------------------------------------


def q_doc_fingerprint(spark, sf_dir):
    return textstats.doc_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp")


_DOC_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q_winnow_fp(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints: char 5-gram
    hashes, window-of-4 minima, distinct — exploded to one scalar
    (doc_id, fp) row per selected hash (the natural shape for the
    downstream candidate equi-join; also driver-hashable)."""
    return textstats.winnow_fingerprints_exploded(_docs(spark, sf_dir), k=5, w=4)


_WINNOW_FP_SQL_TMPL = "WITH {ex} SELECT doc_id, fp::BIGINT AS fp FROM ex"


def _winnow_ex_sql(k: int, w: int) -> str:
    """The exploded (doc_id, fp) winnowing CTE chain for any (k, w) —
    generated from the same parameters as the engine call so the two
    sides cannot drift."""
    return f"""
n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN length(t) - {k - 1} >= 1 THEN
           list_transform(range(1, (length(t) - {k - 1})::INT + 1),
                          i -> {H32_SQL.format(expr=f"substr(t, i::INT, {k})")})
         ELSE [] END AS h
  FROM n
), sel AS (
  SELECT doc_id,
         CASE WHEN len(h) - {w - 1} >= 1 THEN
           list_transform(range(1, (len(h) - {w - 1})::INT + 1),
                          i -> list_min(list_slice(h, i::INT, i::INT + {w - 1})))
         WHEN len(h) >= 1 THEN [list_min(h)]
         ELSE [] END AS fps
  FROM g
), ex AS (
  SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM sel
)"""


_WINNOW_FP_SQL = _WINNOW_FP_SQL_TMPL.format(ex=_winnow_ex_sql(5, 4))

#: winnow near-dup params: k=20 char-grams make fingerprints RARE on
#: this small-vocabulary corpus (251k distinct fps at sf0.1 vs 1,002 at
#: k=5 — k=5's hot fps drove the candidate equi-join to 590M row-pairs,
#: ~1,100× the k=20 cost). Shared-fp counts are cleanly bimodal at
#: k=20 (noise ≤ 4, true near-dup groups ≥ 20), so min_shared=20.
_WINNOW_K, _WINNOW_W, _WINNOW_MIN_SHARED = 20, 8, 20


def q_winnow_neardup(spark, sf_dir):
    """Winnowing near-dup candidate pairs at scale-sane parameters
    (see _WINNOW_K note): longer k-grams → rare fingerprints → the
    explode+equi-join touches candidate pairs only, not hot buckets."""
    return textstats.winnow_neardup_pairs(
        _docs(spark, sf_dir), k=_WINNOW_K, w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED)


_WINNOW_NEARDUP_SQL = f"""
WITH {_winnow_ex_sql(_WINNOW_K, _WINNOW_W)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
FROM ex a JOIN ex b ON a.fp = b.fp
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {_WINNOW_MIN_SHARED}
"""


def q_simhash(spark, sf_dir):
    return textstats.simhash(_docs(spark, sf_dir)).select("doc_id", "simhash")


_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT doc_id, {H32_SQL.format(expr='tok')} AS h FROM toks
), votes AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
  FROM h, (SELECT unnest(range(0, 32)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# -- minhash / LSH near-dup --------------------------------------------------

_SHINGLE_SQL = """
  toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
  sh AS (
    SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
    FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM toks)
  )
"""

def _minh_sql(num_hashes: int = 16) -> str:
    """Universal-hash MinHash oracle: one md5 per shingle mod 2^31−1,
    then (a·hb + b) mod 2^31−1 per seed — the same md5-derived (a, b)
    family as the engine (hashing.mh_params), regenerated here so the
    two sides cannot drift."""
    from beats_spark.corpus.hashing import MERSENNE31, mh_params

    seed_rows = ",\n    ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(mh_params(num_hashes))
    )
    return f"""
  hb AS (
    SELECT doc_id, ({H32_SQL.format(expr='s')} % {MERSENNE31}) AS hb FROM sh
  ),
  seeds(seed, a, b) AS (VALUES
    {seed_rows}
  ),
  minh AS (
    SELECT doc_id, seed, min((a * hb + b) % {MERSENNE31}) AS mh
    FROM hb, seeds
    GROUP BY doc_id, seed
  ),
  sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM minh GROUP BY doc_id),
  bands AS (
    SELECT doc_id, b,
           array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',') AS band_key
    FROM sig, (SELECT unnest(range(0, 4)) AS b)
  ),
  pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.b = b.b AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
  )
"""


_MINH_SQL = _minh_sql()


def q_minhash_neardup(spark, sf_dir):
    return dedup.minhash_neardup_pairs(_docs(spark, sf_dir))


_MINHASH_NEARDUP_SQL = f"""
WITH {_SHINGLE_SQL}, {_MINH_SQL}
SELECT p.doc_a, p.doc_b, count(*) AS sig_matches
FROM pairs p
JOIN minh ma ON ma.doc_id = p.doc_a
JOIN minh mb ON mb.doc_id = p.doc_b AND mb.seed = ma.seed AND mb.mh = ma.mh
GROUP BY 1, 2
"""


def q_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir))


_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLE_SQL}, {_MINH_SQL},
inter AS (
  SELECT p.doc_a, p.doc_b, count(DISTINCT a.s) AS n_inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.s = a.s
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(DISTINCT s) AS n FROM sh GROUP BY 1)
SELECT p.doc_a, p.doc_b,
       COALESCE(i.n_inter, 0)::BIGINT AS n_inter,
       (sa.n + sb.n - COALESCE(i.n_inter, 0))::BIGINT AS n_union
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


def q_simhash_neardup(spark, sf_dir):
    return dedup.simhash_neardup_pairs(_docs(spark, sf_dir), max_hamming=8)


_SIMHASH_NEARDUP_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), h AS (
  SELECT doc_id, {H32_SQL.format(expr='tok')} AS h FROM toks
), votes AS (
  SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS v
  FROM h, (SELECT unnest(range(0, 32)) AS b)
  GROUP BY doc_id, b
), s AS (
  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
), bands AS (
  SELECT doc_id, simhash, b, (simhash >> (8 * b)) & 255 AS key
  FROM s, (SELECT unnest(range(0, 4)) AS b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 8
"""


# -- embeddings --------------------------------------------------------------

_COS_SQL = (
    "list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2]))"
    " / (a.nrm * b.nrm)"
)

_EMB_PREP_SQL = """
  e AS (
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
           sqrt(list_sum(list_transform(embedding, x -> (x::DOUBLE) * (x::DOUBLE)))) AS nrm
    FROM embeddings
  )
"""


def q_embedding_topk(spark, sf_dir):
    return similarity.cosine_topk(_emb(spark, sf_dir), k=3)


_EMBEDDING_TOPK_SQL = f"""
WITH {_EMB_PREP_SQL},
p AS (
  SELECT a.vec_id, b.vec_id AS nid, {_COS_SQL} AS cos
  FROM e a, e b WHERE a.vec_id != b.vec_id
)
SELECT vec_id, nid, cos,
       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid ASC)::INT AS rank
FROM p
QUALIFY rank <= 3
"""


def q_embedding_neardup(spark, sf_dir):
    return similarity.embedding_neardup_pairs(_emb(spark, sf_dir), threshold=0.45)


_EMBEDDING_NEARDUP_SQL = f"""
WITH {_EMB_PREP_SQL}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_SQL} AS cos
FROM e a, e b
WHERE a.vec_id < b.vec_id AND {_COS_SQL} >= 0.45
"""


def q_embedding_topk_blocked(spark, sf_dir):
    """Blocked exact top-k: same oracle as embedding_topk (the rows are
    identical by construction — GEMM candidates, fold-cos re-rank)."""
    return similarity.cosine_topk_blocked(_emb(spark, sf_dir), k=3, n_blocks=8)


def q_embedding_neardup_blocked(spark, sf_dir):
    return similarity.embedding_neardup_blocked(
        _emb(spark, sf_dir), threshold=0.45, n_blocks=8
    )


def q_ann_lsh(spark, sf_dir):
    return similarity.ann_lsh_topk(_emb(spark, sf_dir), k=1, n_planes=6, dim=64)


def _ann_lsh_sql(n_planes: int = 6, dim: int = 64) -> str:
    planes = similarity.lsh_planes(n_planes, dim)
    rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in row)}]::DOUBLE[])"
        for i, row in enumerate(planes)
    )
    return f"""
WITH {_EMB_PREP_SQL},
planes(pid, p) AS (VALUES
    {rows}
),
buckets AS (
  SELECT vec_id, v, nrm,
         CAST(sum(CASE WHEN list_sum(list_transform(list_zip(v, p), x -> x[1] * x[2])) > 0
                  THEN 1::BIGINT << pid ELSE 0 END) AS BIGINT) AS bucket
  FROM e, planes GROUP BY vec_id, v, nrm
),
p AS (
  SELECT a.vec_id, b.vec_id AS nid,
         list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])) / (a.nrm * b.nrm) AS cos
  FROM buckets a JOIN buckets b ON a.bucket = b.bucket
  WHERE a.vec_id != b.vec_id
)
SELECT vec_id, nid, cos,
       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid ASC)::INT AS rank
FROM p
QUALIFY rank <= 1
"""


def q_ann_ivf(spark, sf_dir):
    return similarity.ann_ivf_topk(_emb(spark, sf_dir), k=1, n_cells=8, dim=64)


def q_ann_ivf_sqrtn(spark, sf_dir):
    """IVF at the √n-cells design point (45 cells ≈ √2000 at sf0.1):
    demonstrates the GEMM assignment path at a centroid count the
    literal-fold codegen could not reach."""
    return similarity.ann_ivf_topk(_emb(spark, sf_dir), k=1, n_cells=45, dim=64)


def _ann_ivf_sql(n_cells: int = 8, dim: int = 64, nprobe: int = 1,
                 k: int = 1) -> str:
    cents = similarity.ivf_centroids(n_cells, dim)
    rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in row)}]::DOUBLE[], "
        f"{similarity._seq_sq_norm(row)!r})"
        for i, row in enumerate(cents)
    )
    return f"""
WITH {_EMB_PREP_SQL},
cents(cid, c, cn) AS (VALUES
    {rows}
),
assign AS (
  SELECT vec_id, v, nrm, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
  FROM (
    -- expanded |v|^2 + |c|^2 - 2*v.c: the same quantity (and the same
    -- precomputed |c|^2 literal) the engine's ivf_cell / ivf_cell_assign
    -- compute, so near-tie rounding is comparable across engines
    SELECT e.vec_id, e.v, e.nrm, c.cid,
           list_sum(list_transform(e.v, x -> x * x)) + c.cn
           - 2.0 * list_sum(list_transform(list_zip(e.v, c.c),
                                           x -> x[1] * x[2])) AS dist
    FROM e, cents c)
),
cells AS (SELECT vec_id, v, nrm, cid AS cell FROM assign WHERE rn = 1),
probes AS (SELECT vec_id, v, nrm, cid AS cell FROM assign WHERE rn <= {nprobe}),
p AS (
  SELECT a.vec_id, b.vec_id AS nid,
         list_sum(list_transform(list_zip(a.v, b.v), x -> x[1] * x[2])) / (a.nrm * b.nrm) AS cos
  FROM probes a JOIN cells b ON a.cell = b.cell
  WHERE a.vec_id != b.vec_id
)
SELECT vec_id, nid, cos,
       row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid ASC)::INT AS rank
FROM p
QUALIFY rank <= {k}
"""


def q_ann_ivf_nprobe(spark, sf_dir):
    """Multi-probe IVF (nprobe=3 of 45 cells): the recall lever — each
    query searches its 3 nearest cells; candidates stay an equi-join."""
    return similarity.ann_ivf_topk(_emb(spark, sf_dir), k=1, n_cells=45, dim=64,
                                   nprobe=3)


def q_ann_ivf_pq(spark, sf_dir):
    """FAISS-style IVF-PQ: 8 coarse cells, 4×16 product quantizer —
    the database side searches as 4 BYTES per vector (64× smaller
    than the raw 64-float embedding)."""
    return similarity.ann_ivf_pq_topk(_emb(spark, sf_dir), k=1, n_cells=8,
                                      m=4, ksub=16, dim=64)


def q_ann_ivf_pq_nprobe(spark, sf_dir):
    """Multi-probe IVF-PQ (nprobe=3 of 8 cells): the PQ recall lever —
    per-probe ADC candidates re-rank globally by the integer ADC."""
    return similarity.ann_ivf_pq_topk(_emb(spark, sf_dir), k=1, n_cells=8,
                                      m=4, ksub=16, dim=64, nprobe=3)


def q_ann_ivf_pq_rerank(spark, sf_dir):
    """IVF-PQ with the FAISS refine stage (rerank=4): ADC keeps the
    top 4·k candidates per query, an exact fold-cos re-rank over just
    those rows picks the final k — the quality path measured in the
    recall gates (tests/test_corpus.py), here with the md5 fixture
    codebooks so the DuckDB oracle stays bit-exact."""
    return similarity.ann_ivf_pq_topk(_emb(spark, sf_dir), k=1, n_cells=8,
                                      m=4, ksub=16, dim=64, nprobe=3,
                                      rerank=4)


def _ann_ivf_pq_sql(n_cells: int = 8, m: int = 4, ksub: int = 16,
                    dim: int = 64, k: int = 1, nprobe: int = 1,
                    rerank: int = 1) -> str:
    dsub = dim // m
    cents = similarity.ivf_centroids(n_cells, dim)
    cent_rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in row)}]::DOUBLE[], "
        f"{similarity._seq_sq_norm(row)!r})"
        for i, row in enumerate(cents)
    )
    cbs = similarity.pq_codebooks(m, ksub, dsub)
    cb_rows = ",\n    ".join(
        f"({j}, {i}, [{', '.join(repr(x) for x in cbs[j][i])}]::DOUBLE[], "
        f"{similarity._seq_sq_norm(cbs[j][i])!r})"
        for j in range(m) for i in range(ksub)
    )
    return f"""
WITH {_EMB_PREP_SQL},
cents(cid, c, cn) AS (VALUES
    {cent_rows}
),
assign AS (
  SELECT vec_id, v, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
  FROM (
    SELECT e.vec_id, e.v, c.cid,
           list_sum(list_transform(e.v, x -> x * x)) + c.cn
           - 2.0 * list_sum(list_transform(list_zip(e.v, c.c),
                                           x -> x[1] * x[2])) AS dist
    FROM e, cents c)
),
cells AS (SELECT vec_id, v, cid AS cell FROM assign WHERE rn = 1),
probes AS (SELECT vec_id, v, cid AS cell FROM assign WHERE rn <= {nprobe}),
cb(j, i, c, cn) AS (VALUES
    {cb_rows}
),
-- per (vector, subspace, centroid) expanded distance on the SUBVECTOR
sub AS (
  SELECT vec_id, cb.j, cb.i,
         list_sum(list_transform(v[cb.j*{dsub}+1 : (cb.j+1)*{dsub}],
                                 x -> x * x)) + cb.cn
         - 2.0 * list_sum(list_transform(
             list_zip(v[cb.j*{dsub}+1 : (cb.j+1)*{dsub}], cb.c),
             x -> x[1] * x[2])) AS dist
  FROM cells, cb
),
enc AS (
  SELECT vec_id, j, i AS code FROM (
    SELECT vec_id, j, i,
           row_number() OVER (PARTITION BY vec_id, j ORDER BY dist ASC, i ASC) AS rn
    FROM sub) WHERE rn = 1
),
lutt AS (
  SELECT vec_id AS qid, j, i, CAST(round(dist * 1e9) AS BIGINT) AS du FROM sub
),
cand AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
  FROM probes a JOIN cells b ON a.cell = b.cell AND a.vec_id != b.vec_id
),
adc AS (
  SELECT cand.qid, cand.nid, sum(l.du)::BIGINT AS adc
  FROM cand JOIN enc ON enc.vec_id = cand.nid
       JOIN lutt l ON l.qid = cand.qid AND l.j = enc.j AND l.i = enc.code
  GROUP BY 1, 2
){_pq_final_sql(k, rerank)}"""


def _pq_final_sql(k: int, rerank: int) -> str:
    if rerank <= 1:
        return f"""
SELECT qid AS vec_id, nid, adc,
       row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC)::INT AS rank
FROM adc
QUALIFY rank <= {k}
"""
    # refine stage: exact cosine over the rerank*k ADC survivors only
    # (the same sequential-fold cos as every other oracle)
    return f""",
survivors AS (
  SELECT qid, nid,
         row_number() OVER (PARTITION BY qid ORDER BY adc ASC, nid ASC) AS arn
  FROM adc QUALIFY arn <= {k * rerank}
),
refined AS (
  SELECT s.qid, s.nid,
         list_sum(list_transform(list_zip(qa.v, qb.v), x -> x[1] * x[2]))
           / (qa.nrm * qb.nrm) AS cos
  FROM survivors s
  JOIN e qa ON qa.vec_id = s.qid
  JOIN e qb ON qb.vec_id = s.nid
)
SELECT qid AS vec_id, nid, cos,
       row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC)::INT AS rank
FROM refined
QUALIFY rank <= {k}
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup semantic dedup flags at threshold 0.35 over the 8-cell
    quantizer (sf0.01: ~20% of the corpus flagged — a realistic web
    dedup rate on the synthetic embeddings)."""
    return similarity.semantic_dedup(_emb(spark, sf_dir), threshold=0.35,
                                     n_cells=8, dim=64)


def _semantic_dedup_sql(threshold: float = 0.35, n_cells: int = 8,
                        dim: int = 64) -> str:
    cents = similarity.ivf_centroids(n_cells, dim)
    rows = ",\n    ".join(
        f"({i}, [{', '.join(repr(x) for x in row)}]::DOUBLE[], "
        f"{similarity._seq_sq_norm(row)!r})"
        for i, row in enumerate(cents)
    )
    return f"""
WITH {_EMB_PREP_SQL},
cents(cid, c, cn) AS (VALUES
    {rows}
),
assign AS (
  SELECT vec_id, v, nrm, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cid ASC) AS rn
  FROM (
    SELECT e.vec_id, e.v, e.nrm, c.cid,
           list_sum(list_transform(e.v, x -> x * x)) + c.cn
           - 2.0 * list_sum(list_transform(list_zip(e.v, c.c),
                                           x -> x[1] * x[2])) AS dist
    FROM e, cents c)
),
cells AS (SELECT vec_id, v, nrm, cid AS cell FROM assign WHERE rn = 1),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_COS_SQL} >= {threshold}
)
SELECT c.vec_id, c.cell::INT AS cell, (d.vec_id IS NOT NULL) AS is_semdup
FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id
"""


_QF_INT_COLS = [
    "n_words", "word_chars", "n_symbol_marks", "n_lines", "n_bullet_lines",
    "n_ellipsis_lines", "n_alpha_words", "n_stop_distinct", "n_2grams",
    "n_dup_2grams", "n_dup_lines", "line_chars", "dup_line_chars",
    "n_paras", "n_dup_paras", "para_chars", "dup_para_chars",
]
_QF_FLAG_COLS = [
    "f_word_count", "f_mean_word_len", "f_symbol_ratio", "f_bullet_lines",
    "f_ellipsis_lines", "f_alpha_words", "f_stopwords", "f_dup_2grams",
    "f_dup_lines", "f_dup_paras", "f_dup_line_chars", "f_dup_para_chars",
    "passes_quality",
]


def q_lm_score(spark, sf_dir):
    """CCNet-style unigram LM scoring: per-doc bits/token under a
    unigram model trained on the corpus itself, with head/middle/tail
    buckets at fixed cutoffs (the empirical terciles at sf0.01 —
    CCNet's own cutoffs are precomputed per-language config too)."""
    return textstats.lm_score(_docs(spark, sf_dir),
                              thresholds=(4.905, 4.911))


_LM_SCORE_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (SELECT count(*) AS t FROM toks),
v AS (
  -- integer micro-bits: same quantization as the engine, so the
  -- per-doc sum is integer-exact and order-independent on both sides
  SELECT tok, CAST(round(log2(c::DOUBLE / t) * 1e6) AS BIGINT) AS ubits
  FROM vocab, tot
), s AS (
  SELECT doc_id, count(*) AS n_tokens,
         (-sum(ubits))::DOUBLE / (count(*) * 1e6) AS bits_per_token
  FROM toks JOIN v USING (tok) GROUP BY doc_id
)
SELECT doc_id, n_tokens, bits_per_token,
       CASE WHEN bits_per_token <= 4.905 THEN 'head'
            WHEN bits_per_token <= 4.911 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM s
"""


def q_lm_score_bigram(spark, sf_dir):
    """lm_score at ngram=2 — the higher-order-context direction CCNet
    takes (their KenLM is 5-gram); cutoffs are the bigram terciles."""
    return textstats.lm_score(_docs(spark, sf_dir),
                              thresholds=(9.772, 9.809), ngram=2)


_LM_SCORE_BIGRAM_SQL = """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
feats AS (
  SELECT doc_id, unnest(
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)::INT),
                             i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END) AS tok
  FROM base
), vocab AS (SELECT tok, count(*) AS c FROM feats GROUP BY tok),
tot AS (SELECT count(*) AS t FROM feats),
v AS (
  SELECT tok, CAST(round(log2(c::DOUBLE / t) * 1e6) AS BIGINT) AS ubits
  FROM vocab, tot
), s AS (
  SELECT doc_id, count(*) AS n_tokens,
         (-sum(ubits))::BIGINT / (count(*) * 1e6) AS bits_per_token
  FROM feats JOIN v USING (tok) GROUP BY doc_id
)
SELECT b.doc_id, coalesce(s.n_tokens, 0)::BIGINT AS n_tokens, s.bits_per_token,
       CASE WHEN s.bits_per_token IS NULL THEN NULL
            WHEN s.bits_per_token <= 9.772 THEN 'head'
            WHEN s.bits_per_token <= 9.809 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM base b LEFT JOIN s ON s.doc_id = b.doc_id
"""


def q_lm_score_lang(spark, sf_dir):
    """CCNet's actual per-language shape: one unigram LM per lang,
    each doc scored under its own language's model; en and de get
    mapped cutoffs, the rest take the default — exercising both
    branches of the per-group CASE."""
    return textstats.lm_score_grouped(
        _docs(spark, sf_dir), by="lang",
        thresholds={"en": (4.903, 4.912), "de": (4.894, 4.909)},
        default_thresholds=(4.896, 4.915),
    )


_LM_SCORE_LANG_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
tot AS (SELECT lang, count(*) AS t FROM toks GROUP BY lang),
v AS (
  SELECT vocab.lang, tok,
         CAST(round(log2(c::DOUBLE / t) * 1e6) AS BIGINT) AS ubits
  FROM vocab JOIN tot USING (lang)
), s AS (
  SELECT doc_id, toks.lang, count(*) AS n_tokens,
         (-sum(ubits))::BIGINT / (count(*) * 1e6) AS bits_per_token
  FROM toks JOIN v ON toks.lang = v.lang AND toks.tok = v.tok
  GROUP BY doc_id, toks.lang
)
SELECT doc_id, lang, n_tokens, bits_per_token,
       CASE WHEN lang = 'en' THEN
              CASE WHEN bits_per_token <= 4.903 THEN 'head'
                   WHEN bits_per_token <= 4.912 THEN 'middle'
                   ELSE 'tail' END
            WHEN lang = 'de' THEN
              CASE WHEN bits_per_token <= 4.894 THEN 'head'
                   WHEN bits_per_token <= 4.909 THEN 'middle'
                   ELSE 'tail' END
            ELSE
              CASE WHEN bits_per_token <= 4.896 THEN 'head'
                   WHEN bits_per_token <= 4.915 THEN 'middle'
                   ELSE 'tail' END
       END AS ppl_bucket
FROM s
"""


def q_repeat_ngram_mask(spark, sf_dir):
    """Within-doc repeated-3-gram loss mask over the tokenized corpus:
    repeated-gram positions flip to 0, keep-first semantics. Registry
    row ships the arrays as md5 content signatures (driver-canon
    rule); the raw-array form is the API / pytest level."""
    out = toks.repeat_ngram_mask(
        toks.tokenize_ids(_docs(spark, sf_dir)), n=3
    )

    def sig(c):
        return F.md5(
            F.concat_ws(",", F.col(c).cast("array<string>"))
        ).alias(c + "_sig")

    return out.select("doc_id", sig("tokens"), sig("loss_mask"), "n_masked")


_REPEAT_NGRAM_MASK_SQL = """
WITH {tokenize},
occ AS (
  SELECT doc_id, u.i AS s,
         md5(array_to_string(toks[u.i + 1:u.i + {n}], ' ')) AS gh
  FROM tk, unnest(range(0, greatest(len(toks) - {n} + 1, 0)::INT)) AS u(i)
),
firsts AS (SELECT doc_id, gh, min(s) AS s0 FROM occ GROUP BY doc_id, gh),
reps AS (
  SELECT o.doc_id, o.s FROM occ o
  JOIN firsts f ON o.doc_id = f.doc_id AND o.gh = f.gh
  WHERE o.s > f.s0
),
starts AS (SELECT doc_id, list(s ORDER BY s) AS sts FROM reps GROUP BY doc_id),
m AS (
  SELECT t.doc_id, t.toks AS tokens,
         list_transform(
           range(0, len(t.toks)::INT),
           i -> CASE WHEN len(list_filter(coalesce(st.sts, []),
                                          x -> x <= i AND i < x + {n})) > 0
                     THEN 0 ELSE 1 END
         ) AS loss_mask
  FROM tk t LEFT JOIN starts st ON st.doc_id = t.doc_id
)
SELECT doc_id,
       md5(array_to_string(tokens, ',')) AS tokens_sig,
       md5(array_to_string(loss_mask, ',')) AS loss_mask_sig,
       len(tokens) - list_sum_or0 AS n_masked
FROM (
  SELECT doc_id, tokens, loss_mask,
         coalesce(list_aggregate(loss_mask, 'sum'), 0) AS list_sum_or0
  FROM m
)
"""


def _repeat_ngram_mask_sql() -> str:
    return _REPEAT_NGRAM_MASK_SQL.format(tokenize=_TOKENIZE_SQL, n=3)


def q_detokenize(spark, sf_dir):
    """Round trip: tokenize_ids → hash_vocab surface table →
    detokenize. Where the corpus has no id collision the text comes
    back byte-identical; collisions resolve keep-min-word on both
    engines, so the output is deterministic either way."""
    docs = _docs(spark, sf_dir)
    return toks.detokenize(toks.tokenize_ids(docs), toks.hash_vocab(docs))


_DETOKENIZE_SQL = f"""
WITH {{tokenize}},
vw AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
vh AS (
  SELECT ({{h32w}} % {{vocab}}) AS tid, min(w) AS tok
  FROM vw GROUP BY 1
),
pos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tid
  FROM tk, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
j AS (
  SELECT p.doc_id, p.pos, coalesce(v.tok, '<unk>') AS tok
  FROM pos p LEFT JOIN vh v ON v.tid = p.tid
),
re AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
  FROM j GROUP BY doc_id
)
SELECT d.doc_id, coalesce(re.text, '') AS text
FROM documents d LEFT JOIN re ON re.doc_id = d.doc_id
"""


def _detokenize_sql() -> str:
    return _DETOKENIZE_SQL.format(tokenize=_TOKENIZE_SQL,
                                  h32w=H32_SQL.format(expr="w"), vocab=_TOKVOCAB)


_HE_DIM = 8


def q_hashed_embedding(spark, sf_dir):
    """Feature-hashing doc embedding at dim=8 — integer-exact signed
    bucket counts, the text→vector bridge for the similarity ops.
    Registry row ships the vector as an md5 content signature
    (driver-canon rule); raw array stays the API level."""
    out = textstats.hashed_embedding(_docs(spark, sf_dir), dim=_HE_DIM)
    return out.select(
        "doc_id",
        F.md5(F.concat_ws(",", F.col("vec").cast("array<string>")))
        .alias("vec_sig"),
    )


def _hashed_embedding_sql() -> str:
    h32w = H32_SQL.format(expr="w")
    h32s = H32_SQL.format(expr="'sign:' || w")
    sums = ", ".join(
        f"sum(CASE WHEN b = {d} THEN s ELSE 0 END)::BIGINT"
        for d in range(_HE_DIM)
    )
    zeros = ", ".join("0" for _ in range(_HE_DIM))
    return f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
h AS (
  SELECT doc_id, {h32w} % {_HE_DIM} AS b,
         CASE WHEN {h32s} % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM w
),
v AS (SELECT doc_id, [{sums}] AS vec FROM h GROUP BY doc_id)
SELECT d.doc_id,
       md5(array_to_string(coalesce(v.vec, [{zeros}]), ',')) AS vec_sig
FROM documents d LEFT JOIN v ON v.doc_id = d.doc_id
"""


def q_compression_ratio(spark, sf_dir):
    """zlib ratio per doc — no SQL oracle (DuckDB has no zlib);
    driver records the rows-only check, pytest pins hand cases."""
    return textstats.compression_ratio(_docs(spark, sf_dir))


def q_script_stats(spark, sf_dir):
    """Per-doc Unicode-script composition + replacement-char mojibake
    counter — narrow single-pass column expressions."""
    return textstats.script_stats(_docs(spark, sf_dir))


_SCRIPT_STATS_SQL = r"""
SELECT doc_id, length(text) AS n_chars,
  length(text) - length(regexp_replace(text, '\p{Latin}', '', 'g')) AS n_latin,
  length(text) - length(regexp_replace(text, '\p{Cyrillic}', '', 'g')) AS n_cyrillic,
  length(text) - length(regexp_replace(text, '\p{Han}', '', 'g')) AS n_han,
  length(text) - length(regexp_replace(text, '\p{Arabic}', '', 'g')) AS n_arabic,
  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
  length(text) - length(regexp_replace(text, '�', '', 'g')) AS n_replacement
FROM documents
"""


def q_ppl_buckets(spark, sf_dir):
    """CCNet cutoff DERIVATION (the half lm_score_lang presumes done):
    per-language perplexity terciles computed from the corpus's own
    score distribution, integer-exact rank rule, distributed
    range-split rank — no whole-language window."""
    return textstats.ppl_tercile_buckets(_docs(spark, sf_dir), by="lang")


_PPL_BUCKETS_SQL = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
), vocab AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
tot AS (SELECT lang, count(*) AS t FROM toks GROUP BY lang),
v AS (
  SELECT vocab.lang, tok,
         CAST(round(log2(c::DOUBLE / t) * 1e6) AS BIGINT) AS ubits
  FROM vocab JOIN tot USING (lang)
), s AS (
  SELECT doc_id, toks.lang, count(*) AS n_tokens,
         (-sum(ubits))::BIGINT / (count(*) * 1e6) AS bits_per_token
  FROM toks JOIN v ON toks.lang = v.lang AND toks.tok = v.tok
  GROUP BY doc_id, toks.lang
), r AS (
  SELECT doc_id, lang, n_tokens, bits_per_token,
         row_number() OVER (PARTITION BY lang
                            ORDER BY bits_per_token, doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM s
)
SELECT doc_id, lang, n_tokens, bits_per_token,
       CASE WHEN 3 * rk <= n THEN 'head'
            WHEN 3 * rk <= 2 * n THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM r
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights with the src0 slice as the target
    domain: positive log-ratio = looks more like src0 than like the
    corpus at large; deterministic threshold-0 selection."""
    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("source") == "src0")
    return textstats.dsir_weights(docs, target, threshold=0.0)


_DSIR_WEIGHTS_SQL = """
WITH src_toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), tgt_toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  WHERE source = 'src0'
), vs AS (SELECT tok, count(*) AS c FROM src_toks GROUP BY tok),
ts_ AS (SELECT count(*) AS t FROM src_toks),
vt AS (SELECT tok, count(*) AS c FROM tgt_toks GROUP BY tok),
tt AS (SELECT count(*) AS t FROM tgt_toks),
s AS (SELECT tok, CAST(round(log2(c::DOUBLE / t) * 1e6) AS BIGINT) AS us
      FROM vs, ts_),
t2 AS (SELECT tok, CAST(round(log2(c::DOUBLE / t) * 1e6) AS BIGINT) AS ut
       FROM vt, tt),
feat AS (
  SELECT s.tok,
         coalesce(t2.ut, CAST(round(log2(1.0 / tt.t) * 1e6) AS BIGINT)) - s.us AS du
  FROM s LEFT JOIN t2 USING (tok), tt
),
agg AS (
  SELECT doc_id, count(*) AS n_tokens,
         (sum(du))::BIGINT / 1e6 AS log_ratio_bits
  FROM src_toks JOIN feat USING (tok) GROUP BY doc_id
)
SELECT doc_id, n_tokens, log_ratio_bits,
       log_ratio_bits >= 0.0 AS selected
FROM agg
"""


def q_quality_filters(spark, sf_dir):
    """C4/Gopher training-data quality rules: integer metrics + one
    flag per rule + the conjunction, all pure column expressions."""
    out = textstats.quality_filters(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        *[F.col(c).cast("long").alias(c) for c in _QF_INT_COLS],
        *_QF_FLAG_COLS,
    )


def _quality_filters_sql() -> str:
    from beats_spark.corpus.textstats import QUALITY_RULES, STOPWORDS

    r = QUALITY_RULES
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return rf"""
WITH s AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS toks,
         string_split(text, chr(10)) AS lines,
         string_split(text, chr(10) || chr(10)) AS paras
  FROM documents
), m AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n_words,
    COALESCE(list_sum(list_transform(toks, t -> length(t))), 0)::BIGINT AS word_chars,
    ((length(text) - length(replace(text, '#', '')))
     + (length(text) - length(replace(text, '...', ''))) // 3)::BIGINT AS n_symbol_marks,
    len(lines)::BIGINT AS n_lines,
    len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]')))::BIGINT AS n_bullet_lines,
    len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))::BIGINT AS n_ellipsis_lines,
    len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))::BIGINT AS n_alpha_words,
    len(list_intersect(toks, [{stop}]))::BIGINT AS n_stop_distinct,
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)::INT),
                             i -> toks[i] || ' ' || toks[i+1])
         ELSE [] END AS g2,
    (len(lines) - len(list_distinct(lines)))::BIGINT AS n_dup_lines,
    COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)::BIGINT AS line_chars,
    (COALESCE(list_sum(list_transform(lines, l -> length(l))), 0)
     - COALESCE(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0))::BIGINT AS dup_line_chars,
    len(paras)::BIGINT AS n_paras,
    (len(paras) - len(list_distinct(paras)))::BIGINT AS n_dup_paras,
    COALESCE(list_sum(list_transform(paras, p -> length(p))), 0)::BIGINT AS para_chars,
    (COALESCE(list_sum(list_transform(paras, p -> length(p))), 0)
     - COALESCE(list_sum(list_transform(list_distinct(paras), p -> length(p))), 0))::BIGINT AS dup_para_chars
  FROM s
), g AS (
  SELECT *, len(g2)::BIGINT AS n_2grams,
         (len(g2) - len(list_distinct(g2)))::BIGINT AS n_dup_2grams
  FROM m
), f AS (
  SELECT *,
    (n_words >= {r["min_words"]} AND n_words <= {r["max_words"]}) AS f_word_count,
    (word_chars >= {r["min_mean_word_len"]} * n_words
     AND word_chars <= {r["max_mean_word_len"]} * n_words) AS f_mean_word_len,
    (n_symbol_marks * 100 <= {r["max_symbol_word_pct"]} * n_words) AS f_symbol_ratio,
    (n_bullet_lines * 100 <= {r["max_bullet_line_pct"]} * n_lines) AS f_bullet_lines,
    (n_ellipsis_lines * 100 <= {r["max_ellipsis_line_pct"]} * n_lines) AS f_ellipsis_lines,
    (n_alpha_words * 100 >= {r["min_alpha_word_pct"]} * n_words) AS f_alpha_words,
    (n_stop_distinct >= {r["min_distinct_stopwords"]}) AS f_stopwords,
    (n_dup_2grams * 100 <= {r["max_dup_2gram_pct"]} * greatest(n_2grams, 1)) AS f_dup_2grams,
    (n_dup_lines * 100 <= {r["max_dup_line_pct"]} * greatest(n_lines, 1)) AS f_dup_lines,
    (n_dup_paras * 100 <= {r["max_dup_para_pct"]} * greatest(n_paras, 1)) AS f_dup_paras,
    (dup_line_chars * 100 <= {r["max_dup_line_char_pct"]} * greatest(line_chars, 1)) AS f_dup_line_chars,
    (dup_para_chars * 100 <= {r["max_dup_para_char_pct"]} * greatest(para_chars, 1)) AS f_dup_para_chars
  FROM g
)
SELECT doc_id, {", ".join(_QF_INT_COLS)}, {", ".join(_QF_FLAG_COLS[:-1])},
       (f_word_count AND f_mean_word_len AND f_symbol_ratio AND f_bullet_lines
        AND f_ellipsis_lines AND f_alpha_words AND f_stopwords
        AND f_dup_2grams AND f_dup_lines AND f_dup_paras
        AND f_dup_line_chars AND f_dup_para_chars) AS passes_quality
FROM f
"""


def q_top_ngram(spark, sf_dir):
    """The remaining Gopher repetition rule: chars covered by the most
    frequent word 2-gram per document (ties → lexicographically last
    gram on both engines)."""
    out = textstats.top_ngram_stats(_docs(spark, sf_dir), n=2)
    return out.select(
        "doc_id", "top_gram",
        F.col("top_gram_count").cast("long").alias("top_gram_count"),
        F.col("covered_chars").cast("long").alias("covered_chars"),
        F.col("total_chars").cast("long").alias("total_chars"),
        "f_top_ngram",
    )


_TOP_NGRAM_SQL = """
WITH g AS (
  SELECT doc_id, length(text) AS total_chars,
         CASE WHEN len(string_split(text, ' ')) >= 2 THEN
           list_transform(range(1, len(string_split(text, ' '))::INT),
                          i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
         ELSE [] END AS g2
  FROM documents
), ex AS (
  SELECT doc_id, total_chars, unnest(g2) AS gram FROM g
), counts AS (
  SELECT doc_id, total_chars, gram, count(*) AS cnt,
         count(*) * length(gram) AS covered_chars
  FROM ex GROUP BY doc_id, total_chars, gram
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY covered_chars DESC, gram DESC) AS rn
  FROM counts
), best AS (
  SELECT doc_id, gram AS top_gram, cnt::BIGINT AS top_gram_count,
         covered_chars::BIGINT AS covered_chars, total_chars::BIGINT AS total_chars
  FROM ranked WHERE rn = 1
)
SELECT d.doc_id,
       b.top_gram,
       coalesce(b.top_gram_count, 0)::BIGINT AS top_gram_count,
       coalesce(b.covered_chars, 0)::BIGINT AS covered_chars,
       length(d.text)::BIGINT AS total_chars,
       coalesce(b.covered_chars, 0) * 100 <= 20 * greatest(length(d.text), 1)
         AS f_top_ngram
FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
"""


def q_neardup_clusters(spark, sf_dir):
    """Near-dup cluster resolution (the keep-one endpoint): MinHash+LSH
    candidate pairs → iterative hash-min connected components →
    (doc_id, canonical_id) for EVERY document (singletons map to
    themselves). Oracle: DuckDB WITH RECURSIVE transitive closure."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_neardup_pairs(docs).select("doc_a", "doc_b")
    return dedup.neardup_resolve(pairs, docs)


_NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLE_SQL}, {_MINH_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labs AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id)
SELECT d.doc_id, coalesce(l.lab, d.doc_id) AS canonical_id
FROM documents d LEFT JOIN labs l ON l.id = d.doc_id
"""


def q_neardup_profile(spark, sf_dir):
    """Near-dup load curve: cluster-size histogram over the resolved
    clusters (fuzzy analog of dup_profile's exact-duplicate curve).
    Resolve runs over ALL docs, so singletons appear as n_members=1
    and n_docs sums to the corpus size. Eager CC loop at plan build,
    same as neardup_clusters."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_neardup_pairs(docs).select("doc_a", "doc_b")
    return dedup.neardup_profile(dedup.neardup_resolve(pairs, docs))


_NEARDUP_PROFILE_SQL = f"""
WITH RECURSIVE {_SHINGLE_SQL}, {_MINH_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labs AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id),
cl AS (
  SELECT d.doc_id, coalesce(l.lab, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN labs l ON l.id = d.doc_id
),
sizes AS (SELECT count(*) AS n_members FROM cl GROUP BY canonical_id)
SELECT n_members, count(*) AS n_clusters,
       n_members * count(*) AS n_docs,
       (n_members - 1) * count(*) AS n_excess
FROM sizes GROUP BY n_members
"""


def q_split_leakage_report(spark, sf_dir):
    """Leakage audit of the PLAIN per-id split (the leaky baseline):
    near-dup pairs straddling a split boundary. 50/25/25 split so
    crossings are visible at small SF; split_leakage_safe's
    cluster-grouped assignment yields zero rows here (pinned in
    pytest)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_neardup_pairs(docs).select("doc_a", "doc_b")
    sp = toks.split_assign(docs, train_pct=50, val_pct=25)
    return dedup.split_leakage_report(sp, pairs)


_SPLIT_LEAKAGE_REPORT_SQL = f"""
WITH {_SHINGLE_SQL}, {_MINH_SQL},
sp AS (
  SELECT doc_id,
         CASE WHEN b < 50 THEN 'train' WHEN b < 75 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               ({H32_SQL.format(expr="'split:' || doc_id::VARCHAR")} % 100)
                 AS b
        FROM documents)
)
SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
FROM pairs p
JOIN sp sa ON sa.doc_id = p.doc_a
JOIN sp sb ON sb.doc_id = p.doc_b
WHERE sa.split <> sb.split
"""


def q_neardup_survivors(spark, sf_dir):
    """Survivor set after near-dup resolution: each cluster's canonical
    document + all singletons (what a dedup pass feeds downstream)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_neardup_pairs(docs).select("doc_a", "doc_b")
    return dedup.neardup_survivors(docs, pairs).select("doc_id")


_NEARDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE {_SHINGLE_SQL}, {_MINH_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labs AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id)
SELECT d.doc_id
FROM documents d LEFT JOIN labs l ON l.id = d.doc_id
WHERE l.lab IS NULL OR l.lab = d.doc_id
"""


def q_neardup_survivors_best(spark, sf_dir):
    """Merit-based survivor selection: per near-dup cluster keep the
    LONGEST document (ties to the smallest id) instead of the smallest
    id — the keep-the-best-copy policy a real dedup pass uses."""
    docs = _docs(spark, sf_dir).withColumn("n_chars", F.length("text"))
    pairs = dedup.minhash_neardup_pairs(
        docs.select("doc_id", "text")
    ).select("doc_a", "doc_b")
    return dedup.neardup_survivors(
        docs, pairs, priority_col="n_chars"
    ).select("doc_id")


_NEARDUP_SURVIVORS_BEST_SQL = f"""
WITH RECURSIVE {_SHINGLE_SQL}, {_MINH_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labs AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id),
cl AS (
  SELECT d.doc_id, coalesce(l.lab, d.doc_id) AS canonical_id,
         length(d.text) AS pr
  FROM documents d LEFT JOIN labs l ON l.id = d.doc_id
)
SELECT doc_id FROM (
  SELECT doc_id, row_number() OVER (PARTITION BY canonical_id
                                    ORDER BY pr DESC, doc_id) AS rn
  FROM cl
) WHERE rn = 1
"""


# -- token-sequence operators (training-data layout) ---------------------------

from beats_spark.corpus import tokens as toks  # noqa: E402

_TOKVOCAB = 50257
_TOKENIZE_SQL = f"""
  tk AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '),
                          w -> ({H32_SQL.format(expr='w')} % {_TOKVOCAB}))
           AS toks
    FROM documents
  )
"""


def q_dedup_tokens(spark, sf_dir):
    """Exact dedup keyed on the token ARRAY itself (the north rule's
    per-row token-array equality, as a dedup key): group identical
    token sequences, keep the smallest doc id."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return dedup.exact_dedup(t, ["tokens"], "doc_id")


_DEDUP_TOKENS_SQL = f"""
WITH {_TOKENIZE_SQL}
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM tk GROUP BY toks
"""


def q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing to max_len=128, exploded to
    bit-checkable (seq_no, pos_in_seq, token_id) rows."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.pack_sequences(t, max_len=128, emit="exploded")
    return out.select("seq_no", "pos_in_seq", F.col("token_id").cast("long").alias("token_id"))


_PACK_SEQUENCES_SQL = f"""
WITH {_TOKENIZE_SQL},
o AS (
  SELECT doc_id, toks,
         coalesce(sum(len(toks)) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
  FROM tk
),
ex AS (
  SELECT strt + i AS pos, toks[i::INT + 1] AS token_id
  FROM (SELECT strt, toks, unnest(range(0, len(toks))) AS i FROM o)
)
SELECT (pos // 128)::BIGINT AS seq_no, (pos % 128)::BIGINT AS pos_in_seq,
       token_id::BIGINT AS token_id
FROM ex
"""


def q_pack_seq_boundaries(spark, sf_dir):
    """Straddle packing with the per-sequence document boundary table
    (the pack_training_meta input shape on the GPT-style layout) —
    verified via content signatures."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.pack_sequences_boundaries(t, max_len=128)

    def sig(c, name):
        return F.md5(
            F.concat_ws(",", F.col(c).cast("array<string>"))
        ).alias(name)

    return out.select(
        "bin_id", "n_docs", "n_tok",
        sig("doc_ids", "ids_sig"), sig("doc_starts", "starts_sig"),
        sig("doc_lens", "lens_sig"), sig("tokens", "toks_sig"),
    )


_PACK_SEQ_BOUND_SQL = f"""
WITH {_TOKENIZE_SQL},
o AS (
  SELECT doc_id, toks,
         coalesce(sum(len(toks)) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
  FROM tk
),
ex AS (
  SELECT doc_id, strt + i AS pos, toks[i::INT + 1] AS token_id
  FROM (SELECT doc_id, strt, toks, unnest(range(0, len(toks))) AS i FROM o)
),
p AS (
  SELECT (pos // 128)::BIGINT AS bin_id, (pos % 128)::BIGINT AS pis,
         doc_id, token_id
  FROM ex
),
spans AS (
  SELECT bin_id, doc_id, min(pis) AS strt, count(*) AS n
  FROM p GROUP BY bin_id, doc_id
),
b1 AS (
  SELECT bin_id,
         count(*)::BIGINT AS n_docs,
         sum(n)::BIGINT AS n_tok,
         md5(string_agg(doc_id::VARCHAR, ',' ORDER BY strt)) AS ids_sig,
         md5(string_agg(strt::VARCHAR, ',' ORDER BY strt)) AS starts_sig,
         md5(string_agg(n::VARCHAR, ',' ORDER BY strt)) AS lens_sig
  FROM spans GROUP BY bin_id
),
b2 AS (
  SELECT bin_id,
         md5(string_agg(token_id::VARCHAR, ',' ORDER BY pis)) AS toks_sig
  FROM p GROUP BY bin_id
)
SELECT b1.bin_id, b1.n_docs, b1.n_tok, b1.ids_sig, b1.starts_sig,
       b1.lens_sig, b2.toks_sig
FROM b1 JOIN b2 USING (bin_id)
"""


def q_chunk_tokens(spark, sf_dir):
    """Per-document overlapping chunking (size 64, stride 48 → 16-token
    overlap): chunk rows verified via per-chunk content signatures
    (md5 of the comma-joined ids, the driver-hashable array face)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.chunk_tokens(t, size=64, stride=48)
    return out.select(
        "doc_id", "chunk_no",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>")))
        .alias("sig"),
    )


_CHUNK_TOKENS_SQL = f"""
WITH {_TOKENIZE_SQL},
n AS (
  SELECT doc_id, toks, len(toks) AS n,
         1 + (greatest(len(toks) - 64, 0) // 48) AS full_starts
  FROM tk
),
c AS (
  SELECT doc_id, toks,
         full_starts + CASE WHEN (full_starts - 1) * 48 + 64 < n
                            THEN 1 ELSE 0 END AS n_chunks
  FROM n
),
ex AS (
  SELECT doc_id, c AS chunk_no,
         list_slice(toks, (c * 48)::INT + 1, (c * 48)::INT + 64) AS chunk
  FROM (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS c FROM c)
)
SELECT doc_id, chunk_no::BIGINT AS chunk_no,
       len(chunk)::BIGINT AS n_tok,
       md5(array_to_string(chunk, ',')) AS sig
FROM ex
"""


def q_pack_sequences_sig(spark, sf_dir):
    """Packed-sequence ARRAY shape, verified via a per-sequence content
    signature (md5 of the comma-joined token ids) — the driver-hashable
    face of the array output."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.pack_sequences(t, max_len=128, emit="arrays")
    return out.select(
        "seq_no",
        F.col("n_tok").cast("long").alias("n_tok"),
        F.md5(F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string")))).alias("sig"),
    )


_PACK_SEQUENCES_SIG_SQL = f"""
WITH {_TOKENIZE_SQL},
o AS (
  SELECT doc_id, toks,
         coalesce(sum(len(toks)) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
  FROM tk
),
ex AS (
  SELECT strt + i AS pos, toks[i::INT + 1] AS token_id
  FROM (SELECT strt, toks, unnest(range(0, len(toks))) AS i FROM o)
)
SELECT (pos // 128)::BIGINT AS seq_no, count(*)::BIGINT AS n_tok,
       md5(string_agg(token_id::VARCHAR, ',' ORDER BY pos)) AS sig
FROM ex GROUP BY 1
"""


def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test split by id hash (90/5/5)."""
    out = toks.split_assign(_docs(spark, sf_dir))
    return out.select("doc_id", "split")


_SPLIT_ASSIGN_SQL = f"""
SELECT doc_id,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             ({H32_SQL.format(expr="'split:' || doc_id::VARCHAR")} % 100) AS b
      FROM documents)
"""


def q_vocab_histogram(spark, sf_dir):
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.vocab_histogram(t)
    return out.select(F.col("token_id").cast("long").alias("token_id"), "n")


_VOCAB_HISTOGRAM_SQL = f"""
WITH {_TOKENIZE_SQL}
SELECT token_id::BIGINT AS token_id, count(*)::BIGINT AS n
FROM (SELECT unnest(toks) AS token_id FROM tk)
GROUP BY 1
"""


def q_winnow_neardup_tokens(spark, sf_dir):
    """Winnowing near-dup pairs over the PRE-TOKENIZED shape: token
    k-gram fingerprints (k=5 ids, window 4) — the guarantee becomes
    'any shared run of ≥ w+k−1 ids yields a shared fingerprint'."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return textstats.winnow_neardup_pairs(t, k=5, w=4, min_shared=2,
                                          tokens_col="tokens")


_WINNOW_NEARDUP_TOKENS_SQL = f"""
WITH {_TOKENIZE_SQL},
tt AS (SELECT doc_id, list_transform(toks, x -> x::VARCHAR) AS t FROM tk),
g AS (
  SELECT doc_id,
         CASE WHEN len(t) - 4 >= 1 THEN
           list_transform(range(1, (len(t) - 4)::INT + 1),
                          i -> {H32_SQL.format(
                              expr="array_to_string(list_slice(t, i::INT, i::INT + 4), ' ')")})
         ELSE [] END AS h
  FROM tt
), sel AS (
  SELECT doc_id,
         CASE WHEN len(h) - 3 >= 1 THEN
           list_transform(range(1, (len(h) - 3)::INT + 1),
                          i -> list_min(list_slice(h, i::INT, i::INT + 3)))
         WHEN len(h) >= 1 THEN [list_min(h)]
         ELSE [] END AS fps
  FROM g
), ex AS (
  SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM sel
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
FROM ex a JOIN ex b ON a.fp = b.fp
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def q_token_stats(spark, sf_dir):
    """Token-sequence degeneracy stats (the Gopher repetition rules'
    token-level face): diversity, mode-id mass, repeated-bigram mass,
    longest single-id run — all per-row array folds, no shuffle."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return toks.token_stats(t)


_TOKEN_STATS_SQL = f"""
WITH {_TOKENIZE_SQL},
pos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM tk, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
brk AS (
  SELECT doc_id, pos, tok,
         CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                   IS DISTINCT FROM tok THEN 1 ELSE 0 END AS b
  FROM pos
),
isl AS (
  SELECT doc_id, tok,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM brk
),
runl AS (
  SELECT doc_id, max(c) AS max_run FROM (
    SELECT doc_id, rid, count(*) AS c FROM isl GROUP BY doc_id, rid
  ) GROUP BY doc_id
),
topn AS (
  SELECT doc_id, max(c) AS top_n, count(*) AS n_distinct FROM (
    SELECT doc_id, tok, count(*) AS c FROM pos GROUP BY doc_id, tok
  ) GROUP BY doc_id
),
bigd AS (
  SELECT doc_id,
         count(DISTINCT toks[u.i]::VARCHAR || ',' || toks[u.i+1]::VARCHAR)
           AS nd
  FROM tk, unnest(range(1, greatest(len(toks) - 1, 0)::INT + 1)) AS u(i)
  GROUP BY doc_id
)
SELECT tk.doc_id, len(toks)::BIGINT AS n_tok,
       topn.n_distinct::BIGINT AS n_distinct,
       (topn.n_distinct / len(toks))::DOUBLE AS distinct_ratio,
       topn.top_n::BIGINT AS top_token_n,
       (topn.top_n / len(toks))::DOUBLE AS top_token_frac,
       greatest(len(toks) - 1, 0)::BIGINT AS n_bigrams,
       CASE WHEN len(toks) > 1 THEN
         ((len(toks) - 1 - bigd.nd) / (len(toks) - 1))::DOUBLE END
         AS dup_bigram_frac,
       runl.max_run::BIGINT AS max_run_len
FROM tk
JOIN topn USING (doc_id)
JOIN runl USING (doc_id)
LEFT JOIN bigd USING (doc_id)
"""


_BPE_MERGES, _BPE_START = 6, _TOKVOCAB


def _bpe_sql_ctes(k: int, start: int) -> tuple[str, str]:
    """Templated k-round BPE oracle: per round, pair counts → argmax
    (ties by (t1, t2), HAVING n ≥ 2) → indexed-lambda rewrite. The
    1-row merge CTE joins in via LEFT JOIN ON TRUE (DuckDB forbids
    subqueries inside lambdas; a NULL merge makes the round identity)."""
    parts, sel = [], []
    for r in range(k):
        c = start + r
        parts.append(f"""
p{r} AS (
  SELECT toks[u.i] AS t1, toks[u.i+1] AS t2
  FROM tk{r}, unnest(range(1, greatest(len(toks),1)::INT)) AS u(i)
  WHERE toks[u.i] != toks[u.i+1]
),
m{r} AS (
  SELECT t1, t2, count(*) AS n FROM p{r} GROUP BY 1, 2
  HAVING count(*) >= 2
  ORDER BY n DESC, t1, t2 LIMIT 1
),
tk{r + 1} AS (
  SELECT doc_id,
    CASE WHEN m.t1 IS NULL THEN toks ELSE
      list_filter(
        list_transform(toks, (x, i) ->
          CASE WHEN x = m.t1 AND i < len(toks) AND toks[i+1] = m.t2 THEN {c}
               WHEN i > 1 AND toks[i-1] = m.t1 AND x = m.t2 THEN NULL
               ELSE x END),
        x -> x IS NOT NULL)
    END AS toks
  FROM tk{r} LEFT JOIN m{r} m ON TRUE
)""")
        sel.append(
            f"SELECT {r}::INT AS rank, t1::BIGINT AS t1, t2::BIGINT AS t2, "
            f"{c}::BIGINT AS new_id, n::BIGINT AS n_pairs FROM m{r}"
        )
    return ",".join(parts), " UNION ALL ".join(sel)


def q_bpe_merges(spark, sf_dir):
    """Distributed BPE-merge learning over the tokenized corpus: 6
    rounds of pair-count argmax (self-pairs excluded, deterministic
    ties), each rewriting the corpus through one Arrow-batched pass."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return toks.learn_bpe_merges(t, n_merges=_BPE_MERGES,
                                 new_id_start=_BPE_START)


def _bpe_merges_sql() -> str:
    ctes, sel = _bpe_sql_ctes(_BPE_MERGES, _BPE_START)
    return f"""
WITH {_TOKENIZE_SQL},
tk0 AS (SELECT doc_id, toks FROM tk), {ctes}
{sel}
"""


def q_bpe_compression(spark, sf_dir):
    """Per-language merge-table datacard: how much the learned BPE
    merge table compresses each language (tokens/word after merges)
    and the resulting chars/token — the fertility-style metric that
    decides whether a tokenizer is trained enough for a language
    before burning GPU hours at the wrong sequence budget. Integer-ppm
    ratios (BIGINT div) for cross-engine exactness."""
    docs = _docs(spark, sf_dir)
    t = toks.tokenize_ids(docs)
    m = toks.learn_bpe_merges(t, n_merges=_BPE_MERGES,
                              new_id_start=_BPE_START)
    out = toks.apply_bpe_merges(t, m)
    joined = out.select("doc_id", F.size("tokens").alias("n_sub")).join(
        docs.select(
            "doc_id", "lang",
            F.size(F.split("text", " ")).alias("n_w"),
            F.length("text").alias("n_c"),
        ),
        "doc_id",
    )
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_w").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subtokens"),
            F.sum("n_c").cast("long").alias("n_chars"),
        )
        .select(
            "lang", "n_docs", "n_words", "n_subtokens", "n_chars",
            F.expr("(n_subtokens * 1000000L) div n_words")
            .alias("tokens_per_word_ppm"),
            F.expr("(n_chars * 1000000L) div n_subtokens")
            .alias("chars_per_token_ppm"),
        )
    )


def _bpe_compression_sql() -> str:
    ctes, _ = _bpe_sql_ctes(_BPE_MERGES, _BPE_START)
    return f"""
WITH {_TOKENIZE_SQL},
tk0 AS (SELECT doc_id, toks FROM tk), {ctes},
sub AS (SELECT doc_id, len(toks)::BIGINT AS n_sub FROM tk{_BPE_MERGES}),
base AS (
  SELECT d.lang, len(string_split(d.text, ' '))::BIGINT AS n_w,
         length(d.text)::BIGINT AS n_c, s.n_sub
  FROM documents d JOIN sub s ON s.doc_id = d.doc_id
)
SELECT lang, count(*)::BIGINT AS n_docs,
       sum(n_w)::BIGINT AS n_words,
       sum(n_sub)::BIGINT AS n_subtokens,
       sum(n_c)::BIGINT AS n_chars,
       (sum(n_sub)::BIGINT * 1000000) // sum(n_w)::BIGINT
         AS tokens_per_word_ppm,
       (sum(n_c)::BIGINT * 1000000) // sum(n_sub)::BIGINT
         AS chars_per_token_ppm
FROM base GROUP BY lang
"""


def q_bpe_apply(spark, sf_dir):
    """The corpus after the learned 6-merge table: per-doc token count
    + content signature (the driver-hashable face of the arrays)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    m = toks.learn_bpe_merges(t, n_merges=_BPE_MERGES,
                              new_id_start=_BPE_START)
    out = toks.apply_bpe_merges(t, m)
    return out.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tok"),
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>")))
        .alias("sig"),
    )


def _bpe_apply_sql() -> str:
    ctes, _ = _bpe_sql_ctes(_BPE_MERGES, _BPE_START)
    return f"""
WITH {_TOKENIZE_SQL},
tk0 AS (SELECT doc_id, toks FROM tk), {ctes}
SELECT doc_id, len(toks)::BIGINT AS n_tok,
       md5(array_to_string(toks, ',')) AS sig
FROM tk{_BPE_MERGES}
"""


def q_token_pipeline(spark, sf_dir):
    """The composed token-native cleaning pipeline (degeneracy filter →
    span decon → ExactSubstr cut → drop-empty + exact dedup → pack),
    verified through its funnel: (stage_no, stage, n_docs, n_tokens)."""
    from beats_spark.corpus.pipeline import clean_tokens

    t = toks.tokenize_ids(_docs(spark, sf_dir))
    bench = t.filter(F.col("doc_id") % 20 == 0).select("tokens")
    return clean_tokens(t, bench).funnel


_TOKEN_PIPELINE_SQL = f"""
WITH {_TOKENIZE_SQL},
base AS (SELECT doc_id, list_transform(toks, x -> x::VARCHAR) AS toks FROM tk),
-- stage 1: degeneracy stats (token_stats rules)
pos0 AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM base, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
brk0 AS (
  SELECT doc_id, pos, tok,
         CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                   IS DISTINCT FROM tok THEN 1 ELSE 0 END AS b
  FROM pos0
),
isl0 AS (
  SELECT doc_id, sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM brk0
),
runl0 AS (
  SELECT doc_id, max(c) AS max_run FROM (
    SELECT doc_id, rid, count(*) AS c FROM isl0 GROUP BY doc_id, rid
  ) GROUP BY doc_id
),
bigd0 AS (
  SELECT doc_id,
         count(DISTINCT toks[u.i] || ',' || toks[u.i+1]) AS nd
  FROM base, unnest(range(1, greatest(len(toks) - 1, 0)::INT + 1)) AS u(i)
  GROUP BY doc_id
),
k1 AS (
  SELECT b.doc_id, b.toks
  FROM base b JOIN runl0 r USING (doc_id) LEFT JOIN bigd0 g USING (doc_id)
  WHERE len(b.toks) >= 5 AND r.max_run <= 4
    AND coalesce(CASE WHEN len(b.toks) > 1 THEN
          ((len(b.toks) - 1 - g.nd) / (len(b.toks) - 1))::DOUBLE END, 0)
        <= 0.3
),
-- stage 2: span decontamination vs the tokenized every-20th benchmark
occ2 AS (
  SELECT doc_id, u.i AS s,
         md5(array_to_string(toks[u.i:u.i+12], ' ')) AS gh
  FROM k1, unnest(range(1, greatest(len(toks)-11,1)::INT)) AS u(i)
),
bg2 AS (
  SELECT DISTINCT md5(array_to_string(toks[u.i:u.i+12], ' ')) AS gh
  FROM (SELECT toks FROM base WHERE doc_id % 20 = 0) b,
       unnest(range(1, greatest(len(toks)-11,1)::INT)) AS u(i)
),
d2 AS (SELECT doc_id, s FROM occ2 WHERE gh IN (SELECT gh FROM bg2)),
i2 AS (
  SELECT doc_id, s,
         CASE WHEN s > coalesce(max(s + 13) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM d2
),
i2b AS (SELECT doc_id, s, sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS iid
        FROM i2),
sp2 AS (SELECT doc_id, min(s) AS st, max(s) + 13 AS en
        FROM i2b GROUP BY doc_id, iid),
cv2 AS (SELECT doc_id, u.p AS pos FROM sp2, unnest(range(st, en)) AS u(p)),
tp2 AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM k1, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
kp2 AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tp2 t LEFT JOIN cv2 c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
re2 AS (SELECT doc_id, list(tok ORDER BY pos) AS toks FROM kp2 GROUP BY doc_id),
k2 AS (
  SELECT k1.doc_id, coalesce(re2.toks, CAST([] AS VARCHAR[])) AS toks
  FROM k1 LEFT JOIN re2 USING (doc_id)
),
-- stage 3: corpus-wide ExactSubstr cut (keep-first, 5-id windows)
occ3 AS (
  SELECT doc_id, u.i AS s,
         md5(array_to_string(toks[u.i:u.i+4], ' ')) AS gh
  FROM k2, unnest(range(1, greatest(len(toks)-3,1)::INT)) AS u(i)
),
r3 AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY gh ORDER BY doc_id, s) AS rn,
         count(*) OVER (PARTITION BY gh) AS n
  FROM occ3
),
d3 AS (SELECT doc_id, s FROM r3 WHERE n > 1 AND rn > 1),
i3 AS (
  SELECT doc_id, s,
         CASE WHEN s > coalesce(max(s + 5) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM d3
),
i3b AS (SELECT doc_id, s, sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS iid
        FROM i3),
sp3 AS (SELECT doc_id, min(s) AS st, max(s) + 5 AS en
        FROM i3b GROUP BY doc_id, iid),
cv3 AS (SELECT doc_id, u.p AS pos FROM sp3, unnest(range(st, en)) AS u(p)),
tp3 AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM k2, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
kp3 AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tp3 t LEFT JOIN cv3 c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
re3 AS (SELECT doc_id, list(tok ORDER BY pos) AS toks FROM kp3 GROUP BY doc_id),
k3 AS (
  SELECT k2.doc_id, coalesce(re3.toks, CAST([] AS VARCHAR[])) AS toks
  FROM k2 LEFT JOIN re3 USING (doc_id)
),
-- stage 4: drop-empty + exact dedup (identical arrays keep min id)
k4 AS (
  SELECT min(doc_id) AS doc_id, any_value(toks) AS toks, count(*) AS _n
  FROM k3 WHERE len(toks) > 0 GROUP BY toks
),
tot AS (SELECT coalesce(sum(len(toks)), 0)::BIGINT AS n FROM k4)
SELECT 0::INT AS stage_no, 'raw' AS stage, count(*)::BIGINT AS n_docs,
       coalesce(sum(len(toks)), 0)::BIGINT AS n_tokens FROM base
UNION ALL
SELECT 1::INT, 'degeneracy', count(*)::BIGINT,
       coalesce(sum(len(toks)), 0)::BIGINT FROM k1
UNION ALL
SELECT 2::INT, 'decontaminated', count(*)::BIGINT,
       coalesce(sum(len(toks)), 0)::BIGINT FROM k2
UNION ALL
SELECT 3::INT, 'substring_dedup', count(*)::BIGINT,
       coalesce(sum(len(toks)), 0)::BIGINT FROM k3
UNION ALL
SELECT 4::INT, 'exact_dedup', count(*)::BIGINT,
       coalesce(sum(len(toks)), 0)::BIGINT FROM k4
UNION ALL
SELECT 5::INT, 'packed', ((n + 127) // 128)::BIGINT, n FROM tot
"""


def q_pack_bins(spark, sf_dir):
    """Whole-document bin packing (no-split packing): 16 independent
    hash-bucket packers, first-fit-decreasing within each — exact
    assignment verified against a recursive-CTE replay carrying the
    open-bin remainder LIST as state."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return toks.pack_bins(t, max_len=128, n_buckets=16)


_PACK_BINS_SQL = f"""
WITH RECURSIVE {_TOKENIZE_SQL},
d AS (
  SELECT doc_id, len(toks)::INT AS n,
         ({H32_SQL.format(expr="'packbins:' || doc_id::VARCHAR")} % 16)::INT
           AS bucket
  FROM tk
),
o AS (
  SELECT doc_id, n, bucket,
         row_number() OVER (PARTITION BY bucket ORDER BY n DESC, doc_id)
           AS rn
  FROM d
),
rec AS (
  SELECT bucket, rn, doc_id, n, 0::BIGINT AS bin_no,
         [128 - n]::BIGINT[] AS rems
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.rn, o.doc_id, o.n,
         CASE WHEN coalesce(fit.i, 0) = 0 THEN len(r.rems)::BIGINT
              ELSE (fit.i - 1)::BIGINT END,
         CASE WHEN coalesce(fit.i, 0) = 0
              THEN list_append(r.rems, (128 - o.n)::BIGINT)
              ELSE list_transform(r.rems, (x, j) ->
                     CASE WHEN j = fit.i THEN x - o.n ELSE x END) END
  FROM rec r
  JOIN o ON o.bucket = r.bucket AND o.rn = r.rn + 1,
  LATERAL (SELECT list_position(list_transform(r.rems, x -> x >= o.n), true)
             AS i) fit
)
SELECT doc_id, n AS n_tok, bucket, bin_no,
       (bucket::BIGINT * 4294967296 + bin_no)::BIGINT AS bin_id
FROM rec
"""


def q_pack_bins_sequences(spark, sf_dir):
    """Materialized no-split packed rows: per-bin doc table + the
    concatenated token array, verified via content signatures."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.pack_bins_sequences(t, max_len=128, n_buckets=16)
    return out.select(
        "bin_id", "n_docs", "n_tok",
        F.md5(F.concat_ws(",", F.col("doc_ids").cast("array<string>")))
        .alias("ids_sig"),
        F.md5(F.concat_ws(",", F.col("doc_starts").cast("array<string>")))
        .alias("starts_sig"),
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>")))
        .alias("toks_sig"),
    )


_PACK_BINS_SEQ_SQL = _PACK_BINS_SQL.rsplit("SELECT doc_id", 1)[0] + """,
t2 AS (
  SELECT r.bucket, r.bin_no, r.doc_id, r.n, tk.toks
  FROM rec r JOIN tk ON tk.doc_id = r.doc_id
),
st AS (
  SELECT bucket, bin_no, doc_id, n, toks,
         coalesce(sum(n) OVER (PARTITION BY bucket, bin_no
                               ORDER BY n DESC, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS strt
  FROM t2
)
SELECT (bucket::BIGINT * 4294967296 + bin_no)::BIGINT AS bin_id,
       count(*)::BIGINT AS n_docs,
       sum(n)::BIGINT AS n_tok,
       md5(string_agg(doc_id::VARCHAR, ',' ORDER BY n DESC, doc_id))
         AS ids_sig,
       md5(string_agg(strt::VARCHAR, ',' ORDER BY n DESC, doc_id))
         AS starts_sig,
       md5(string_agg(array_to_string(toks, ','), ',' ORDER BY n DESC, doc_id))
         AS toks_sig
FROM st GROUP BY bucket, bin_no
"""


def q_sample_per_source(spark, sf_dir):
    """Deterministic 3 examples per source (id-hash ranked — same
    draw on any engine/run/layout, never RNG)."""
    out = toks.sample_per_group(_docs(spark, sf_dir), n=3,
                                group_col="source")
    return out.select("doc_id", "source")


_SAMPLE_PER_SOURCE_SQL = f"""
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {H32_SQL.format(expr="'gsample:' || doc_id::VARCHAR")},
                    doc_id) AS rk
  FROM documents
)
SELECT doc_id, source FROM r WHERE rk <= 3
"""


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer diagnostics: cumulative corpus-token mass of the
    top-{{10,100,1000}} most frequent ids."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return toks.vocab_coverage(t)


_VOCAB_COVERAGE_SQL = f"""
WITH {_TOKENIZE_SQL},
h AS (
  SELECT token_id, count(*) AS n
  FROM (SELECT unnest(toks) AS token_id FROM tk) GROUP BY 1
),
r AS (
  SELECT n,
         row_number() OVER (ORDER BY n DESC, token_id) AS rk,
         sum(n) OVER (ORDER BY n DESC, token_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM h
),
t AS (SELECT sum(n) AS total FROM h)
SELECT ks.top_k,
       (SELECT max(cum) FROM r WHERE rk <= ks.top_k)::BIGINT AS covered,
       t.total::BIGINT AS total,
       ((SELECT max(cum) FROM r WHERE rk <= ks.top_k) / t.total)::DOUBLE
         AS coverage
FROM (VALUES (10), (100), (1000)) ks(top_k), t
"""


def q_token_bigrams(spark, sf_dir):
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.token_bigrams(t, min_count=2)
    return out.select(
        F.col("t1").cast("long").alias("t1"),
        F.col("t2").cast("long").alias("t2"), "n",
    )


_TOKEN_BIGRAMS_SQL = f"""
WITH {_TOKENIZE_SQL},
p AS (
  SELECT toks[i::INT] AS t1, toks[i::INT + 1] AS t2
  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM tk)
)
SELECT t1::BIGINT AS t1, t2::BIGINT AS t2, count(*)::BIGINT AS n
FROM p GROUP BY 1, 2 HAVING count(*) >= 2
"""


# -- corpus cleaning: PII, line dedup, decontamination --------------------------

from beats_spark.corpus import cleaning  # noqa: E402


def q_pii_redact(spark, sf_dir):
    """PII scrub over deterministic synthetic PII (the documents table
    carries none, so the query plants emails/phones/IPs as pure
    functions of doc_id on BOTH engines, then redacts)."""
    docs = _docs(spark, sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact u"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.7 ph +1415555"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ssn 123-45-6789 :: "), F.col("text"),
        ).alias("text"),
    )
    out = cleaning.pii_redact(planted)
    return out.select(
        "doc_id",
        *[F.col(f"{n}_redactions").cast("long").alias(f"{n}_redactions")
          for n, _, _ in cleaning.PII_PATTERNS],
        "text",
    )


def _pii_redact_sql() -> str:
    sel = ["doc_id"]
    cur = ("'contact u' || doc_id::VARCHAR || '@mail.example.com or 10.' || "
           "(doc_id % 256)::VARCHAR || '.0.7 ph +1415555' || "
           "lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' ssn 123-45-6789 :: ' || text")
    for name, rx, token in cleaning.PII_PATTERNS:
        rx_sql = rx.replace("'", "''")
        sel.append(f"len(regexp_extract_all({cur}, '{rx_sql}'))::BIGINT AS {name}_redactions")
        cur = f"regexp_replace({cur}, '{rx_sql}', '{token}', 'g')"
    sel.append(f"{cur} AS text")
    return "SELECT " + ",\n       ".join(sel) + " FROM documents"


def q_line_dedup(spark, sf_dir):
    """C4-style cross-document line dedup over synthetic multi-line
    docs: every doc gets a shared boilerplate footer (must vanish) and
    keeps its unique body line."""
    docs = _docs(spark, sf_dir)
    multi = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nshared boilerplate footer line\nuid "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return cleaning.line_dedup(multi)


_LINE_DEDUP_SQL = """
WITH d AS (
  SELECT doc_id,
         text || chr(10) || 'shared boilerplate footer line' || chr(10)
              || 'uid ' || doc_id::VARCHAR AS text
  FROM documents
), l AS (
  SELECT doc_id, i AS pos, ln[i] AS line, md5(trim(ln[i])) AS lh
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ln,
               unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i
        FROM d)
), boiler AS (
  SELECT lh FROM l WHERE length(trim(line)) >= 8
  GROUP BY lh HAVING count(DISTINCT doc_id) >= 2
), re AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS text
  FROM l
  WHERE lh NOT IN (SELECT lh FROM boiler) OR length(trim(line)) < 8
  GROUP BY doc_id
)
SELECT d.doc_id, coalesce(re.text, '') AS text
FROM d LEFT JOIN re ON re.doc_id = d.doc_id
"""


def q_decontaminate(spark, sf_dir):
    """GPT-3-style 13-gram decontamination against a benchmark slice
    (every 20th document stands in for the eval set)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0).select("text")
    return cleaning.decontaminate(docs, bench, n=13)


_DECONTAMINATE_SQL = f"""
WITH dg AS (
  SELECT DISTINCT doc_id,
         {H32_SQL.format(expr="array_to_string(list_slice(t, i::INT, i::INT + 12), ' ')")} AS gh
  FROM (SELECT doc_id, string_split(text, ' ') AS t,
               unnest(range(1, greatest(len(string_split(text, ' ')) - 11, 1))) AS i
        FROM documents)
  WHERE len(t) >= 13
), bg AS (
  SELECT DISTINCT {H32_SQL.format(expr="array_to_string(list_slice(t, i::INT, i::INT + 12), ' ')")} AS gh
  FROM (SELECT string_split(text, ' ') AS t,
               unnest(range(1, greatest(len(string_split(text, ' ')) - 11, 1))) AS i
        FROM documents WHERE doc_id % 20 = 0)
  WHERE len(t) >= 13
), hits AS (
  SELECT doc_id, count(*) AS n_shared_ngrams
  FROM dg JOIN bg USING (gh) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(h.n_shared_ngrams, 0)::BIGINT AS n_shared_ngrams,
       coalesce(h.n_shared_ngrams, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


def q_decontaminate_report(spark, sf_dir):
    """Contamination audit pairs: which benchmark doc (the every-20th
    slice) shares 13-grams with which training doc, with counts."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    return cleaning.contamination_report(docs, bench, n=13,
                                         bench_id_col="doc_id")


_DECONTAMINATE_REPORT_SQL = f"""
WITH dg AS (
  SELECT DISTINCT doc_id,
         {H32_SQL.format(expr="array_to_string(list_slice(t, i::INT, i::INT + 12), ' ')")} AS gh
  FROM (SELECT doc_id, string_split(text, ' ') AS t,
               unnest(range(1, greatest(len(string_split(text, ' ')) - 11, 1))) AS i
        FROM documents)
  WHERE len(t) >= 13
), bg AS (
  SELECT DISTINCT doc_id AS bench_id,
         {H32_SQL.format(expr="array_to_string(list_slice(t, i::INT, i::INT + 12), ' ')")} AS gh
  FROM (SELECT doc_id, string_split(text, ' ') AS t,
               unnest(range(1, greatest(len(string_split(text, ' ')) - 11, 1))) AS i
        FROM documents WHERE doc_id % 20 = 0)
  WHERE len(t) >= 13
)
SELECT dg.doc_id, bg.bench_id, count(*)::BIGINT AS shared_ngrams
FROM dg JOIN bg USING (gh)
GROUP BY 1, 2
"""


def q_substring_dedup(spark, sf_dir):
    """ExactSubstr dedup at 5-token windows: cut all-but-first
    occurrences of repeated substrings, spans merged."""
    return cleaning.substring_dedup(_docs(spark, sf_dir), min_len=5)


_SUBSTRING_DEDUP_SQL = """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
occ AS (
  SELECT doc_id, u.i AS s,
         md5(array_to_string(toks[u.i:u.i+4], ' ')) AS gh
  FROM base, unnest(range(1, greatest(len(toks)-3,1)::INT)) AS u(i)
),
-- keep-first semantics: the occurrence with the global min (doc_id, s)
-- per gram survives; every later occurrence marks its window
r AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY gh ORDER BY doc_id, s) AS rn,
         count(*) OVER (PARTITION BY gh) AS n
  FROM occ
),
dups AS (SELECT doc_id, s FROM r WHERE n > 1 AND rn > 1),
-- gaps-and-islands merge of overlapping [s, s+5) windows
isl AS (
  SELECT doc_id, s,
         CASE WHEN s > coalesce(max(s + 5) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM dups
),
isl2 AS (
  SELECT doc_id, s,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS iid
  FROM isl
),
spans AS (SELECT doc_id, min(s) AS st, max(s) + 5 AS en
          FROM isl2 GROUP BY doc_id, iid),
cov AS (SELECT doc_id, u.p AS pos FROM spans, unnest(range(st, en)) AS u(p)),
tokpos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM base, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
re AS (
  SELECT doc_id, count(*) AS kept_n,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, len(b.toks)::BIGINT AS n_tokens,
       (len(b.toks) - coalesce(re.kept_n, 0))::BIGINT AS dup_tokens,
       coalesce(re.cleaned_text, '') AS cleaned_text
FROM base b LEFT JOIN re ON re.doc_id = b.doc_id
"""


def q_line_dedup_within(spark, sf_dir):
    """C4's within-document line dedup over synthetic multi-line docs:
    every doc repeats a header line (twice for every third doc); later
    repeats must vanish, order otherwise preserved."""
    docs = _docs(spark, sf_dir)
    tail = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("header line"))
        .otherwise(F.concat(F.lit("uid "), F.col("doc_id").cast("string")))
    )
    multi = docs.select(
        "doc_id",
        F.concat_ws("\n", F.lit("header line"), F.col("text"),
                    F.lit("header line"), tail).alias("text"),
    )
    return cleaning.line_dedup_within(multi)


_LINE_DEDUP_WITHIN_SQL = """
WITH m AS (
  SELECT doc_id,
         'header line' || chr(10) || text || chr(10) || 'header line'
           || chr(10) ||
         CASE WHEN doc_id % 3 = 0 THEN 'header line'
              ELSE 'uid ' || doc_id::VARCHAR END AS text
  FROM documents
),
s AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM m),
l AS (
  SELECT doc_id, u.i AS pos, ls[u.i] AS line
  FROM s, unnest(range(1, len(ls)::INT + 1)) AS u(i)
),
k AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
  FROM l
),
re AS (
  SELECT doc_id, count(*) AS kept_n,
         string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
  FROM k WHERE rn = 1 GROUP BY doc_id
)
SELECT s.doc_id, len(s.ls)::BIGINT AS n_lines,
       (len(s.ls) - re.kept_n)::BIGINT AS dup_lines,
       re.cleaned_text
FROM s JOIN re ON re.doc_id = s.doc_id
"""


def q_substring_dedup_tokens(spark, sf_dir):
    """ExactSubstr dedup over the PRE-TOKENIZED shape (Lee et al.'s
    actual token-id setting): 5-id windows, keep-first, spans merged;
    cleaned sequences verified via a content signature (the
    driver-hashable face of the int array)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = cleaning.substring_dedup_tokens(t, min_len=5)
    return out.select(
        "doc_id", "n_tokens", "dup_tokens",
        F.md5(F.concat_ws(",", F.col("cleaned_tokens").cast("array<string>")))
        .alias("sig"),
    )


_SUBSTRING_DEDUP_TOKENS_SQL = f"""
WITH {_TOKENIZE_SQL},
base AS (SELECT doc_id, list_transform(toks, t -> t::VARCHAR) AS toks FROM tk),
occ AS (
  SELECT doc_id, u.i AS s,
         md5(array_to_string(toks[u.i:u.i+4], ' ')) AS gh
  FROM base, unnest(range(1, greatest(len(toks)-3,1)::INT)) AS u(i)
),
r AS (
  SELECT doc_id, s,
         row_number() OVER (PARTITION BY gh ORDER BY doc_id, s) AS rn,
         count(*) OVER (PARTITION BY gh) AS n
  FROM occ
),
dups AS (SELECT doc_id, s FROM r WHERE n > 1 AND rn > 1),
isl AS (
  SELECT doc_id, s,
         CASE WHEN s > coalesce(max(s + 5) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM dups
),
isl2 AS (
  SELECT doc_id, s,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS iid
  FROM isl
),
spans AS (SELECT doc_id, min(s) AS st, max(s) + 5 AS en
          FROM isl2 GROUP BY doc_id, iid),
cov AS (SELECT doc_id, u.p AS pos FROM spans, unnest(range(st, en)) AS u(p)),
tokpos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM base, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
re AS (
  SELECT doc_id, count(*) AS kept_n,
         string_agg(tok, ',' ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, len(b.toks)::BIGINT AS n_tokens,
       (len(b.toks) - coalesce(re.kept_n, 0))::BIGINT AS dup_tokens,
       md5(coalesce(re.cleaned, '')) AS sig
FROM base b LEFT JOIN re ON re.doc_id = b.doc_id
"""


def q_minhash_neardup_tokens(spark, sf_dir):
    """MinHash+LSH near-dup candidates over the PRE-TOKENIZED shape:
    3-id shingles straight from the token array, no re-tokenization."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return dedup.minhash_neardup_pairs(t, tokens_col="tokens")


_MINHASH_NEARDUP_TOKENS_SQL = f"""
WITH {_TOKENIZE_SQL},
t2 AS (SELECT doc_id, list_transform(toks, t -> t::VARCHAR) AS t FROM tk),
sh AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i FROM t2)
), {_MINH_SQL}
SELECT p.doc_a, p.doc_b, count(*) AS sig_matches
FROM pairs p
JOIN minh ma ON ma.doc_id = p.doc_a
JOIN minh mb ON mb.doc_id = p.doc_b AND mb.seed = ma.seed AND mb.mh = ma.mh
GROUP BY 1, 2
"""


def q_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination against the same every-20th-doc
    benchmark slice as `decontaminate`: shared 13-gram spans are CUT
    from the text instead of dropping the whole document."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0).select("text")
    return cleaning.decontaminate_spans(docs, bench, n=13)


_DECONTAMINATE_SPANS_SQL = """
WITH base AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
occ AS (
  SELECT doc_id, u.i AS s,
         md5(array_to_string(toks[u.i:u.i+12], ' ')) AS gh
  FROM base, unnest(range(1, greatest(len(toks)-11,1)::INT)) AS u(i)
),
bg AS (
  SELECT DISTINCT md5(array_to_string(toks[u.i:u.i+12], ' ')) AS gh
  FROM (SELECT string_split(text, ' ') AS toks FROM documents
        WHERE doc_id % 20 = 0) b,
       unnest(range(1, greatest(len(toks)-11,1)::INT)) AS u(i)
),
dups AS (SELECT doc_id, s FROM occ WHERE gh IN (SELECT gh FROM bg)),
isl AS (
  SELECT doc_id, s,
         CASE WHEN s > coalesce(max(s + 13) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM dups
),
isl2 AS (
  SELECT doc_id, s,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS iid
  FROM isl
),
spans AS (SELECT doc_id, min(s) AS st, max(s) + 13 AS en
          FROM isl2 GROUP BY doc_id, iid),
cov AS (SELECT doc_id, u.p AS pos FROM spans, unnest(range(st, en)) AS u(p)),
tokpos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM base, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
re AS (
  SELECT doc_id, count(*) AS kept_n,
         string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, len(b.toks)::BIGINT AS n_tokens,
       (len(b.toks) - coalesce(re.kept_n, 0))::BIGINT AS dup_tokens,
       coalesce(re.cleaned_text, '') AS cleaned_text
FROM base b LEFT JOIN re ON re.doc_id = b.doc_id
"""


def q_decontaminate_spans_tokens(spark, sf_dir):
    """Span-level decontamination over the PRE-TOKENIZED shape against
    the tokenized every-20th-doc benchmark slice: shared 13-id spans
    are CUT from the sequence; verified via a content signature."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    bench = t.filter(F.col("doc_id") % 20 == 0).select("tokens")
    out = cleaning.decontaminate_spans_tokens(t, bench, n=13)
    return out.select(
        "doc_id", "n_tokens", "dup_tokens",
        F.md5(F.concat_ws(",", F.col("cleaned_tokens").cast("array<string>")))
        .alias("sig"),
    )


_DECONTAMINATE_SPANS_TOKENS_SQL = f"""
WITH {_TOKENIZE_SQL},
base AS (SELECT doc_id, list_transform(toks, t -> t::VARCHAR) AS toks FROM tk),
occ AS (
  SELECT doc_id, u.i AS s,
         md5(array_to_string(toks[u.i:u.i+12], ' ')) AS gh
  FROM base, unnest(range(1, greatest(len(toks)-11,1)::INT)) AS u(i)
),
bg AS (
  SELECT DISTINCT md5(array_to_string(toks[u.i:u.i+12], ' ')) AS gh
  FROM (SELECT toks FROM base WHERE doc_id % 20 = 0) b,
       unnest(range(1, greatest(len(toks)-11,1)::INT)) AS u(i)
),
dups AS (SELECT doc_id, s FROM occ WHERE gh IN (SELECT gh FROM bg)),
isl AS (
  SELECT doc_id, s,
         CASE WHEN s > coalesce(max(s + 13) OVER (
                 PARTITION BY doc_id ORDER BY s
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS ni
  FROM dups
),
isl2 AS (
  SELECT doc_id, s,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY s) AS iid
  FROM isl
),
spans AS (SELECT doc_id, min(s) AS st, max(s) + 13 AS en
          FROM isl2 GROUP BY doc_id, iid),
cov AS (SELECT doc_id, u.p AS pos FROM spans, unnest(range(st, en)) AS u(p)),
tokpos AS (
  SELECT doc_id, u.i AS pos, toks[u.i] AS tok
  FROM base, unnest(range(1, len(toks)::INT + 1)) AS u(i)
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM tokpos t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
  WHERE c.pos IS NULL
),
re AS (
  SELECT doc_id, count(*) AS kept_n,
         string_agg(tok, ',' ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, len(b.toks)::BIGINT AS n_tokens,
       (len(b.toks) - coalesce(re.kept_n, 0))::BIGINT AS dup_tokens,
       md5(coalesce(re.cleaned, '')) AS sig
FROM base b LEFT JOIN re ON re.doc_id = b.doc_id
"""


def q_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle into 16 training shards with
    within-shard positions — reproducible on any cluster size."""
    out = toks.shuffle_shards(_docs(spark, sf_dir), n_shards=16, with_pos=True)
    return out.select("doc_id", "shard", "sort_key", "pos")


_SHUFFLE_SHARDS_SQL = f"""
WITH k AS (
  SELECT doc_id,
         {H32_SQL.format(expr="'shuffle:' || doc_id::VARCHAR")} AS sort_key
  FROM documents
)
SELECT doc_id, (sort_key % 16)::INT AS shard, sort_key,
       (row_number() OVER (PARTITION BY sort_key % 16
                           ORDER BY sort_key, doc_id) - 1)::INT AS pos
FROM k
"""


def q_hash_sample(spark, sf_dir):
    """Deterministic 25% id-hash sample (never RNG — reproducible
    across engines, runs, partitionings)."""
    return toks.hash_sample(_docs(spark, sf_dir), 0.25).select("doc_id")


_HASH_SAMPLE_SQL = f"""
SELECT doc_id FROM documents
WHERE ({H32_SQL.format(expr="'sample:' || doc_id::VARCHAR")} % 1000000) < 250000
"""


def q_mix_sources(spark, sf_dir):
    """Domain-mix downsampling: per-source keep rates, deterministic
    id-hash cut; unlisted sources dropped."""
    out = toks.mix_sources(_docs(spark, sf_dir),
                           {"src0": 0.5, "src1": 1.0, "src2": 0.1})
    return out.select("doc_id", "source")


_MIX_SOURCES_SQL = f"""
SELECT doc_id, source FROM documents
WHERE ({H32_SQL.format(expr="'mix:' || doc_id::VARCHAR")} % 1000000) <
      CASE source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 1000000
                  WHEN 'src2' THEN 100000 ELSE -1 END
"""


def q_fim_transform(spark, sf_dir):
    """Fill-in-the-middle (PSM) over the tokenized documents: half the
    docs (deterministic id-hash) re-emit as [PRE] prefix [SUF] suffix
    [MID] middle with sentinels just past the vocab. The raw token
    array is the API (`toks.fim_transform`); the registry row carries
    a content signature of it so the driver's scalar canonicalizer can
    value-hash the result (the decontaminate_spans_tokens pattern)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.fim_transform(t, rate=0.5, mode="psm")
    return out.select(
        "doc_id",
        F.md5(F.concat_ws(",", F.col("tokens").cast("array<string>")))
        .alias("tokens_sig"),
        "n_tok", "fim_applied",
    )


_FIM_BASE_SQL = f"""
WITH {_TOKENIZE_SQL},
base AS (
  SELECT doc_id, toks, len(toks) AS n,
         ({H32_SQL.format(expr="'fim:' || doc_id::VARCHAR")} % 1000000)
             < 500000 AND len(toks) >= 4 AS applied,
         least({H32_SQL.format(expr="'fim:a:' || doc_id::VARCHAR")} % (len(toks) + 1),
               {H32_SQL.format(expr="'fim:b:' || doc_id::VARCHAR")} % (len(toks) + 1)) AS a,
         greatest({H32_SQL.format(expr="'fim:a:' || doc_id::VARCHAR")} % (len(toks) + 1),
                  {H32_SQL.format(expr="'fim:b:' || doc_id::VARCHAR")} % (len(toks) + 1)) AS b
  FROM tk
)"""

_FIM_SQL = _FIM_BASE_SQL + f""", built AS (
  SELECT doc_id,
         CASE WHEN applied THEN
           [{_TOKVOCAB}] || list_slice(toks, 1, a) || [{_TOKVOCAB + 1}]
           || list_slice(toks, b + 1, n) || [{_TOKVOCAB + 2}]
           || list_slice(toks, a + 1, b)
         ELSE toks END AS tokens,
         applied AS fim_applied
  FROM base
)
SELECT doc_id, md5(array_to_string(tokens, ',')) AS tokens_sig,
       len(tokens)::INT AS n_tok, fim_applied
FROM built
"""


def q_fim_loss_mask(spark, sf_dir):
    """FIM with the trainer's loss mask: 0 before the [MID] sentinel,
    1 from [MID] onward (the infill prediction region); all-ones for
    untransformed docs. Registry row carries the mask's content
    signature (raw array stays the pytest-level API)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.fim_transform(t, rate=0.5, mode="psm", with_loss_mask=True)
    return out.select(
        "doc_id", "n_tok",
        F.md5(F.concat_ws(",", F.col("loss_mask").cast("array<string>")))
        .alias("loss_mask_sig"),
        "fim_applied",
    )


_FIM_LOSS_SQL = _FIM_BASE_SQL + """
SELECT doc_id,
       (CASE WHEN applied THEN n + 3 ELSE n END)::INT AS n_tok,
       md5(array_to_string(
         CASE WHEN applied THEN
           list_transform(generate_series(1, n - b + a + 2), x -> 0::INT)
           || list_transform(generate_series(1, b - a + 1), x -> 1::INT)
         ELSE list_transform(generate_series(1, n), x -> 1::INT) END,
         ',')) AS loss_mask_sig,
       applied AS fim_applied
FROM base
"""


def q_temperature_rates(spark, sf_dir):
    """α-temperature mixing rates (T5/XLM rule, α=0.5): per-source
    output share ∝ sqrt(volume share); rates derived in-plan from one
    tiny per-source aggregate, integer-ppm quantized."""
    return toks.temperature_rates(_docs(spark, sf_dir), alpha=0.5,
                                  target_frac=0.5)


def q_temperature_mix(spark, sf_dir):
    """α-temperature source resampling: the rates above applied as a
    deterministic id-hash cut — same rows at any parallelism."""
    out = toks.temperature_mix(_docs(spark, sf_dir), alpha=0.5,
                               target_frac=0.5)
    return out.select("doc_id", "source")


# mirrors temperature_rates' exact arithmetic: integer n/N, integer
# micro-unit w/W (sqrt is correctly rounded → identical on any
# engine), fixed operation order ((tf*N)*(w/W))/n
_TEMP_RATES_CTE = """
per AS (
  SELECT source, sum(n_chars)::BIGINT AS n,
         CAST(round(sqrt(sum(n_chars)::BIGINT::DOUBLE) * 1000000) AS BIGINT) AS w
  FROM documents GROUP BY source
), g AS (
  SELECT sum(n)::BIGINT AS tot_n, sum(w)::BIGINT AS tot_w FROM per
), rates AS (
  SELECT source, n AS volume,
         n::DOUBLE / tot_n::DOUBLE AS share_natural,
         w::DOUBLE / tot_w::DOUBLE AS share_target,
         CAST(round(least(1.0,
              ((0.5 * tot_n::DOUBLE) * (w::DOUBLE / tot_w::DOUBLE)) / n::DOUBLE
         ) * 1000000) AS BIGINT) AS rate_ppm
  FROM per, g
)"""

_TEMPERATURE_RATES_SQL = f"""
WITH {_TEMP_RATES_CTE}
SELECT source, volume, share_natural, share_target, rate_ppm FROM rates
"""

_TEMPERATURE_MIX_SQL = f"""
WITH {_TEMP_RATES_CTE}
SELECT d.doc_id, d.source
FROM documents d JOIN rates r ON r.source = d.source
WHERE ({H32_SQL.format(expr="'tmix:' || d.doc_id::VARCHAR")} % 1000000)
      < r.rate_ppm
"""


def q_corpus_report(spark, sf_dir):
    """One-row corpus datacard: doc/source counts, char volume, exact
    duplicate load, quality-pass count."""
    return textstats.corpus_report(_docs(spark, sf_dir))


def _corpus_report_sql() -> str:
    return f"""
WITH qf AS ({_quality_filters_sql()})
SELECT count(*)::BIGINT AS n_docs,
       count(DISTINCT d.source)::BIGINT AS n_sources,
       sum(d.n_chars)::BIGINT AS total_chars,
       count(DISTINCT md5(d.text))::BIGINT AS n_unique_texts,
       sum(CASE WHEN qf.passes_quality THEN 1 ELSE 0 END)::BIGINT
         AS n_quality_pass
FROM documents d JOIN qf USING (doc_id)
"""


def q_epoch_schedule(spark, sf_dir):
    """Three-epoch schedule: per-epoch reproducible permutation (the
    hash seed folds in the epoch number), 64 shards."""
    return toks.epoch_schedule(_docs(spark, sf_dir), n_epochs=3, n_shards=64)


_EPOCH_SCHEDULE_SQL = f"""
SELECT doc_id, u.e::BIGINT AS epoch,
       ({H32_SQL.format(expr="'epoch:' || u.e::VARCHAR || ':' || doc_id::VARCHAR")}
        % 64)::INT AS shard,
       {H32_SQL.format(expr="'epoch:' || u.e::VARCHAR || ':' || doc_id::VARCHAR")}
         AS sort_key
FROM documents, UNNEST(generate_series(0, 2)) AS u(e)
"""


def q_curriculum_order(spark, sf_dir):
    """Curriculum ordering: n_chars-quantile difficulty buckets
    (thresholds from a 25% hash sample — the bounded-sample
    discipline), deterministic within-bucket sort key."""
    return toks.curriculum_order(_docs(spark, sf_dir), score_col="n_chars",
                                 n_buckets=4, sample_rate=0.25)


_CURRICULUM_SQL = f"""
WITH s AS (
  SELECT n_chars FROM documents
  WHERE ({H32_SQL.format(expr="'curr:s:' || doc_id::VARCHAR")} % 1000000)
        < 250000
), th AS (
  SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS t FROM s
)
SELECT doc_id,
       n_chars AS score,
       len(list_filter(th.t, x -> n_chars > x))::INT AS bucket,
       {H32_SQL.format(expr="'curr:' || doc_id::VARCHAR")} AS sort_key
FROM documents, th
"""


def q_length_buckets(spark, sf_dir):
    """Length-bucketed batch layout over the tokenized docs: power-of-2
    length buckets × 4 id-hash shards, deterministic in-group order,
    batch_id = pos // 32."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return toks.length_buckets(t, batch_size=32, n_shards=4)


_LENGTH_BUCKETS_SQL = f"""
WITH {_TOKENIZE_SQL},
b AS (
  SELECT doc_id, len(toks) AS n_tok,
         (CASE WHEN len(toks) <= 1 THEN 0
               ELSE length(bin(len(toks) - 1)) END)::INT AS bucket,
         ({H32_SQL.format(expr="'lenbatch:sh:' || doc_id::VARCHAR")} % 4)::INT
           AS shard,
         {H32_SQL.format(expr="'lenbatch:' || doc_id::VARCHAR")} AS sk
  FROM tk
), p AS (
  SELECT doc_id, n_tok, bucket, shard,
         (row_number() OVER (PARTITION BY bucket, shard
                             ORDER BY sk, doc_id) - 1) AS pos
  FROM b
)
SELECT doc_id, n_tok, bucket, shard, pos,
       floor(pos / 32.0)::BIGINT AS batch_id
FROM p
"""


def q_padding_stats(spark, sf_dir):
    """Padding-waste datacard over the length-bucketed batch layout:
    per bucket, real tokens vs pad-to-longest slots and waste_ppm —
    the number that justifies length-bucketed batching."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    lay = toks.length_buckets(t, batch_size=32, n_shards=4)
    return toks.padding_stats(lay)


_PADDING_STATS_SQL = f"""
WITH {_TOKENIZE_SQL},
b AS (
  SELECT doc_id, len(toks) AS n_tok,
         (CASE WHEN len(toks) <= 1 THEN 0
               ELSE length(bin(len(toks) - 1)) END)::INT AS bucket,
         ({H32_SQL.format(expr="'lenbatch:sh:' || doc_id::VARCHAR")} % 4)::INT
           AS shard,
         {H32_SQL.format(expr="'lenbatch:' || doc_id::VARCHAR")} AS sk
  FROM tk
), p AS (
  SELECT n_tok, bucket, shard,
         (row_number() OVER (PARTITION BY bucket, shard
                             ORDER BY sk, doc_id) - 1) AS pos
  FROM b
), pb AS (
  SELECT bucket, shard, floor(pos / 32.0)::BIGINT AS batch_id,
         count(*) AS n_rows, max(n_tok) AS max_tok,
         sum(n_tok) AS real_tok
  FROM p GROUP BY 1, 2, 3
), pk AS (
  SELECT bucket, count(*) AS n_batches,
         sum(real_tok)::BIGINT AS real_tokens,
         sum(n_rows * max_tok)::BIGINT AS padded_slots
  FROM pb GROUP BY bucket
)
SELECT bucket, n_batches, real_tokens, padded_slots,
       CAST(round((padded_slots - real_tokens) * 1000000.0
                  / padded_slots) AS BIGINT) AS waste_ppm
FROM pk
"""


def q_length_resample(spark, sf_dir):
    """Long-context resampling weights: equal-mass-per-length-bucket
    doc weights (uniform target over occupied power-of-2 buckets)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return toks.length_resample_weights(t)


_LENGTH_RESAMPLE_SQL = f"""
WITH {_TOKENIZE_SQL},
d AS (
  SELECT doc_id,
         (CASE WHEN len(toks) <= 1 THEN 0
               ELSE length(bin(len(toks) - 1)) END)::INT AS bucket
  FROM tk
),
c AS (SELECT bucket, count(*) AS n_docs FROM d GROUP BY bucket),
t AS (SELECT sum(n_docs) AS total_docs, count(*) AS k_buckets FROM c),
w AS (
  SELECT bucket, n_docs,
         CAST(round(total_docs * 1000000.0 / (k_buckets * n_docs))
              AS BIGINT) AS weight_ppm
  FROM c, t
)
SELECT d.doc_id, d.bucket, w.n_docs, w.weight_ppm
FROM d JOIN w USING (bucket)
"""


def q_chat_loss_mask(spark, sf_dir):
    """SFT conversation flattening: docs chunked into alternating
    user/assistant turns of 6 tokens (deterministic fixture), then
    role-sentinel concat + assistant-only loss mask."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    n_chunks = F.greatest(
        F.ceil(F.col("n_tok") / F.lit(6.0)).cast("int"), F.lit(1)
    )
    turns = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.when(i % 2 == 0, F.lit("user"))
            .otherwise(F.lit("assistant"))
            .alias("role"),
            F.slice(F.col("tokens"), i * 6 + 1, 6).alias("tokens"),
        ),
    )
    conv = t.select(F.col("doc_id").alias("conv_id"), turns.alias("turns"))
    out = toks.chat_loss_mask(conv)

    def sig(c):
        return F.md5(
            F.concat_ws(",", F.col(c).cast("array<string>"))
        ).alias(c + "_sig")

    return out.select("conv_id", sig("tokens"), sig("loss_mask"), "n_tok")


_CHAT_LOSS_MASK_SQL = f"""
WITH {_TOKENIZE_SQL},
conv AS (
  SELECT doc_id AS conv_id,
         list_transform(
           range(0, greatest(cast(ceil(len(toks) / 6.0) AS INT), 1)),
           i -> struct_pack(
             role := CASE WHEN i % 2 = 0 THEN 'user'
                          ELSE 'assistant' END,
             tokens := list_slice(toks, i * 6 + 1, i * 6 + 6))
         ) AS turns
  FROM tk
)
SELECT conv_id,
       md5(array_to_string(flatten(list_transform(turns,
         t -> list_prepend(CASE WHEN t.role = 'user' THEN 2
                                WHEN t.role = 'assistant' THEN 3
                                ELSE -1 END, t.tokens))), ',')) AS tokens_sig,
       md5(array_to_string(flatten(list_transform(turns,
         t -> list_prepend(0, list_transform(t.tokens,
                x -> CASE WHEN t.role = 'assistant' THEN 1
                          ELSE 0 END)))), ',')) AS loss_mask_sig,
       len(flatten(list_transform(turns, t -> list_prepend(0, t.tokens))))
         AS n_tok
FROM conv
"""


def q_preference_pairs(spark, sf_dir):
    """DPO pair construction over a deterministic scored pool: docs
    grouped 20 ways by id, response score = token count; chosen =
    best score (ties: smallest id), rejected = worst; all-tie pools
    drop."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    pool = t.select(
        (F.col("doc_id") % 20).alias("prompt_id"),
        F.col("doc_id").alias("response_id"),
        F.col("n_tok").alias("score"),
    )
    return toks.preference_pairs(pool)


_PREFERENCE_PAIRS_SQL = """
WITH p AS (
  SELECT doc_id % 20 AS prompt_id, doc_id AS response_id,
         len(string_split(text, ' ')) AS score
  FROM documents
),
r AS (
  SELECT prompt_id, response_id, score,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY score DESC, response_id ASC) AS rb,
         row_number() OVER (PARTITION BY prompt_id
                            ORDER BY score ASC, response_id ASC) AS rw,
         count(*) OVER (PARTITION BY prompt_id) AS n
  FROM p
),
b AS (SELECT prompt_id, response_id AS chosen_id, score AS chosen_score
      FROM r WHERE rb = 1 AND n >= 2),
w AS (SELECT prompt_id, response_id AS rejected_id,
             score AS rejected_score
      FROM r WHERE rw = 1)
SELECT b.prompt_id, chosen_id, rejected_id, chosen_score, rejected_score,
       chosen_score - rejected_score AS margin
FROM b JOIN w USING (prompt_id)
WHERE chosen_score - rejected_score > 0
"""


def q_log_corpus_bridge(spark, sf_dir):
    """Axes A+B bridge — the log pipeline's output IS the training
    corpus's input: harvest-rendered event lines are dissect-parsed
    through a processor chain with a drop_event noise filter, the
    surviving messages become documents, exact-dedup keep-one
    collapses the repeated templates, and the distinct texts tokenize
    and pack into 64-id training sequences. One declarative plan end
    to end: parse → filter → dedup → tokenize → pack."""
    from beats_spark.dissect import dissect
    from beats_spark.pipeline import build_pipeline, normalize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    level = (
        F.when(F.col("event_type") == "error", "error")
        .when(F.col("value") >= 400, "warn")
        .otherwise("info")
    )
    raw = ev.withColumn(
        "message",
        F.concat(
            F.lit("level="), level,
            F.lit(" user="), F.col("user_id").cast("string"),
            F.lit(' msg="'), F.col("event_type"), F.lit(' evt"'),
        ),
    )
    chain = build_pipeline(
        [
            lambda df: dissect(
                df, 'level=%{level} user=%{uid|long} msg="%{msg}"',
                target_prefix="",
            ),
            {"drop_event": {}, "when": {"equals": {"msg": "view evt"}}},
        ]
    )
    parsed = chain(normalize(raw))
    docs = parsed.select(
        F.col("event_id").alias("doc_id"),
        F.concat(
            F.col("level"), F.lit(" "), F.col("msg"),
            F.lit(" u"), (F.col("uid") % 100).cast("string"),
        ).alias("text"),
    )
    keep = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    t = toks.tokenize_ids(keep)
    out = toks.pack_sequences(t, max_len=64, emit="exploded")
    return out.select(
        "seq_no", "pos_in_seq", F.col("token_id").cast("long").alias("token_id")
    )


_LOG_CORPUS_BRIDGE_SQL = f"""
WITH lines AS (
  SELECT event_id AS doc_id,
         lvl || ' ' || event_type || ' evt u'
             || (user_id % 100)::VARCHAR AS text
  FROM (SELECT event_id, user_id, event_type,
               CASE WHEN event_type = 'error' THEN 'error'
                    WHEN value >= 400 THEN 'warn'
                    ELSE 'info' END AS lvl
        FROM events)
  WHERE event_type <> 'view'
),
keep AS (SELECT min(doc_id) AS doc_id, text FROM lines GROUP BY text),
tk AS (
  SELECT doc_id,
         list_transform(string_split(text, ' '),
                        w -> ({H32_SQL.format(expr='w')} % {_TOKVOCAB}))
           AS toks
  FROM keep
),
o AS (
  SELECT doc_id, toks,
         coalesce(sum(len(toks)) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS strt
  FROM tk
),
ex AS (
  SELECT strt + i AS pos, toks[i::INT + 1] AS token_id
  FROM (SELECT strt, toks, unnest(range(0, len(toks))) AS i FROM o)
)
SELECT (pos // 64)::BIGINT AS seq_no, (pos % 64)::BIGINT AS pos_in_seq,
       token_id::BIGINT AS token_id
FROM ex
"""


def q_token_budget_sample(spark, sf_dir):
    """Per-source token-budget draw (2500 tokens/source): hash-ordered
    docs kept while the inclusive running total fits the budget; one
    audit row per input doc with the cut line visible."""
    d = _docs(spark, sf_dir)
    from beats_spark.corpus.hashing import word_tokens

    pool = d.select(
        "doc_id", "source",
        F.size(word_tokens(F.col("text"))).alias("n_tok"),
    )
    return toks.token_budget_sample(pool, 2500)


_TOKEN_BUDGET_SAMPLE_SQL = f"""
WITH d AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
         {H32_SQL.format(expr="'budget:' || doc_id::VARCHAR")} AS sk
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok, sk,
         sum(n_tok) OVER (PARTITION BY source
                          ORDER BY sk, doc_id) AS cum_tok
  FROM d
)
SELECT doc_id, source, n_tok, cum_tok, (cum_tok <= 2500) AS kept
FROM c
"""


def q_span_corrupt(spark, sf_dir):
    """T5 span corruption over the tokenized documents: grid-placed
    fixed-length noise spans, sentinel-delimited (inputs, targets)
    denoising pair — all cut points md5 functions of (doc_id, i).
    Registry row carries content signatures of the two arrays (raw
    arrays stay the pytest-level API)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    out = toks.span_corrupt(t, noise_density=0.15, span_len=3)

    def sig(c):
        return F.md5(
            F.concat_ws(",", F.col(c).cast("array<string>"))
        ).alias(c + "_sig")

    return out.select(
        "doc_id", sig("inputs"), sig("targets"), "n_spans", "corrupted"
    )


_SPANC_SQL = f"""
WITH {_TOKENIZE_SQL},
base AS (
  SELECT doc_id, toks, len(toks) AS n,
         len(toks) >= 8 AS applied,
         greatest(1, least(
           floor(len(toks) * 0.15 / 3.0),
           floor(len(toks) / 4.0)
         ))::BIGINT AS k
  FROM tk
), g AS (
  SELECT *, floor(n / k)::BIGINT AS seg FROM base
), spans AS (
  SELECT doc_id, toks, n, k, seg, u.i,
         u.i * seg
           + ({H32_SQL.format(expr="'spanc:o:' || doc_id::VARCHAR || ':' || u.i::VARCHAR")}
              % (seg - 2)) AS s,
         CASE WHEN u.i = 0 THEN 0 ELSE
           (u.i - 1) * seg
           + ({H32_SQL.format(expr="'spanc:o:' || doc_id::VARCHAR || ':' || (u.i - 1)::VARCHAR")}
              % (seg - 2)) + 3
         END AS prev_end
  FROM g, UNNEST(generate_series(0, k - 1)) AS u(i)
  WHERE applied
), agg AS (
  SELECT doc_id,
         flatten(list(list_slice(toks, prev_end + 1, s)
                      || [(50257 + i)::INT] ORDER BY i)) AS inp_body,
         flatten(list([(50257 + i)::INT]
                      || list_slice(toks, s + 1, s + 3) ORDER BY i)) AS tgt_body,
         max(s) + 3 AS last_end
  FROM spans GROUP BY doc_id
)
SELECT b.doc_id,
       md5(array_to_string(
         CASE WHEN b.applied
              THEN a.inp_body || list_slice(b.toks, a.last_end + 1, b.n)
              ELSE b.toks END, ',')) AS inputs_sig,
       md5(array_to_string(
         CASE WHEN b.applied
              THEN a.tgt_body || [(50257 + b.k)::INT]
              ELSE []::INT[] END, ',')) AS targets_sig,
       (CASE WHEN b.applied THEN b.k ELSE 0 END)::BIGINT AS n_spans,
       b.applied AS corrupted
FROM g b LEFT JOIN agg a USING (doc_id)
"""


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-space benchmark decontamination: every corpus vector
    (vec_id % 23 != 0) gets its nearest benchmark vector (% 23 == 0)
    by exact cosine + a contaminated flag — one narrow broadcast-GEMM
    map, zero shuffles."""
    emb = _emb(spark, sf_dir)
    bench = emb.filter(F.col("vec_id") % 23 == 0)
    corpus = emb.filter(F.col("vec_id") % 23 != 0)
    return similarity.semantic_decontaminate(corpus, bench, threshold=0.45)


_SEMANTIC_DECON_SQL = f"""
WITH {_EMB_PREP_SQL},
bn AS (SELECT * FROM e WHERE vec_id % 23 = 0),
dc AS (SELECT * FROM e WHERE vec_id % 23 != 0),
p AS (
  SELECT a.vec_id, b.vec_id AS bench_id, {_COS_SQL} AS cos
  FROM dc a, bn b
)
SELECT vec_id, bench_id, cos, (cos >= 0.45) AS contaminated
FROM p
QUALIFY row_number() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, bench_id ASC) = 1
"""


def q_pack_training_meta(spark, sf_dir):
    """Trainer metadata over the packed bins: per-document position-id
    resets, 1-based segment ids, padding loss mask, tokens padded to
    max_len — verified via content signatures like pack_bins_sequences."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    packed = toks.pack_bins_sequences(t, max_len=128, n_buckets=16)
    out = toks.pack_training_meta(packed, max_len=128, pad_id=0)

    def sig(c):
        return F.md5(
            F.concat_ws(",", F.col(c).cast("array<string>"))
        ).alias(c + "_sig")

    return out.select(
        "bin_id", "n_docs", "n_tok",
        sig("tokens"), sig("position_ids"),
        sig("segment_ids"), sig("loss_mask"),
    )


_PACK_META_PAD = "list_transform(generate_series(1, greatest(0, 128 - n_tok)), x -> 0::BIGINT)"
_PACK_META_SQL = _PACK_BINS_SEQ_SQL.rsplit("SELECT (bucket", 1)[0] + f""",
sg AS (
  SELECT bucket, bin_no, doc_id, n, toks,
         row_number() OVER (PARTITION BY bucket, bin_no
                            ORDER BY n DESC, doc_id) AS seg
  FROM st
),
bins AS (
  SELECT (bucket::BIGINT * 4294967296 + bin_no)::BIGINT AS bin_id,
         count(*)::BIGINT AS n_docs,
         sum(n)::BIGINT AS n_tok,
         flatten(list(CASE WHEN n > 0 THEN generate_series(0, n - 1)
                           ELSE []::BIGINT[] END ORDER BY n DESC, doc_id)) AS pos,
         flatten(list(list_transform(generate_series(1, n), x -> seg::BIGINT)
                      ORDER BY n DESC, doc_id)) AS segs,
         flatten(list(toks ORDER BY n DESC, doc_id)) AS tks
  FROM sg GROUP BY bucket, bin_no
)
SELECT bin_id, n_docs, n_tok,
       md5(array_to_string(tks || {_PACK_META_PAD}, ',')) AS tokens_sig,
       md5(array_to_string(pos || {_PACK_META_PAD}, ',')) AS position_ids_sig,
       md5(array_to_string(segs || {_PACK_META_PAD}, ',')) AS segment_ids_sig,
       md5(array_to_string(
           list_transform(generate_series(1, n_tok), x -> 1::BIGINT)
           || {_PACK_META_PAD}, ',')) AS loss_mask_sig
FROM bins
"""


# -- end-to-end corpus pipeline (quality → decon → near-dup → tokenize) --------

from beats_spark.corpus import pipeline as cpipe  # noqa: E402


def _pipeline_result(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0).select("text")
    return cpipe.clean_corpus(docs, bench)


def q_corpus_pipeline(spark, sf_dir):
    """The full training-data cleaning composition as one operator:
    C4/Gopher quality rules → 13-gram benchmark decontamination (bench
    = every 20th doc) → MinHash near-dup resolution keep-one → token
    counts of the surviving corpus. Oracle replays the identical chain
    in SQL (quality CTE → gram semi-join → WITH RECURSIVE closure)."""
    res = _pipeline_result(spark, sf_dir)
    return res.tokenized.select(
        "doc_id", F.col("n_tok").cast("long").alias("n_tok")
    )


def q_corpus_pipeline_funnel(spark, sf_dir):
    """Stage-by-stage document counts of the cleaning composition —
    the accounting every real corpus run reports."""
    res = _pipeline_result(spark, sf_dir)
    return res.funnel.select(
        "stage_no", "stage", F.col("n_docs").cast("long").alias("n_docs")
    )


def _corpus_pipeline_ctes() -> str:
    """Shared WITH-chain replaying clean_corpus in DuckDB: qf/kept1
    (quality), dg/bg/cont/kept2 (decontamination), the minhash band
    chain over kept2, edges/reach/labs (recursive closure), surv."""
    qf_sql = _quality_filters_sql().strip()
    shingle_over_kept2 = _SHINGLE_SQL.replace("FROM documents", "FROM kept2")
    gram = H32_SQL.format(
        expr="array_to_string(list_slice(t, i::INT, i::INT + 12), ' ')"
    )
    return f"""
qf AS ({qf_sql}),
kept1 AS (
  SELECT d.doc_id, d.text FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM qf WHERE passes_quality)
),
dg AS (
  SELECT DISTINCT doc_id, {gram} AS gh
  FROM (SELECT doc_id, string_split(text, ' ') AS t,
               unnest(range(1, greatest(len(string_split(text, ' ')) - 11, 1))) AS i
        FROM kept1)
  WHERE len(t) >= 13
),
bg AS (
  SELECT DISTINCT {gram} AS gh
  FROM (SELECT string_split(text, ' ') AS t,
               unnest(range(1, greatest(len(string_split(text, ' ')) - 11, 1))) AS i
        FROM documents WHERE doc_id % 20 = 0)
  WHERE len(t) >= 13
),
cont AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (gh)),
kept2 AS (
  SELECT * FROM kept1 WHERE doc_id NOT IN (SELECT doc_id FROM cont)
),
{shingle_over_kept2}, {_MINH_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labs AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id),
surv AS (
  SELECT k.doc_id, k.text FROM kept2 k LEFT JOIN labs l ON l.id = k.doc_id
  WHERE l.lab IS NULL OR l.lab = k.doc_id
)"""


def _corpus_pipeline_sql() -> str:
    return f"""
WITH RECURSIVE {_corpus_pipeline_ctes()}
SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok FROM surv
"""


def _corpus_pipeline_funnel_sql() -> str:
    return f"""
WITH RECURSIVE {_corpus_pipeline_ctes()}
SELECT 0::INT AS stage_no, 'raw' AS stage, count(*)::BIGINT AS n_docs FROM documents
UNION ALL
SELECT 1::INT, 'quality', count(*)::BIGINT FROM kept1
UNION ALL
SELECT 2::INT, 'decontaminated', count(*)::BIGINT FROM kept2
UNION ALL
SELECT 3::INT, 'neardup_survivors', count(*)::BIGINT FROM surv
"""


# -- round-4 late additions: learned quality scorer, truncation datacard ------

_QC_BUCKETS = 1 << 18
_QC_INNER = H32_SQL.format(expr="'qc:' || f")
_QC_WEIGHT = H32_SQL.format(
    expr=f"'qc:w:' || ({_QC_INNER} % {_QC_BUCKETS})::VARCHAR"
)

def _qc_score_sql(score_alias: str = "score") -> str:
    """Shared CTE chain of the hashed linear quality scorer:
    whitespace tokens → uni+bigram features → hashed bucket weights →
    per-doc (n_feat, sum_w) → quantized mean score as ``sc``. One
    generator composed into all three scorer oracles
    (quality_classifier / quality_by_source / quality_sample) so a
    scorer change can never leave one oracle testing a different
    scorer (same discipline as :func:`_nb_cnt_sql`)."""
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
feat AS (
  SELECT doc_id, t[i] AS f
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks)
  UNION ALL
  SELECT doc_id, t[i] || ' ' || t[i+1] AS f
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
),
fw AS (
  SELECT doc_id, (({_QC_WEIGHT}) % 2001 - 1000)::BIGINT AS w FROM feat
),
agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_feat, sum(w)::BIGINT AS sum_w
  FROM fw GROUP BY doc_id
),
sc AS (
  SELECT doc_id, n_feat, sum_w,
         CAST(round(sum_w::DOUBLE * 1000.0
              / greatest(n_feat, 1)::DOUBLE) AS BIGINT) AS {score_alias}
  FROM agg
)"""


_QUALITY_CLASSIFIER_SQL = f"""
WITH {_qc_score_sql("score_ppm")}
SELECT doc_id, n_feat, sum_w, score_ppm,
       (score_ppm >= 0) AS passes_classifier
FROM sc
"""


def q_quality_classifier(spark, sf_dir):
    """fastText-style hashed linear quality scorer (hashing-trick
    path: zero joins, zero UDFs — one codegen map pass)."""
    return textstats.quality_classifier(_docs(spark, sf_dir),
                                        n_buckets=_QC_BUCKETS)


_TRUNCATION_SQL = f"""
WITH {_TOKENIZE_SQL},
n AS (SELECT len(toks)::BIGINT AS n FROM tk),
x AS (
  SELECT n, u.c::BIGINT AS ctx_len
  FROM n, UNNEST([128, 512, 2048, 8192]) AS u(c)
)
SELECT ctx_len,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN n > ctx_len THEN 1 ELSE 0 END)::BIGINT
         AS n_docs_truncated,
       sum(n)::BIGINT AS tokens_total,
       sum(least(n, ctx_len))::BIGINT AS tokens_kept,
       sum(greatest(n - ctx_len, 0))::BIGINT AS tokens_lost,
       CAST(round(sum(least(n, ctx_len))::DOUBLE * 1000000.0
            / sum(n)::DOUBLE) AS BIGINT) AS kept_ppm
FROM x GROUP BY ctx_len
"""


def q_truncation_stats(spark, sf_dir):
    """Per-context-length truncation accounting over the tokenized
    docs (n_tok-only narrow scan, one hash aggregate)."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    return toks.truncation_stats(t, ctx_lens=(128, 512, 2048, 8192))


# -- round-4 late additions: NB-trained classifier, source drift, ------------
# -- incremental dedup --------------------------------------------------------

def _nb_cnt_sql() -> str:
    """Shared CTE chain: quality_filters labels → feature counts →
    totals — generated from the same `_quality_filters_sql` the
    quality_filters oracle uses, so labels cannot drift."""
    return f"""qf AS ({_quality_filters_sql()}),
lab AS (
  SELECT d.doc_id, d.text, q.passes_quality AS pos
  FROM documents d JOIN qf q ON q.doc_id = d.doc_id
),
ltoks AS (SELECT pos, string_split(text, ' ') AS t FROM lab),
lfeat AS (
  SELECT pos, t[i] AS f
  FROM (SELECT pos, t, unnest(range(1, len(t) + 1)) AS i FROM ltoks)
  UNION ALL
  SELECT pos, t[i] || ' ' || t[i+1] AS f
  FROM (SELECT pos, t, unnest(range(1, len(t))) AS i FROM ltoks)
),
cnt AS (
  SELECT f AS feature,
         sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS c_pos,
         sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS c_neg
  FROM lfeat GROUP BY f
),
tot AS (
  SELECT sum(c_pos)::BIGINT AS tp, sum(c_neg)::BIGINT AS tn,
         count(*)::BIGINT AS v
  FROM cnt
)"""


_NB_WEIGHT_EXPR = """(CAST(round(log2((c_pos + 1)::DOUBLE / (t.tp + t.v)::DOUBLE) * 1000000.0) AS BIGINT)
        - CAST(round(log2((c_neg + 1)::DOUBLE / (t.tn + t.v)::DOUBLE) * 1000000.0) AS BIGINT))"""


_NB_WEIGHTS_SQL = f"""
WITH {_nb_cnt_sql()}
SELECT feature, c_pos, c_neg,
       {_NB_WEIGHT_EXPR} AS weight
FROM cnt CROSS JOIN tot t
"""


def _labeled_docs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    qf = textstats.quality_filters(docs).select("doc_id", "passes_quality")
    return docs.join(qf, "doc_id").select(
        "doc_id", "text", F.col("passes_quality").alias("label")
    )


def q_nb_weights(spark, sf_dir):
    """Train the quality-classifier weight table with Naive Bayes on
    rule labels (quality_filters → passes_quality) — the FineWeb-edu
    distillation flow, rules standing in for the LLM judge."""
    return textstats.train_classifier_nb(_labeled_docs(spark, sf_dir))


_QUALITY_CLASSIFIER_TRAINED_SQL = f"""
WITH {_nb_cnt_sql()},
wt AS (
  SELECT feature, {_NB_WEIGHT_EXPR} AS weight
  FROM cnt CROSS JOIN tot t
),
dtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
dfeat AS (
  SELECT doc_id, t[i] AS f
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM dtoks)
  UNION ALL
  SELECT doc_id, t[i] || ' ' || t[i+1] AS f
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM dtoks)
),
agg AS (
  SELECT d.doc_id, count(*)::BIGINT AS n_feat,
         sum(coalesce(w.weight, 0))::BIGINT AS sum_w
  FROM dfeat d LEFT JOIN wt w ON w.feature = d.f
  GROUP BY d.doc_id
),
sc AS (
  SELECT doc_id, n_feat, sum_w,
         CAST(round(sum_w::DOUBLE * 1000.0
              / greatest(n_feat, 1)::DOUBLE) AS BIGINT) AS score_ppm
  FROM agg
)
SELECT doc_id, n_feat, sum_w, score_ppm,
       (score_ppm >= 0) AS passes_classifier
FROM sc
"""


def q_quality_classifier_trained(spark, sf_dir):
    """Full train→score composition: NB weights from rule labels,
    broadcast into the classifier's weights path."""
    docs = _docs(spark, sf_dir)
    w = textstats.train_classifier_nb(_labeled_docs(spark, sf_dir))
    return textstats.quality_classifier(docs, weights=w)


_SOURCE_KL_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
csf AS (SELECT source, tok, count(*)::BIGINT AS c FROM toks GROUP BY 1, 2),
ts AS (
  SELECT source, sum(c)::BIGINT AS t_s, count(*)::BIGINT AS n_distinct
  FROM csf GROUP BY 1
),
cf AS (SELECT tok, sum(c)::BIGINT AS cf FROM csf GROUP BY 1),
tt AS (SELECT sum(c)::BIGINT AS t FROM csf),
term AS (
  SELECT s.source, ts.t_s, ts.n_distinct,
         s.c * (CAST(round(log2(s.c::DOUBLE / ts.t_s::DOUBLE) * 1000000.0) AS BIGINT)
                - CAST(round(log2(f.cf::DOUBLE / tt.t::DOUBLE) * 1000000.0) AS BIGINT)) AS x
  FROM csf s
  JOIN ts ON ts.source = s.source
  JOIN cf f ON f.tok = s.tok
  CROSS JOIN tt
)
SELECT source, t_s AS n_tokens, n_distinct,
       CAST(round(sum(x)::DOUBLE / t_s::DOUBLE) AS BIGINT) AS kl_mbits
FROM term
GROUP BY source, t_s, n_distinct
"""


def q_source_kl(spark, sf_dir):
    """Per-source unigram KL drift vs the corpus mix (datacard)."""
    return textstats.source_kl(_docs(spark, sf_dir))


_INCR_MM = 8  # min signature agreement (est Jaccard >= 0.5)

_DEDUP_INCREMENTAL_SQL = f"""
WITH {_SHINGLE_SQL}, {_MINH_SQL},
split AS (
  SELECT doc_id,
         (({H32_SQL.format(expr="'incr:' || doc_id::VARCHAR")}) % 5 = 0) AS is_new
  FROM documents
),
nb AS (SELECT b.* FROM bands b JOIN split s ON s.doc_id = b.doc_id WHERE s.is_new),
eb AS (SELECT b.* FROM bands b JOIN split s ON s.doc_id = b.doc_id WHERE NOT s.is_new),
cand AS (
  SELECT DISTINCT n.doc_id AS doc_id, e.doc_id AS e_id
  FROM nb n JOIN eb e ON n.b = e.b AND n.band_key = e.band_key
),
m AS (
  SELECT c.doc_id, c.e_id, count(*) AS sig_matches
  FROM cand c
  JOIN minh ma ON ma.doc_id = c.doc_id
  JOIN minh mb ON mb.doc_id = c.e_id AND mb.seed = ma.seed AND mb.mh = ma.mh
  GROUP BY 1, 2
),
near AS (
  SELECT doc_id, max(sig_matches)::INT AS near_matches, min(e_id) AS near_of
  FROM m WHERE sig_matches >= {_INCR_MM} GROUP BY doc_id
),
fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
ef AS (
  SELECT f.fp, min(f.doc_id) AS exact_of
  FROM fp f JOIN split s ON s.doc_id = f.doc_id
  WHERE NOT s.is_new GROUP BY f.fp
),
newdocs AS (SELECT doc_id FROM split WHERE is_new),
ex AS (
  SELECT f.doc_id, e.exact_of
  FROM fp f JOIN newdocs n ON n.doc_id = f.doc_id
  LEFT JOIN ef e ON e.fp = f.fp
)
SELECT nd.doc_id, (x.exact_of IS NOT NULL) AS exact_dup, x.exact_of,
       coalesce(nr.near_matches, 0)::INT AS near_matches, nr.near_of
FROM newdocs nd
LEFT JOIN ex x ON x.doc_id = nd.doc_id
LEFT JOIN near nr ON nr.doc_id = nd.doc_id
"""


def q_dedup_incremental(spark, sf_dir):
    """New-batch-vs-existing-corpus dedup (md5 split: ~20% 'new') —
    the per-ingest shape that never re-pairs existing×existing."""
    from beats_spark.corpus.hashing import h32

    docs = _docs(spark, sf_dir)
    is_new = (
        F.pmod(
            h32(F.concat(F.lit("incr:"), F.col("doc_id").cast("string"))),
            F.lit(5),
        )
        == 0
    )
    return dedup.incremental_neardup(
        docs.filter(is_new), docs.filter(~is_new), min_matches=_INCR_MM
    )


# -- per-source quality datacard ----------------------------------------------

_QUALITY_BY_SOURCE_SQL = f"""
WITH qf AS ({_quality_filters_sql()}),
{_qc_score_sql("score")},
per AS (
  SELECT d.source,
         (CASE WHEN q.passes_quality THEN 1 ELSE 0 END)::BIGINT AS p,
         s.score
  FROM documents d
  JOIN qf q ON q.doc_id = d.doc_id
  JOIN sc s ON s.doc_id = d.doc_id
)
SELECT source, count(*)::BIGINT AS n_docs, sum(p)::BIGINT AS n_quality_pass,
       CAST(round(sum(p)::DOUBLE * 1000000.0 / count(*)::DOUBLE) AS BIGINT)
         AS pass_ppm,
       sum(score)::BIGINT AS sum_score_ppm,
       CAST(round(sum(score)::DOUBLE / count(*)::DOUBLE) AS BIGINT)
         AS mean_score_ppm
FROM per GROUP BY source
"""


def q_quality_by_source(spark, sf_dir):
    """Fused per-source rule-pass + classifier-score datacard (one
    narrow pass + one tiny agg; the oracle composes per-doc CTEs)."""
    return textstats.quality_by_source(_docs(spark, sf_dir),
                                       n_buckets=_QC_BUCKETS)


# -- BM25 lexical retrieval ---------------------------------------------------

_BM25_K, _BM25_QMOD = 10, 50

_BM25_TOPK_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
dtf AS (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, count(*)::BIGINT AS tf FROM dtf GROUP BY 1, 2, 3
),
st AS (SELECT count(*)::BIGINT AS n, sum(len(t))::BIGINT AS tot FROM d),
dfq AS (SELECT term, count(*)::BIGINT AS dft FROM tf GROUP BY 1),
q AS (
  SELECT doc_id AS query_id,
         array_to_string(list_slice(string_split(text, ' '), 1, 5), ' ') AS qtext
  FROM documents
  WHERE (({H32_SQL.format(expr="'bm25q:' || doc_id::VARCHAR")}) % {_BM25_QMOD}) = 0
),
qt AS (
  SELECT query_id, unnest(list_distinct(string_split(qtext, ' '))) AS term
  FROM q
),
qidf AS (
  SELECT qt.query_id, qt.term,
         CAST(round(log2((st.n::DOUBLE - dft::DOUBLE + 0.5)
                         / (dft::DOUBLE + 0.5) + 1.0) * 1000000.0) AS BIGINT)
           AS idf
  FROM qt JOIN dfq USING (term) CROSS JOIN st
),
sc AS (
  SELECT qi.query_id, tf.doc_id,
         sum(CAST(round(qi.idf::DOUBLE *
             ((tf.tf::DOUBLE * (1.2 + 1.0))
              / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75
                 * (tf.dl::DOUBLE / (st.tot::DOUBLE / st.n::DOUBLE))))))
             AS BIGINT))::BIGINT AS score_mu
  FROM tf JOIN qidf qi USING (term) CROSS JOIN st
  GROUP BY 1, 2
)
SELECT query_id, doc_id, score_mu,
       (row_number() OVER (PARTITION BY query_id
                           ORDER BY score_mu DESC, doc_id ASC))::INT AS rank
FROM sc
QUALIFY rank <= {_BM25_K}
"""


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 for ~2% of docs' first-5-word prefixes as queries."""
    from beats_spark.corpus.hashing import h32

    docs = _docs(spark, sf_dir)
    is_q = (
        F.pmod(
            h32(F.concat(F.lit("bm25q:"), F.col("doc_id").cast("string"))),
            F.lit(_BM25_QMOD),
        )
        == 0
    )
    queries = docs.filter(is_q).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 5), " "
        ).alias("query"),
    )
    return textstats.bm25_topk(docs, queries, k=_BM25_K)


# -- packing efficiency datacard + score-proportional sampling ----------------

_PACKING_EFFICIENCY_SQL = _PACK_BINS_SQL.rsplit("SELECT doc_id", 1)[0] + """,
bins AS (
  SELECT bucket, bin_no, sum(n)::BIGINT AS fill, count(*)::BIGINT AS nd
  FROM rec GROUP BY bucket, bin_no
)
SELECT 128::BIGINT AS max_len,
       count(*)::BIGINT AS n_bins,
       sum(nd)::BIGINT AS n_docs,
       sum(fill)::BIGINT AS tokens_total,
       (count(*) * 128)::BIGINT AS slots_total,
       sum(greatest(128 - fill, 0))::BIGINT AS padding_tokens,
       sum(CASE WHEN fill > 128 THEN 1 ELSE 0 END)::BIGINT AS overfull_bins,
       CAST(round(sum(fill)::DOUBLE * 1000000.0
            / (count(*) * 128)::DOUBLE) AS BIGINT) AS fill_ppm
FROM bins
"""


def q_packing_efficiency(spark, sf_dir):
    """Fill/padding/overfull datacard over the FFD no-split packing."""
    t = toks.tokenize_ids(_docs(spark, sf_dir))
    packed = toks.pack_bins(t, max_len=128, n_buckets=16)
    return toks.packing_efficiency(packed, max_len=128)


_QUALITY_SAMPLE_SQL = f"""
WITH {_qc_score_sql("score")}
SELECT doc_id, score AS score_ppm,
       greatest(least(500000 + score, 1000000), 0)::BIGINT AS p_ppm,
       (({H32_SQL.format(expr="'qsample:' || doc_id::VARCHAR")} % 1000000)
        < greatest(least(500000 + score, 1000000), 0)) AS selected
FROM sc
"""


def q_quality_sample(spark, sf_dir):
    """Score-proportional deterministic sampling (DCLM-style)."""
    return textstats.quality_sample(_docs(spark, sf_dir),
                                    n_buckets=_QC_BUCKETS)


# -- leakage-safe split: cluster-grouped assignment ----------------------------

_SPLIT_LEAKAGE_SAFE_SQL = f"""
WITH RECURSIVE {_SHINGLE_SQL}, {_MINH_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labs AS (SELECT id, min(lab) AS lab FROM reach GROUP BY id),
cl AS (
  SELECT d.doc_id, coalesce(l.lab, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN labs l ON l.id = d.doc_id
)
SELECT doc_id, canonical_id,
       CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, canonical_id,
             ({H32_SQL.format(expr="'split:' || canonical_id::VARCHAR")} % 100)
               AS b
      FROM cl)
"""


def q_split_leakage_safe(spark, sf_dir):
    """Near-dup-cluster-grouped train/val/test split: every member of
    a cluster hashes on its canonical id, so a test doc's near-copy
    can never land in train (the leak plain per-id splits have)."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_neardup_pairs(docs).select("doc_a", "doc_b")
    cl = dedup.neardup_resolve(pairs, docs)
    out = toks.split_assign(cl, by_col="canonical_id")
    return out.select("doc_id", "canonical_id", "split")


def q_token_shard_export(spark, sf_dir):
    """Binary token-shard export (the trainer-facing ``.bin``/``.idx``
    sink, corpus/shard_export.py): tokenize → deterministic shard
    shuffle → one uint16 blob + index per shard, verified here through
    the per-shard stats the write itself emits. Reference analogue:
    the file output, libbeat/outputs/fileout/file.go."""
    import tempfile

    from beats_spark.corpus import shard_export as se

    sh = toks.shuffle_shards(toks.tokenize_ids(_docs(spark, sf_dir)),
                             n_shards=8)
    out = tempfile.mkdtemp(prefix="qshardexp_")
    return se.export_token_shards(
        sh, out, shard_col="shard", order_cols=("sort_key", "doc_id"),
        dtype="uint16",
    )


_TOKEN_SHARD_EXPORT_SQL = f"""
WITH {_TOKENIZE_SQL},
sh AS (
  SELECT doc_id, toks,
         ({H32_SQL.format(expr="'shuffle:' || doc_id")} % 8) AS shard
  FROM tk
)
SELECT shard::INT AS shard,
       count(*)::BIGINT AS n_seqs,
       coalesce(sum(len(toks)), 0)::BIGINT AS n_tokens,
       (coalesce(sum(len(toks)), 0) * 2)::BIGINT AS n_bytes,
       coalesce(sum(list_aggregate(toks, 'sum')), 0)::BIGINT AS token_sum,
       min(list_aggregate(toks, 'min'))::BIGINT AS token_min,
       max(list_aggregate(toks, 'max'))::BIGINT AS token_max
FROM sh
GROUP BY shard
"""


def q_batch_schedule(spark, sf_dir):
    """Data-parallel batch schedule over the documents table: global
    shard-major order → (step, dp_rank, slot) per doc, trailing
    partial global batch dropped (tokens.batch_schedule)."""
    out = toks.batch_schedule(_docs(spark, sf_dir), global_batch=256,
                              n_ranks=8, n_shards=64)
    return out.select("doc_id", "shard", "global_pos", "step",
                      "dp_rank", "slot")


_BATCH_SCHEDULE_SQL = f"""
WITH sh AS (
  SELECT doc_id,
         {H32_SQL.format(expr="'shuffle:' || doc_id")} AS sort_key
  FROM documents
),
p AS (
  SELECT doc_id, (sort_key % 64) AS shard, sort_key,
         row_number() OVER (ORDER BY (sort_key % 64), sort_key, doc_id)
           - 1 AS pos
  FROM sh
),
t AS (SELECT count(*) AS n FROM sh)
SELECT doc_id, shard::INT AS shard, pos::BIGINT AS global_pos,
       (pos // 256)::BIGINT AS step,
       ((pos % 256) // 32)::INT AS dp_rank,
       (pos % 32)::INT AS slot
FROM p, t
WHERE pos < (n // 256) * 256
"""


def q_step_token_balance(spark, sf_dir):
    """Per-step DP-rank token-load imbalance over the batch schedule
    (tokens.step_token_balance): one row per optimizer step with
    min/max/total rank token loads and integer-ppm imbalance."""
    d = _docs(spark, sf_dir)
    from beats_spark.corpus.hashing import word_tokens

    pool = d.select(
        "doc_id", F.size(word_tokens(F.col("text"))).alias("n_tok")
    )
    out = toks.step_token_balance(pool, global_batch=256, n_ranks=8,
                                  n_shards=64)
    return out.select("step", "ranks", "step_tokens", "min_rank_tokens",
                      "max_rank_tokens", "imbalance_ppm")


_STEP_TOKEN_BALANCE_SQL = f"""
WITH sh AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
         {H32_SQL.format(expr="'shuffle:' || doc_id")} AS sort_key
  FROM documents
),
p AS (
  SELECT doc_id, n_tok, (sort_key % 64) AS shard, sort_key,
         row_number() OVER (ORDER BY (sort_key % 64), sort_key, doc_id)
           - 1 AS pos
  FROM sh
),
t AS (SELECT count(*) AS n FROM sh),
kept AS (
  SELECT doc_id, n_tok, (pos // 256) AS step, ((pos % 256) // 32) AS dp_rank
  FROM p, t WHERE pos < (n // 256) * 256
),
pr AS (
  SELECT step, dp_rank, sum(n_tok)::BIGINT AS rank_tokens
  FROM kept GROUP BY 1, 2
)
SELECT step::BIGINT AS step,
       count(*)::INT AS ranks,
       sum(rank_tokens)::BIGINT AS step_tokens,
       min(rank_tokens) AS min_rank_tokens,
       max(rank_tokens) AS max_rank_tokens,
       ((max(rank_tokens) * 1000000 * 8) // sum(rank_tokens))::BIGINT
         AS imbalance_ppm
FROM pr GROUP BY step
"""
