"""Text analysis operators: token counting, quality scoring, language
ID, document fingerprinting, simhash.

All pure JVM column expressions (split / regexp / aggregate /
zip_with) — no Python in the hot path, so the whole stage stays inside
WholeStageCodegen and scales linearly with input splits (narrow, no
shuffle)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beats_spark.corpus.hashing import h32, shingles, word_tokens
from beats_spark.session import local_frame

#: BPE-ish token regex: letter runs, digit runs, single other non-space.
BPE_TOKEN_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]

#: Disjoint per-language marker words for the n-gram-free heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "is", "that"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "et", "est", "dans", "avec"],
    "es": ["el", "los", "una", "por", "para"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2"],
}


def token_count(col: Column | str, pattern: str = BPE_TOKEN_RE) -> Column:
    """Count regex tokens (the BPE-ish tokenizer stand-in)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality statistics (all integer-valued for exact
    cross-engine comparison): word/stopword/alpha/digit counts, total
    word chars, BPE-ish token count, and a rule-based quality flag."""
    c = F.col(text_col)
    toks = word_tokens(c)
    n_words = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_alpha = F.length(F.regexp_replace(c, "[^a-z]", ""))
    n_digit = F.length(F.regexp_replace(c, "[^0-9]", ""))
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_bpe = token_count(c)
    # quality: 5..5000 words, stopwords under 40%, mostly alphabetic.
    # Ratios via cross-multiplication — integer-exact on both engines.
    is_quality = (
        (n_words >= 5)
        & (n_words <= 5000)
        & (n_stop * 10 <= n_words * 4)
        & (n_alpha * 10 >= F.length(c) * 5)
    )
    return df.withColumns(
        {
            "n_words": n_words,
            "n_stopwords": n_stop,
            "n_alpha": n_alpha,
            "n_digit": n_digit,
            "word_chars": word_chars,
            "n_bpe_tokens": n_bpe,
            "is_quality": is_quality,
        }
    )


class LangScorer:
    """Pluggable language-ID model interface: ``predict`` maps a pandas
    Series of texts to a Series of language codes. Production models
    (fastText lid.176, CLD3, …) wrap their batch predict here; the
    engine runs it Arrow-batched via a pandas UDF — never per-row. The
    default marker heuristic stays the (oracle-checkable) fallback."""

    def predict(self, texts: "pd.Series") -> "pd.Series":  # pragma: no cover
        raise NotImplementedError


def lang_id_scored(df: DataFrame, scorer: LangScorer, text_col: str = "text",
                   target: str = "predicted_lang") -> DataFrame:
    """Language ID via a pluggable :class:`LangScorer` (Arrow-batched)."""
    import pandas as pd  # noqa: F401 (signature type only)
    from pyspark.sql.functions import pandas_udf

    predict = scorer.predict

    @pandas_udf("string")
    def score(texts):
        return predict(texts)

    return df.withColumn(target, score(F.col(text_col)))


def lang_id(df: DataFrame, text_col: str = "text", target: str = "predicted_lang",
            scorer: LangScorer | None = None) -> DataFrame:
    """Marker-word language ID heuristic: score = count of tokens in the
    language's marker list; argmax with fixed tie order (en, de, fr, es,
    zh); all-zero → 'und'. Pass ``scorer`` to swap in a real model
    (see :class:`LangScorer`)."""
    if scorer is not None:
        return lang_id_scored(df, scorer, text_col, target)
    toks = word_tokens(F.col(text_col))
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    order = list(LANG_MARKERS)
    pred: Column = F.lit("und")
    # build the argmax CASE chain back-to-front so earlier languages win ties
    expr = None
    for lang in order:
        s = scores[lang]
        cond = (s > 0) & F.lit(True)
        for other in order:
            if other == lang:
                continue
            # strictly greater than languages before it would have won already;
            # >= suffices against later ones, > against earlier ones.
            op = (s > scores[other]) if order.index(other) < order.index(lang) else (
                s >= scores[other]
            )
            cond = cond & op
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise(F.lit("und"))
    return df.withColumn(target, pred)


def doc_fingerprint(df: DataFrame, text_col: str = "text", target: str = "fp") -> DataFrame:
    """Normalized content fingerprint: lowercase, collapse whitespace,
    trim, md5 — the exact-dedup key robust to spacing/case noise."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    return df.withColumn(target, F.md5(norm))


def winnow_fingerprints(df: DataFrame, k: int = 5, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text",
                        tokens_col: str | None = None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS rolling-hash scheme): hash every character k-gram of the
    normalized text, slide a window of ``w`` consecutive k-gram hashes,
    keep each window's minimum (rightmost on ties, per the paper) — the
    distinct selected hashes are the document's fingerprints.
    Guarantee: any shared substring of length ≥ w + k − 1 between two
    documents yields at least one shared fingerprint.

    Spark-first: k-grams come straight off the MATERIALIZED normalized
    string — ``transform(sequence(1, n), i -> substr(_norm, i, k))``:
    per-element re-evaluation of a plain string column reference is
    free (it's one row value, not a rebuilt array), so gram cost is
    O(n·k) regardless of k. Building grams by folding k shifted CHAR
    slices (the first implementation) is O(n·k²) char copies through
    k−1 intermediate arrays — 19 chained zip_withs and a 4.7 MiB task
    binary at k=20. Window minima DO use shifted-slice ``zip_with``
    folds: there the operand is an array, and a position-indexed
    ``slice(arr, i, w)`` lambda would re-evaluate the whole array per
    element (no CSE across differing positions) — an O(n²) blowup;
    identical whole-array references across slices CSE to one
    evaluation. Each k-gram is hashed exactly once. Returns (doc_id,
    fps array<bigint>) — explode + equi-join on the hash for candidate
    pairs (:func:`winnow_neardup_pairs`).

    With ``tokens_col`` set, the k-grams are TOKEN k-grams of the
    pre-tokenized id array (ids are already canonical — no text
    normalization step); the shared-substring guarantee then holds in
    token units: any shared run of ≥ w + k − 1 ids yields a shared
    fingerprint."""
    if tokens_col is not None:
        sh = shingles(F.col(tokens_col).cast("array<string>"), k)
        prepped = df.select(
            F.col(id_col).alias("doc_id"),
            F.transform(sh, lambda g: h32(g)).alias("_h"),
        )
    else:
        norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
        normed = df.select(F.col(id_col).alias("doc_id"), norm.alias("_norm"))
        ng = F.length("_norm") - (k - 1)
        grams = F.when(
            ng >= 1,
            F.transform(F.sequence(F.lit(1), F.greatest(ng, F.lit(1))),
                        lambda i: F.substr(F.col("_norm"), i, F.lit(k))),
        ).otherwise(F.array().cast("array<string>"))
        h = F.transform(grams, lambda g: h32(g))
        prepped = normed.select("doc_id", h.alias("_h"))
    harr = F.col("_h")

    def shifted_fold(arr: Column, width: int, combine) -> Column:
        n = F.greatest(F.size(arr) - (width - 1), F.lit(0))
        out = F.slice(arr, 1, n)
        for j in range(1, width):
            out = F.zip_with(out, F.slice(arr, j + 1, n), combine)
        return out
    # window minimum: the winnowing tie rule (rightmost) only affects
    # which POSITION is recorded; the selected hash VALUE is identical,
    # and fingerprints are the value set
    mins = shifted_fold(harr, w, lambda a, b: F.least(a, b))
    # 1 ≤ |h| < w → one partial window; |h| = 0 (doc shorter than k
    # chars) → no fingerprints, empty array (never null)
    fewer = F.when(F.size(harr) > 0, F.array(F.array_min(harr))).otherwise(
        F.array().cast("array<bigint>")
    )
    fps = F.when(F.size(harr) - (w - 1) >= 1, mins).otherwise(fewer)
    return prepped.select(
        "doc_id", F.array_sort(F.array_distinct(fps)).alias("fps")
    )


def winnow_fingerprints_exploded(df: DataFrame, k: int = 5, w: int = 4,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 tokens_col: str | None = None) -> DataFrame:
    """Exploded (doc_id, fp) winnowing rows — the candidate-join shape.

    The ``localCheckpoint(eager=False)`` between fingerprinting and the
    explode is load-bearing: Catalyst's CollapseProject folds the fps
    projection INTO the Generate operator (it also collapses through
    repartition nodes, so an exchange is no barrier), and a Generate
    whose generator child is this ~50 KB nested array expression falls
    out of whole-stage codegen entirely — measured 27 s vs 0.8 s at a
    mere 500 docs. The checkpoint materializes the small (doc_id, fps)
    frame once (~1 KB/doc) and the explode reads plain stored arrays;
    on a production cluster with lossy executors set a durable
    ``spark.sparkContext.setCheckpointDir`` and swap to checkpoint —
    same plan shape."""
    fps = winnow_fingerprints(df, k, w, id_col, text_col, tokens_col)
    return fps.localCheckpoint(eager=False).select(
        "doc_id", F.explode("fps").alias("fp")
    )


def winnow_neardup_pairs(df: DataFrame, k: int = 5, w: int = 4,
                         min_shared: int = 2, id_col: str = "doc_id",
                         text_col: str = "text",
                         tokens_col: str | None = None) -> DataFrame:
    """Candidate near-dup pairs by shared winnowing fingerprints:
    explode → equi-join on the fingerprint hash (never all-pairs) →
    count shared fingerprints per pair. ``min_shared`` filters
    incidental single-hash collisions."""
    ex = winnow_fingerprints_exploded(df, k, w, id_col, text_col, tokens_col)
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def simhash(df: DataFrame, text_col: str = "text", target: str = "simhash",
            bits: int = 32, tokens_col: str | None = None) -> DataFrame:
    """SimHash over word tokens: per-token 32-bit hash votes ±1 on each
    bit position; the sign vector is packed into a bigint.

    One pass over the token array: hashes precomputed with transform
    (md5 once per token), votes folded with a single aggregate over a
    bits-wide accumulator array — entirely JVM-side. With ``tokens_col``
    set, votes come from the PRE-TOKENIZED id array (decimal
    renderings hashed) instead of splitting ``text_col``.
    """
    toks = (
        F.col(tokens_col).cast("array<string>")
        if tokens_col is not None
        else word_tokens(F.col(text_col))
    )
    hashes = F.transform(toks, lambda t: h32(t))
    zero = F.array_repeat(F.lit(0).cast("long"), bits)

    def tok_votes(h: Column) -> Column:
        return F.array(
            *[
                (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for b in range(bits)
            ]
        )

    votes = F.aggregate(
        hashes, zero, lambda acc, h: F.zip_with(acc, tok_votes(h), lambda a, b: a + b)
    )
    # pack sign bits in ONE pass over the votes array (zip against a
    # literal powers-of-two array) — referencing `votes` per bit would
    # re-run the whole aggregate 32 times.
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    packed = F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.withColumn(target, packed)


#: Gopher-rule defaults (Rae et al. 2021 §A1.1, "quality filtering"),
#: expressed so every ratio check cross-multiplies to integers — exact
#: on any engine, no float thresholds to drift.
QUALITY_RULES = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3,   # word_chars >= 3 * n_words
    "max_mean_word_len": 10,  # word_chars <= 10 * n_words
    "max_symbol_word_pct": 10,     # (n_hash + n_ellipsis) * 100 <= 10 * n_words
    "max_bullet_line_pct": 90,     # bullet-start lines <= 90% of lines
    "max_ellipsis_line_pct": 30,   # ellipsis-end lines <= 30% of lines
    "min_alpha_word_pct": 80,      # words containing a letter >= 80%
    "min_distinct_stopwords": 2,
    "max_dup_2gram_pct": 20,       # duplicate word-2grams <= 20% of 2grams
    # Gopher repetition set (Rae et al. 2021 table A1): duplicate
    # line/paragraph occurrence and character fractions
    "max_dup_line_pct": 30,
    "max_dup_para_pct": 30,
    "max_dup_line_char_pct": 20,
    "max_dup_para_char_pct": 20,
}


def quality_filters(df: DataFrame, text_col: str = "text",
                    **overrides) -> DataFrame:
    """C4/Gopher-style training-data quality rules — ALL pure column
    expressions (split / filter / aggregate lambdas stay inside
    WholeStageCodegen; narrow, no shuffle, linear at 100 TB).

    Emits the integer metrics, one boolean flag per rule, and the
    conjunction ``passes_quality``. Thresholds come from
    :data:`QUALITY_RULES`, overridable by keyword.

    Rules (the Gopher repetition/format set, C4 line heuristics):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    (``#`` and ``...``), bullet-start / ellipsis-end line ratios,
    alphabetic-word fraction, distinct-stopword presence, duplicate
    word-2gram fraction."""
    from beats_spark.corpus.hashing import shingles

    r = {**QUALITY_RULES, **overrides}
    c = F.col(text_col)
    toks = word_tokens(c)
    lines = F.split(c, "\n")
    n_words = F.size(toks)
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_ellipsis = n_ellipsis.cast("long")
    n_lines = F.size(lines)
    n_bullet_lines = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[-*•]"))
    )
    n_ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    )
    n_alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    n_stop_distinct = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS]))
    )
    g2 = shingles(toks, 2)
    n_2grams = F.size(g2)
    n_dup_2grams = n_2grams - F.size(F.array_distinct(g2))

    def chars_in(arr: Column) -> Column:
        return F.aggregate(arr, F.lit(0).cast("long"),
                           lambda acc, x: acc + F.length(x))

    # Gopher repetition metrics: an occurrence beyond a line/paragraph's
    # first is a duplicate; char fractions weight by the text they cover.
    # "\n\n" is a fixed literal, so regex split == literal split.
    paras = F.split(c, "\n\n")
    n_dup_lines = n_lines - F.size(F.array_distinct(lines))
    line_chars = chars_in(lines)
    dup_line_chars = line_chars - chars_in(F.array_distinct(lines))
    n_paras = F.size(paras)
    n_dup_paras = n_paras - F.size(F.array_distinct(paras))
    para_chars = chars_in(paras)
    dup_para_chars = para_chars - chars_in(F.array_distinct(paras))

    flags = {
        "f_word_count": (n_words >= r["min_words"]) & (n_words <= r["max_words"]),
        "f_mean_word_len": (word_chars >= r["min_mean_word_len"] * n_words)
        & (word_chars <= r["max_mean_word_len"] * n_words),
        "f_symbol_ratio": (n_hash + n_ellipsis) * 100
        <= F.lit(r["max_symbol_word_pct"]) * n_words,
        "f_bullet_lines": n_bullet_lines * 100
        <= F.lit(r["max_bullet_line_pct"]) * n_lines,
        "f_ellipsis_lines": n_ellipsis_lines * 100
        <= F.lit(r["max_ellipsis_line_pct"]) * n_lines,
        "f_alpha_words": n_alpha_words * 100
        >= F.lit(r["min_alpha_word_pct"]) * n_words,
        "f_stopwords": n_stop_distinct >= r["min_distinct_stopwords"],
        "f_dup_2grams": n_dup_2grams * 100
        <= F.lit(r["max_dup_2gram_pct"]) * F.greatest(n_2grams, F.lit(1)),
        "f_dup_lines": n_dup_lines * 100
        <= F.lit(r["max_dup_line_pct"]) * F.greatest(n_lines, F.lit(1)),
        "f_dup_paras": n_dup_paras * 100
        <= F.lit(r["max_dup_para_pct"]) * F.greatest(n_paras, F.lit(1)),
        "f_dup_line_chars": dup_line_chars * 100
        <= F.lit(r["max_dup_line_char_pct"]) * F.greatest(line_chars, F.lit(1)),
        "f_dup_para_chars": dup_para_chars * 100
        <= F.lit(r["max_dup_para_char_pct"]) * F.greatest(para_chars, F.lit(1)),
    }
    out = {
        "n_words": n_words,
        "word_chars": word_chars,
        "n_symbol_marks": (n_hash + n_ellipsis).cast("long"),
        "n_lines": n_lines,
        "n_bullet_lines": n_bullet_lines,
        "n_ellipsis_lines": n_ellipsis_lines,
        "n_alpha_words": n_alpha_words,
        "n_stop_distinct": n_stop_distinct,
        "n_2grams": n_2grams,
        "n_dup_2grams": n_dup_2grams,
        "n_dup_lines": n_dup_lines,
        "line_chars": line_chars,
        "dup_line_chars": dup_line_chars,
        "n_paras": n_paras,
        "n_dup_paras": n_dup_paras,
        "para_chars": para_chars,
        "dup_para_chars": dup_para_chars,
        **flags,
    }
    passes = None
    for f in flags.values():
        passes = f if passes is None else (passes & f)
    out["passes_quality"] = passes
    return df.withColumns(out)


def corpus_report(df: DataFrame, text_col: str = "text",
                  source_col: str = "source",
                  chars_col: str = "n_chars") -> DataFrame:
    """One-row corpus datacard — the numbers every dataset release
    documents up front: doc and source counts, character volume, exact
    duplicate load (distinct md5 texts), and the quality-filter pass
    count. ONE aggregate over the narrow :func:`quality_filters`
    projection (partial+final hash agg; countDistinct adds one
    dedup-shaped expand — both map-side combined), so the report costs
    a single pass at any corpus size. Fractions are left to the reader
    (exact integers cross engines; float ratios don't need to)."""
    q = quality_filters(df, text_col=text_col)
    return q.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.col(source_col)).alias("n_sources"),
        F.sum(F.col(chars_col)).cast("long").alias("total_chars"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_unique_texts"),
        F.sum(F.col("passes_quality").cast("long")).alias("n_quality_pass"),
    )


def top_ngram_stats(df: DataFrame, n: int = 2, text_col: str = "text",
                    id_col: str = "doc_id",
                    max_top_ngram_char_pct: int = 20) -> DataFrame:
    """The remaining Gopher repetition rule (Rae et al. 2021 table A1):
    the fraction of characters covered by the single most frequent word
    n-gram. Unlike :func:`quality_filters`' narrow per-row rules this
    needs a per-(doc, gram) count — explode → one partial+final hash
    aggregate on (doc, gram) → per-doc argmax window. Keys are
    (doc, gram): uniform, no skew; at 10^12 rows it is one shuffle of
    gram-count rows, not text.

    Ties break deterministically to the lexicographically LAST gram at
    the max coverage (both engines order by (covered, gram)).

    Returns one row per input document: top gram, its count, covered
    chars (count × gram length), total text chars, and the pass flag
    ``covered * 100 <= pct * total``."""
    from beats_spark.corpus.hashing import shingles, word_tokens

    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("total_chars"),
        F.explode_outer(shingles(word_tokens(F.col(text_col)), n)).alias("gram"),
    )
    counts = grams.groupBy("doc_id", "total_chars", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    covered = F.when(
        F.col("gram").isNull(), F.lit(0).cast("long")
    ).otherwise(F.col("cnt") * F.length("gram"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("covered_chars"), F.desc("gram")
    )
    ranked = counts.withColumn("covered_chars", covered).withColumn(
        "_rn", F.row_number().over(w)
    )
    out = ranked.filter(F.col("_rn") == 1).select(
        "doc_id",
        F.col("gram").alias("top_gram"),
        F.when(F.col("gram").isNull(), F.lit(0).cast("long"))
        .otherwise(F.col("cnt")).alias("top_gram_count"),
        "covered_chars",
        "total_chars",
        (
            F.col("covered_chars") * 100
            <= F.lit(max_top_ngram_char_pct) * F.greatest("total_chars", F.lit(1))
        ).alias("f_top_ngram"),
    )
    return out


# ---------------------------------------------------------------------------
# CCNet-style unigram LM scoring (perplexity quality filter)
# ---------------------------------------------------------------------------


def unigram_lm(df: DataFrame, text_col: str = "text") -> tuple[DataFrame, int]:
    """Unigram language model from a corpus: ``(vocab, total_tokens)``
    where ``vocab`` is ``(tok, c)`` token counts (one hash agg — the
    same shuffle shape as a word count) and ``total_tokens`` is an
    EAGER driver-side scalar (one narrow scan + sum; same eager-config
    discipline as ``pack_sequences``' per-range offsets).

    CCNet (Wenzek et al. 2020, arXiv:1911.00359) scores web text with
    a KenLM model trained on clean target-domain text and keeps the
    low-perplexity "head"; the unigram model here is the same scoring
    plan with the n-gram order dropped to 1 — swap ``vocab`` for a
    higher-order table (tok = n-gram) and nothing downstream changes."""
    return ngram_lm(df, text_col, 1)


def _lm_features(text_col: str, ngram: int) -> Column:
    """The LM feature array for one document: tokens (``ngram=1``) or
    word n-gram shingles (``ngram>1`` — the CCNet direction; their
    KenLM is a 5-gram model)."""
    toks = word_tokens(F.col(text_col))
    return toks if ngram == 1 else shingles(toks, ngram)


def ngram_lm(df: DataFrame, text_col: str = "text",
             ngram: int = 1) -> tuple[DataFrame, int]:
    """N-gram generalization of :func:`unigram_lm`: ``(vocab, total)``
    where vocab rows are ``(tok, c)`` with ``tok`` an n-gram string
    (space-joined) and ``total`` counts n-gram occurrences."""
    feats = _lm_features(text_col, ngram)
    toks = df.select(F.explode(feats).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = df.select(F.sum(F.size(feats)).alias("t")).first()["t"]
    return vocab, int(total or 0)


def lm_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             lm: DataFrame | None = None, broadcast_lm: bool = True,
             thresholds: tuple[float, float] | None = None,
             ngram: int = 1) -> DataFrame:
    """Per-document unigram cross-entropy (bits/token) under a model
    trained on ``lm`` (default: the corpus itself — self-scoring flags
    statistical outliers; CCNet trains on clean text and buckets web
    docs by the score).

    Token log-probs are quantized to integer MICRO-BITS
    (``round(log2(c/total) * 1e6)`` → bigint) before aggregation: the
    per-doc sum is then integer-exact and ORDER-INDEPENDENT — a raw
    double sum would vary with partition merge order (and with the
    oracle engine's fold order), making results nondeterministic at
    the ulp level. The one float op (log2) happens per VOCAB ENTRY,
    not per token, and the quantization kills cross-engine ulp noise.
    Out-of-vocabulary tokens (scoring under a foreign ``lm``) score
    ``log2(1/total)`` — the add-nothing floor, documented CCNet-ish
    smoothing, not a claim of probabilistic rigor.

    Scale: vocab is Zipf-bounded (≪ corpus); ``broadcast_lm=True``
    (default) broadcasts it so the token⋈vocab lookup is shuffle-free
    on the corpus side; set False for n-gram LMs too big to broadcast
    (plain equi-join on tok, uniform by Zipf hashing). ``thresholds``
    (lo, hi) adds the CCNet head/middle/tail bucket as a fixed-config
    label — a global-quantile bucketing would be a global sort; CCNet
    itself uses precomputed per-language cutoffs, which is config too.

    ``ngram > 1`` scores word n-gram features instead of tokens (the
    CCNet direction — higher-order context; the OOV floor substitutes
    for backoff, documented approximation). Documents with fewer than
    ``ngram`` tokens have NO features: they surface with NULL
    bits_per_token and NULL bucket, never silently dropped.

    Returns ``(doc_id, n_tokens, bits_per_token, [ppl_bucket])``;
    ``n_tokens`` counts scored FEATURES (== tokens at ngram=1)."""
    from pyspark.sql.functions import broadcast as _bc

    vocab, total = ngram_lm(lm if lm is not None else df, text_col, ngram)
    if total <= 0:
        raise ValueError("lm_score: LM corpus has no tokens")
    ubits = F.round(
        F.log2(F.col("c").cast("double") / F.lit(float(total))) * 1e6
    ).cast("long")
    v = vocab.select("tok", ubits.alias("ubits"))
    # half-away-from-zero, matching Spark/DuckDB round() (python round
    # is banker's — would disagree on exact .5 micro-bit boundaries)
    x = math.log2(1.0 / float(total)) * 1e6
    oov = int(math.copysign(math.floor(abs(x) + 0.5), x))
    toks = df.select(
        F.col(id_col), F.explode(_lm_features(text_col, ngram)).alias("tok")
    )
    joined = toks.join(_bc(v) if broadcast_lm else v, "tok", "left")
    scored = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (
            -F.sum(F.coalesce(F.col("ubits"), F.lit(int(oov))))
            / (F.count(F.lit(1)) * F.lit(1e6))
        ).alias("bits_per_token"),
    )
    # featureless docs (len < ngram) re-join with NULL score
    out = df.select(F.col(id_col)).join(scored, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "bits_per_token",
    )
    if thresholds is not None:
        lo, hi = thresholds
        out = out.withColumn(
            "ppl_bucket",
            F.when(F.col("bits_per_token").isNull(), F.lit(None).cast("string"))
            .when(F.col("bits_per_token") <= lo, F.lit("head"))
            .when(F.col("bits_per_token") <= hi, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    return out


def dsir_weights(df: DataFrame, target: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", broadcast_lm: bool = True,
                 threshold: float | None = None, ngram: int = 1) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    per-document importance log-ratio ``log2 p_target(x) − log2
    p_source(x)`` under unigram bag-of-words models — positive means
    the document looks more like the target domain than like the raw
    corpus, the signal DSIR resamples by.

    Model discipline is :func:`lm_score`'s: per-token log-probs
    quantized to integer micro-bits per vocab entry, so per-doc sums
    are integer-exact and order-independent; every source token is in
    the source vocab by construction, target-side misses take the
    1/total floor. ``ngram=2`` uses word-bigram features — the
    feature class the paper actually hashes (docs with fewer than
    ``ngram`` tokens score no features and drop from the output, as
    in :func:`lm_score` pre-join). The paper resamples
    stochastically ∝ exp(weight);
    ``threshold`` instead gives the deterministic variant (select
    docs with log-ratio ≥ threshold) — reproducible across engines,
    runs, and partitionings, like every sampler in this repo
    (cf. ``hash_sample``).

    One feature table join (broadcast by default — the merged vocab is
    Zipf-bounded) + one per-doc aggregate. Returns
    ``(doc_id, n_tokens, log_ratio_bits, [selected])``."""
    from pyspark.sql.functions import broadcast as _bc

    vs, tot_s = ngram_lm(df, text_col, ngram)
    vt, tot_t = ngram_lm(target, text_col, ngram)
    if tot_s <= 0 or tot_t <= 0:
        raise ValueError("dsir_weights: source and target must be non-empty")

    def ubits(total: int) -> Column:
        return F.round(
            F.log2(F.col("c").cast("double") / F.lit(float(total))) * 1e6
        ).cast("long")

    s = vs.select("tok", ubits(tot_s).alias("us"))
    t = vt.select("tok", ubits(tot_t).alias("ut"))
    x = math.log2(1.0 / float(tot_t)) * 1e6
    oov_t = int(math.copysign(math.floor(abs(x) + 0.5), x))
    feat = s.join(t, "tok", "left").select(
        "tok", (F.coalesce("ut", F.lit(oov_t)) - F.col("us")).alias("du")
    )
    toks = df.select(
        F.col(id_col), F.explode(_lm_features(text_col, ngram)).alias("tok")
    )
    joined = toks.join(_bc(feat) if broadcast_lm else feat, "tok")
    out = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("du") / F.lit(1e6)).alias("log_ratio_bits"),
    )
    if threshold is not None:
        out = out.withColumn(
            "selected", F.col("log_ratio_bits") >= F.lit(float(threshold))
        )
    return out


def lm_score_grouped(df: DataFrame, by: str, text_col: str = "text",
                     id_col: str = "doc_id", broadcast_lm: bool = True,
                     thresholds: dict[str, tuple[float, float]] | None = None,
                     default_thresholds: tuple[float, float] | None = None,
                     ngram: int = 1) -> DataFrame:
    """Per-GROUP unigram LM scoring — CCNet's actual shape: one model
    per language (or per any partition column ``by``), each document
    scored under its own group's model with per-group head/middle/tail
    cutoffs (``thresholds`` maps group value → (lo, hi);
    ``default_thresholds`` covers unmapped groups).

    Same micro-bit discipline as :func:`lm_score`; the per-group token
    totals come from ONE eager aggregate (a #groups-row collect — the
    same eager-config class as the LM total there), shipped back into
    the plan as a literal map so the vocab quantization stays a narrow
    projection. Vocab key is (group, tok) and the feature join is
    broadcast by default (sum of per-group Zipf vocabs). Rows with a
    NULL group value have no model — they surface with NULL
    bits_per_token and NULL bucket, never silently dropped.

    Returns ``(doc_id, <by>, n_tokens, bits_per_token, [ppl_bucket])``."""
    from pyspark.sql.functions import broadcast as _bc

    toks_all = df.select(
        F.col(id_col), F.col(by).alias("_g"),
        F.explode(_lm_features(text_col, ngram)).alias("tok"),
    )
    vocab = toks_all.groupBy("_g", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = {
        r["_g"]: r["t"]
        for r in df.groupBy(F.col(by).alias("_g"))
        .agg(F.sum(F.size(_lm_features(text_col, ngram))).alias("t"))
        .collect()
    }
    if not totals:
        raise ValueError("lm_score_grouped: empty corpus")
    tmap = F.create_map(
        *[x for g, t in totals.items() if g is not None
          for x in (F.lit(g), F.lit(float(t)))]
    )
    ubits = F.round(
        F.log2(F.col("c").cast("double") / tmap[F.col("_g")]) * 1e6
    ).cast("long")
    v = vocab.select("_g", "tok", ubits.alias("ubits"))
    joined = toks_all.join(_bc(v) if broadcast_lm else v, ["_g", "tok"], "left")
    agg = joined.groupBy(id_col, "_g").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.sum("ubits") / (F.count(F.lit(1)) * F.lit(1e6))).alias(
            "bits_per_token"
        ),
    )
    # featureless docs (len < ngram) re-join with NULL score — doc_id is
    # unique, so joining on it alone recovers the group column from df
    out = (
        df.select(F.col(id_col), F.col(by).alias("_g"))
        .join(agg.select(id_col, "n_tokens", "bits_per_token"), id_col, "left")
        .select(
            id_col, "_g",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "bits_per_token",
        )
    )
    if thresholds is not None or default_thresholds is not None:
        cuts = thresholds or {}
        bucket: Column = F.lit(None).cast("string")
        expr = None

        def _case(lo: float, hi: float) -> Column:
            return (
                F.when(F.col("bits_per_token").isNull(),
                       F.lit(None).cast("string"))
                .when(F.col("bits_per_token") <= lo, F.lit("head"))
                .when(F.col("bits_per_token") <= hi, F.lit("middle"))
                .otherwise(F.lit("tail"))
            )

        for g, (lo, hi) in cuts.items():
            cond = F.col("_g") == F.lit(g)
            expr = F.when(cond, _case(lo, hi)) if expr is None else expr.when(
                cond, _case(lo, hi)
            )
        if default_thresholds is not None:
            lo, hi = default_thresholds
            bucket = _case(lo, hi) if expr is None else expr.otherwise(
                _case(lo, hi)
            )
        elif expr is not None:
            bucket = expr
        out = out.withColumn("ppl_bucket", bucket)
    return out.withColumnRenamed("_g", by)


def hashed_embedding(df: DataFrame, dim: int = 16, text_col: str = "text",
                     id_col: str = "doc_id",
                     normalize: bool = False) -> DataFrame:
    """Feature-hashing document embedding (hashing-trick bag of words
    with ±1 signs, Weinberger 2009) — the deterministic, engine-exact
    stand-in for a model embedding that bridges the TEXT tables to
    every vector operator (cosine top-k, IVF/PQ ANN, SemDeDup) without
    a precomputed embeddings table: bucket ``h32(w) mod dim``, sign
    from an independent seeded hash bit, vector = signed count per
    bucket (integer-exact on any engine).

    Plan: word explode (∝ token volume) → ONE hash aggregate per doc
    with ``dim`` conditional sums (map-side combine collapses each
    partition to one partial vector per doc) — never ``dim`` separate
    per-row folds (which would re-evaluate the md5 per dimension).
    ``normalize=True`` appends the L2-normalized double vector
    (``vec_norm``) ready for the cosine operators; all-zero vectors
    normalize to NULL rather than dividing by zero.

    Returns ``(doc_id, vec[, vec_norm])`` — one row per input doc."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_tokens(F.col(text_col))).alias("w"),
    )
    bucket = F.pmod(h32(F.col("w")), F.lit(dim))
    sign = F.when(
        F.pmod(h32(F.col("w"), seed="sign"), F.lit(2)) == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    agg = toks.groupBy("doc_id").agg(
        F.array(
            *[
                F.sum(F.when(bucket == d, sign).otherwise(0)).cast("long")
                for d in range(dim)
            ]
        ).alias("vec")
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    zero = F.array(*[F.lit(0).cast("long") for _ in range(dim)])
    out = ids.join(agg, "doc_id", "left").select(
        "doc_id", F.coalesce("vec", zero).alias("vec")
    )
    if normalize:
        nrm = F.sqrt(
            F.aggregate(
                "vec", F.lit(0.0), lambda a, x: a + (x * x).cast("double")
            )
        )
        out = out.withColumn(
            "vec_norm",
            F.when(
                nrm > 0,
                F.transform("vec", lambda x: x.cast("double") / nrm),
            ),
        )
    return out


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", level: int = 6) -> DataFrame:
    """zlib compression ratio per document — the cheap degenerate-text
    detector (RedPajama/Dolma quality heuristic): machine-generated
    loops and boilerplate compress far below natural prose, mojibake
    and random ids compress far above it. Arrow-batched
    ``mapInPandas`` (zlib is C-speed inside the batch loop; no
    JVM-side codec exists for this) — a narrow map, no shuffle at any
    scale. ``ratio_ppm`` = compressed/raw in integer ppm
    (deterministic at a pinned zlib level).

    Returns ``(doc_id, n_bytes, n_compressed, ratio_ppm)``; empty text
    rows carry ratio_ppm NULL (nothing to compress)."""
    import pandas as pd

    out_schema = (
        f"{id_col} long, n_bytes long, n_compressed long, ratio_ppm long"
    )
    sel = df.select(id_col, text_col)

    def run(batches):
        import zlib

        for pdf in batches:
            raw = pdf[text_col].fillna("").str.encode("utf-8")
            nb = raw.str.len()
            nc = raw.map(lambda b: len(zlib.compress(b, level)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": nb,
                    "n_compressed": nc,
                    "ratio_ppm": [
                        (c * 1_000_000) // b if b else None
                        for b, c in zip(nb, nc)
                    ],
                }
            )

    return sel.mapInPandas(run, out_schema)


#: Unicode script classes counted by :func:`script_stats` — (output
#: column, Java regex class, RE2/DuckDB regex class). Same Unicode
#: script property on both engines, different spelling.
SCRIPT_CLASSES = [
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
]


def script_stats(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Char-script composition + mojibake signal per document: counts
    of Latin/Cyrillic/Han/Arabic script chars, digits, and U+FFFD
    replacement chars (the fingerprint of a charset-decode error —
    docs with a nonzero count went through a wrong-encoding decode and
    are candidates for dropping or re-decoding). Complements
    :func:`lang_id`: language models confuse transliterations, script
    counts don't.

    All counts are length-deltas after ``regexp_replace`` — narrow
    column expressions fused into one codegen pass, zero shuffles at
    any corpus size. Returns ``(doc_id, n_chars, n_latin, n_cyrillic,
    n_han, n_arabic, n_digit, n_replacement)``."""
    c = F.col(text_col)
    n = F.length(c)

    def cnt(rx: str):
        return n - F.length(F.regexp_replace(c, rx, ""))

    return df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_chars"),
        *[cnt(java_rx).alias(f"n_{name}")
          for name, java_rx, _ in SCRIPT_CLASSES],
        cnt("[0-9]").alias("n_digit"),
        cnt("�").alias("n_replacement"),
    )


def ppl_tercile_buckets(df: DataFrame, by: str = "lang",
                        text_col: str = "text", id_col: str = "doc_id",
                        ngram: int = 1, broadcast_lm: bool = True,
                        n_ranges: int | None = None) -> DataFrame:
    """CCNet's cutoff-derivation half: head/middle/tail by the ACTUAL
    per-group score distribution, not pre-supplied thresholds
    (:func:`lm_score_grouped` applies config cutoffs; CCNet derives
    those cutoffs as per-language perplexity terciles first — this op
    is that derivation, fused with the assignment).

    Bucket rule is pure integer math for cross-engine exactness: rank
    each scored doc within its group by ``(bits_per_token, doc_id)``
    (deterministic tie-break); ``head`` iff ``3*rank <= n``, ``middle``
    iff ``3*rank <= 2n``, else ``tail``, where ``n`` counts the
    group's scored docs. Unscored docs (no features) keep their row
    with a NULL bucket.

    Scale: the rank is a distributed range-split, never a whole-group
    window — scores split into ranges by approx-percentile boundary
    LITERALS (pure function of the score, so re-executions agree —
    same discipline as ``tokens._global_starts``), per-(group, range)
    totals collect as a #groups×#ranges aggregate, and row_number runs
    per (group, range) partition. A 100 TB single-language corpus
    ranks in ~shuffle-partition-sized windows; nothing is
    group-sized. CCNet itself derives cutoffs from a per-language
    sample — at extreme scale compose ``hash_sample`` → this op →
    feed the cutoffs to :func:`lm_score_grouped`.

    Returns ``(doc_id, <by>, n_tokens, bits_per_token, ppl_bucket)``.
    """
    spark = df.sparkSession
    scored = lm_score_grouped(
        df, by=by, text_col=text_col, id_col=id_col,
        broadcast_lm=broadcast_lm, ngram=ngram,
    )
    s = scored.filter(F.col("bits_per_token").isNotNull())
    if n_ranges is None:
        n_ranges = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds: list = []
    if n_ranges > 1:
        qs = [i / n_ranges for i in range(1, n_ranges)]
        row = s.agg(
            F.percentile_approx("bits_per_token", qs, 10_000).alias("bs")
        ).first()
        bounds = sorted(set(row["bs"] or []))
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        rg = F.size(F.filter(barr, lambda b: F.col("bits_per_token") > b))
    else:
        rg = F.lit(0)
    ranged = s.withColumn("_rg", rg.cast("int"))
    totals = {
        (r[by], r["_rg"]): r["_n"]
        for r in ranged.groupBy(by, "_rg")
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    }
    offsets, counts = [], {}
    for g in sorted({k[0] for k in totals}, key=str):
        base = 0
        for pid in range(len(bounds) + 1):
            offsets.append((g, pid, base))
            base += int(totals.get((g, pid), 0) or 0)
        counts[g] = base
    if not offsets:  # empty/unscored corpus: all buckets NULL
        return scored.withColumn("ppl_bucket", F.lit(None).cast("string"))
    gtype = dict(scored.dtypes)[by]
    off = local_frame(
        spark, [(g, p, b, counts[g]) for g, p, b in offsets],
        f"{by} {gtype}, _rg int, _base long, _n long",
    )
    w = Window.partitionBy(by, "_rg").orderBy("bits_per_token", id_col)
    rk = F.col("_base") + F.row_number().over(w)
    bucketed = (
        ranged.join(F.broadcast(off), [by, "_rg"])
        .select(
            id_col, by, "n_tokens", "bits_per_token",
            F.when(rk * 3 <= F.col("_n"), F.lit("head"))
            .when(rk * 3 <= F.col("_n") * 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ppl_bucket"),
        )
    )
    unscored = scored.filter(F.col("bits_per_token").isNull()).withColumn(
        "ppl_bucket", F.lit(None).cast("string")
    )
    return bucketed.unionByName(unscored)


# ---------------------------------------------------------------------------
# fastText-style hashed linear quality classifier
# ---------------------------------------------------------------------------


def _hashed_score_cols(feats: Column, n_buckets: int) -> tuple[Column, Column]:
    """The hashing-trick scorer as bare (n_feat, sum_w) column
    expressions — shared by :func:`quality_classifier` and the fused
    :func:`quality_by_source` single-pass report."""

    def slot_weight(f: Column) -> Column:
        bucket = F.pmod(h32(f, seed="qc"), F.lit(n_buckets))
        return (
            F.pmod(
                h32(F.concat(F.lit("qc:w:"), bucket.cast("string"))),
                F.lit(2001),
            )
            - F.lit(1000)
        ).cast("long")

    n_feat = F.size(feats).cast("long")
    sum_w = F.aggregate(
        feats, F.lit(0).cast("long"), lambda acc, f: acc + slot_weight(f)
    )
    return n_feat, sum_w


def quality_classifier(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_buckets: int = 1 << 18,
                       threshold_ppm: int = 0,
                       weights: DataFrame | None = None) -> DataFrame:
    """Model-based quality score: a linear classifier over hashed
    bag-of-words features (word unigrams + bigrams), the fastText
    architecture (Joulin et al. 2016, arXiv:1607.01759) that real
    pipelines (CCNet, DCLM, FineWeb) use for quality/domain scoring —
    the learned complement to :func:`quality_filters`' hand rules.

    Scale path (default): the fastText **hashing trick** — every
    feature maps to one of ``n_buckets`` weight slots; the slot weight
    here is md5-derived in [-1000, 1000] (the deterministic,
    oracle-checkable stand-in for a trained table; swap in real
    weights below). The whole scorer is ONE pure-column map pass —
    ``transform`` + ``aggregate`` folds inside whole-stage codegen,
    zero joins, zero UDFs, zero shuffles — so a 10^12-doc corpus
    scores embarrassingly parallel.

    With ``weights`` (a ``(feature:string, weight:int)`` table, e.g. a
    trained fastText vocabulary, milli-units), features explode and
    broadcast-join the table instead; unknown features weigh 0. Same
    output schema either way.

    INTEGER weights keep the per-doc sum exact and order-independent
    (bit-equal across engines and re-executions); the only float op is
    the final ``round(sum_w * 1000 / n_feat)`` into ``score_ppm``
    (mean weight, parts-per-million of [-1, 1]).

    Returns one row per doc: (doc_id, n_feat, sum_w, score_ppm,
    passes_classifier). Reference parity: Beats has no learned
    scorer; this extends the corpus-quality family
    (`libbeat` has no equivalent; cf. quality_filters).
    """
    from beats_spark.corpus.hashing import h32, shingles, word_tokens

    uni = word_tokens(F.col(text_col))
    feats = F.concat(uni, shingles(uni, 2))

    if weights is not None:
        w = weights.select(
            F.col("feature"), F.col("weight").cast("long").alias("_w")
        )
        ex = df.select(F.col(id_col).alias("doc_id"),
                       F.explode(feats).alias("feature"))
        per = (
            ex.join(F.broadcast(w), "feature", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_feat"),
                F.sum(F.coalesce("_w", F.lit(0).cast("long"))).alias("sum_w"),
            )
        )
    else:
        n_feat_c, sum_w_c = _hashed_score_cols(feats, n_buckets)
        per = df.select(
            F.col(id_col).alias("doc_id"),
            n_feat_c.alias("n_feat"),
            sum_w_c.alias("sum_w"),
        )
    score = F.round(
        F.col("sum_w").cast("double") * F.lit(1000.0)
        / F.greatest("n_feat", F.lit(1)).cast("double")
    ).cast("long")
    return per.select(
        "doc_id", "n_feat", "sum_w", score.alias("score_ppm"),
        (score >= F.lit(int(threshold_ppm))).alias("passes_classifier"),
    )


def train_classifier_nb(labeled: DataFrame, text_col: str = "text",
                        label_col: str = "label") -> DataFrame:
    """Train the :func:`quality_classifier` weight table from labeled
    documents — multinomial Naive Bayes with Laplace smoothing over
    the same feature space (word unigrams + bigrams), the standard
    fast-text-classifier training recipe (NB log-count ratios; Wang &
    Manning 2012, ACL "Baselines and Bigrams"). This is the distilled
    form of the FineWeb-edu / DCLM flow: label a slice with expensive
    rules or an LLM judge, train a cheap linear scorer, score the
    whole corpus with it.

    weight(f) = qlog2((c_pos+1)/(t_pos+V)) − qlog2((c_neg+1)/(t_neg+V))
    in integer MICRO-BITS (``qlog2(x) = round(log2(x)·1e6)`` — the
    same quantization discipline as :func:`lm_score`: the one float op
    happens per VOCAB ENTRY, so downstream per-doc weight sums are
    integer-exact and order-independent across engines). The class
    prior term is deliberately omitted — it is a per-doc constant, so
    it belongs in the caller's decision threshold, not in per-feature
    weights.

    Plan: one feature explode + ONE partial+final hash aggregate on
    feature (map-side combine shrinks the shuffle to a vocab-sized
    stream), then a 1-row eager aggregate for the totals
    (plan-build-literal discipline, like lm_score's LM total — the
    denominators embed as literals). Output is vocab-sized
    ``(feature, c_pos, c_neg, weight)`` — Zipf-bounded, broadcastable
    into :func:`quality_classifier`'s ``weights=`` path. Training on a
    10^12-doc corpus is one shuffle; in practice train on a
    ``hash_sample`` slice (labels are the scarce input, not docs).

    Reference parity: Beats has no trainer; this completes the
    corpus-quality family (quality_filters → labels → trained scorer).
    """
    lab = F.col(label_col).cast("boolean")
    uni = word_tokens(F.col(text_col))
    feats = F.concat(uni, shingles(uni, 2))
    ex = labeled.select(lab.alias("_pos"), F.explode(feats).alias("feature"))
    cnt = ex.groupBy("feature").agg(
        F.sum(F.col("_pos").cast("long")).alias("c_pos"),
        F.sum((~F.col("_pos")).cast("long")).alias("c_neg"),
    )
    tot = cnt.agg(
        F.sum("c_pos").alias("tp"), F.sum("c_neg").alias("tn"),
        F.count(F.lit(1)).alias("v"),
    ).first()
    if not tot or tot["v"] is None or not tot["v"]:
        raise ValueError("train_classifier_nb: empty labeled corpus")
    denom_pos = float(int(tot["tp"] or 0) + int(tot["v"]))
    denom_neg = float(int(tot["tn"] or 0) + int(tot["v"]))

    def qlog2(num: Column, denom: float) -> Column:
        return F.round(
            F.log2(num.cast("double") / F.lit(denom)) * F.lit(1e6)
        ).cast("long")

    w = qlog2(F.col("c_pos") + F.lit(1), denom_pos) - qlog2(
        F.col("c_neg") + F.lit(1), denom_neg
    )
    return cnt.select("feature", "c_pos", "c_neg", w.alias("weight"))


def source_kl(df: DataFrame, text_col: str = "text",
              source_col: str = "source") -> DataFrame:
    """Per-source token-distribution drift: KL(P_source ‖ P_corpus)
    over word unigrams — the datacard question "which source's
    language diverges from the mix?" (domain skew, format anomalies,
    wrong-language dumps show up as high KL).

    Per-(source, token) log-probs quantize to integer micro-bits
    before the sum (same discipline as :func:`lm_score`), so the KL
    numerator ``Σ c_sf·(qlog2(c_sf/t_s) − qlog2(c_f/t))`` is
    integer-exact and order-independent; the final per-token division
    is the one float op. Support of every source is a subset of corpus
    support (c_f ≥ c_sf ≥ 1), so there is no OOV/∞ case by
    construction.

    Plan: one explode, one (source, tok) hash aggregate, a broadcast
    join of the #sources-row totals, a vocab-keyed equi-join of corpus
    counts (Zipf-hashed, uniform), one final per-source aggregate. The
    corpus total is a 1-row eager narrow aggregate (plan-build
    literal). BIGINT term sums hold to ~10^11 tokens/source at full
    micro-bit precision; beyond that, pre-scale the quantization (the
    docstring constant) or move the term to decimal.

    Returns ``(source, n_tokens, n_distinct, kl_mbits)`` — micro-bits
    of KL per token.
    """
    toks = df.select(
        F.col(source_col).alias("source"),
        F.explode(word_tokens(F.col(text_col))).alias("tok"),
    )
    csf = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    ts = csf.groupBy("source").agg(
        F.sum("c").alias("t_s"), F.count(F.lit(1)).alias("n_distinct")
    )
    cf = csf.groupBy("tok").agg(F.sum("c").alias("cf"))
    trow = df.select(
        F.sum(F.size(word_tokens(F.col(text_col)))).alias("t")
    ).first()
    total = int(trow["t"] or 0)
    if total <= 0:
        raise ValueError("source_kl: corpus has no tokens")
    q_s = F.round(
        F.log2(F.col("c").cast("double") / F.col("t_s").cast("double"))
        * F.lit(1e6)
    ).cast("long")
    q_c = F.round(
        F.log2(F.col("cf").cast("double") / F.lit(float(total))) * F.lit(1e6)
    ).cast("long")
    term = (
        csf.join(F.broadcast(ts), "source")
        .join(cf, "tok")
        .select(
            "source", "t_s", "n_distinct",
            (F.col("c") * (q_s - q_c)).alias("x"),
        )
    )
    return (
        term.groupBy("source", "t_s", "n_distinct")
        .agg(F.sum("x").alias("sx"))
        .select(
            "source",
            F.col("t_s").alias("n_tokens"),
            "n_distinct",
            F.round(
                F.col("sx").cast("double") / F.col("t_s").cast("double")
            ).cast("long").alias("kl_mbits"),
        )
    )


def quality_by_source(df: DataFrame, text_col: str = "text",
                      source_col: str = "source",
                      n_buckets: int = 1 << 18, **rule_overrides) -> DataFrame:
    """Per-source quality datacard: rule pass rate
    (:func:`quality_filters`) and hashed-classifier score
    (:func:`quality_classifier`) cross-tabbed by source — "which
    source is dragging the corpus down, by rules AND by model?".

    FUSED single pass: both the rule flags and the hashed score are
    pure column expressions, so the whole report is one narrow
    projection (zero joins, zero per-doc shuffle) + one tiny hash
    aggregate on source — the 100 TB shape. (A naive composition
    would join two corpus-sized outputs on doc_id; this is why the
    scorer exposes `_hashed_score_cols`.)

    Integer counters throughout; the two ppm columns are the only
    float ops (one round each, on aggregated BIGINTs).

    Returns ``(source, n_docs, n_quality_pass, pass_ppm,
    sum_score_ppm, mean_score_ppm)``.
    """
    qf = quality_filters(df, text_col, **rule_overrides)
    uni = word_tokens(F.col(text_col))
    feats = F.concat(uni, shingles(uni, 2))
    n_feat, sum_w = _hashed_score_cols(feats, n_buckets)
    score = F.round(
        sum_w.cast("double") * F.lit(1000.0)
        / F.greatest(n_feat, F.lit(1)).cast("double")
    ).cast("long")
    per = qf.select(
        F.col(source_col).alias("source"),
        F.col("passes_quality").cast("long").alias("_p"),
        score.alias("_s"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_p").alias("n_quality_pass"),
            F.sum("_s").alias("sum_score_ppm"),
        )
        .select(
            "source", "n_docs", "n_quality_pass",
            F.round(
                F.col("n_quality_pass").cast("double") * F.lit(1000000.0)
                / F.col("n_docs").cast("double")
            ).cast("long").alias("pass_ppm"),
            "sum_score_ppm",
            F.round(
                F.col("sum_score_ppm").cast("double")
                / F.col("n_docs").cast("double")
            ).cast("long").alias("mean_score_ppm"),
        )
    )


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75, text_col: str = "text",
              id_col: str = "doc_id", qid_col: str = "query_id",
              qtext_col: str = "query",
              max_df: int | None = None) -> DataFrame:
    """BM25 top-k retrieval (Robertson/Sparck Jones; the Okapi
    formula) of documents for a (small) query table — the lexical
    complement to the embedding/ANN family, and the standard
    retrieval baseline for RAG data layouts.

    Determinism: idf quantizes to integer micro-bits per TERM
    (``round(log2((N−df+0.5)/(df+0.5)+1)·1e6)``), and each per-term
    contribution quantizes to an integer micro-unit
    (``round(idf_mbits · tf·(k1+1)/(tf + k1·(1−b+b·(dl/avgdl))))``)
    BEFORE the per-(query, doc) sum — integer sums are
    order-independent, so scores are bit-identical across engines and
    re-executions. Both engines evaluate the same literal-for-literal
    float expression on exact integer inputs, so the pre-round doubles
    agree too. ``avgdl`` and N embed as plan-build literals (one
    eager 1-row aggregate, lm_score discipline).

    Plan: doc terms explode once into a (doc, term, tf, dl) postings
    aggregate; the exploded DISTINCT query terms BROADCAST into the
    postings (queries are small by contract) — only rows whose term
    appears in some query survive, so the scoring shuffle is
    |postings ∩ query terms|, never corpus-sized. idf joins the
    per-term doc frequencies the same way. Top-k is a per-query
    window (#queries partitions × bounded candidates). Hot terms:
    stopword-laden queries pull huge postings lists — ``max_df``
    drops terms appearing in more than that many docs (the classic
    stopword cut), trading recall on pure-stopword queries for a
    bounded join.

    Returns ``(query_id, doc_id, score_mu, rank)``, rank 1..k per
    query, ties broken by doc_id.
    """
    # tokenize each document ONCE (the Project's size() and the
    # Generate's explode() would otherwise each re-run the regex split
    # — subexpression elimination does not span the two operators)
    dtoks = docs.select(
        F.col(id_col).alias("doc_id"),
        word_tokens(F.col(text_col)).alias("_t"),
    ).select(
        "doc_id",
        F.size("_t").cast("long").alias("dl"),
        F.explode("_t").alias("term"),
    )
    tf = dtoks.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = docs.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size(word_tokens(F.col(text_col)))).alias("t"),
    ).first()
    n_docs = int(stats["n"] or 0)
    if n_docs <= 0:
        raise ValueError("bm25_topk: empty corpus")
    avgdl = int(stats["t"] or 0) / n_docs

    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dft"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("dft") <= int(max_df))
    idf = F.round(
        F.log2(
            (F.lit(float(n_docs)) - F.col("dft").cast("double") + F.lit(0.5))
            / (F.col("dft").cast("double") + F.lit(0.5))
            + F.lit(1.0)
        )
        * F.lit(1e6)
    ).cast("long")
    qterms = queries.select(
        F.col(qid_col).alias("query_id"),
        F.explode(
            F.array_distinct(word_tokens(F.col(qtext_col)))
        ).alias("term"),
    )
    qidf = qterms.join(dfreq.select("term", idf.alias("idf_mbits")), "term")

    tfnorm = (
        F.col("tf").cast("double") * (F.lit(float(k1)) + F.lit(1.0))
    ) / (
        F.col("tf").cast("double")
        + F.lit(float(k1))
        * (
            F.lit(1.0) - F.lit(float(b))
            + F.lit(float(b))
            * (F.col("dl").cast("double") / F.lit(float(avgdl)))
        )
    )
    contrib = F.round(F.col("idf_mbits").cast("double") * tfnorm).cast("long")
    scored = (
        tf.join(F.broadcast(qidf), "term")
        .select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score_mu"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_mu").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "doc_id", "score_mu", "rank")
    )


def quality_sample(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n_buckets: int = 1 << 18,
                   offset_ppm: int = 500000,
                   salt: str = "qsample") -> DataFrame:
    """Score-proportional corpus sampling (the DCLM/FineWeb move:
    don't hard-threshold the quality classifier, sample docs with
    probability rising in their score — keeps tail diversity while
    down-weighting junk).

    Deterministic, engine-exact: keep probability is
    ``p_ppm = clamp(offset_ppm + score_ppm, 0, 10^6)`` (a linear
    calibration of :func:`quality_classifier`'s hashed score) and the
    draw is the id-hash uniform ``h32(salt:doc_id) mod 10^6 < p_ppm``
    — the same never-RNG discipline as ``hash_sample``, so the sample
    is reproducible across engines, layouts, and reruns. ONE narrow
    codegen pass: the hashing-trick score needs no joins, the draw no
    shuffle.

    Returns ``(doc_id, score_ppm, p_ppm, selected)`` — one row per
    doc (filter on ``selected`` downstream; keeping the row preserves
    funnel accounting).
    """
    uni = word_tokens(F.col(text_col))
    feats = F.concat(uni, shingles(uni, 2))
    n_feat, sum_w = _hashed_score_cols(feats, n_buckets)
    score = F.round(
        sum_w.cast("double") * F.lit(1000.0)
        / F.greatest(n_feat, F.lit(1)).cast("double")
    ).cast("long")
    p = F.greatest(
        F.least(F.lit(int(offset_ppm)).cast("long") + score,
                F.lit(1000000).cast("long")),
        F.lit(0).cast("long"),
    )
    draw = F.pmod(
        h32(F.col(id_col).cast("string"), seed=salt), F.lit(1000000)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        score.alias("score_ppm"),
        p.alias("p_ppm"),
        (draw < p).alias("selected"),
    )
