"""Token-sequence operators for training-data pipelines: the ops that
run AFTER text cleaning, over ``(doc_id, tokens:array<int>, n_tok)``
tables (the north-rule input shape, ``datagen.py``) — sequence packing,
deterministic dataset splits, vocabulary statistics.

Scale design: packing is two keyed shuffles (a window cumsum over the
pack key, then the sequence regroup — both on uniform keys); splits are
a pure hash projection (narrow); vocab/bigram stats are partial+final
hash aggregates on token ids (uniform by construction). Nothing here
holds a document's neighbors in memory: the concat-then-chunk packing
works on exploded (position, token) rows, so a 10^12-token corpus
streams through."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from beats_spark.corpus.hashing import h32, shingles, word_tokens
from beats_spark.session import local_frame


def tokenize_ids(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", vocab: int = 50257) -> DataFrame:
    """Deterministic word → token-id mapping (md5-derived, portable to
    any engine): the documents-table bridge to the tokenized shape when
    a real BPE table isn't attached. Returns (doc_id, tokens, n_tok)."""
    toks = word_tokens(F.col(text_col))
    ids = F.transform(toks, lambda w: F.pmod(h32(w), F.lit(vocab)).cast("int"))
    return df.select(
        F.col(id_col).alias("doc_id"),
        ids.alias("tokens"),
        F.size(ids).alias("n_tok"),
    )


def repeat_ngram_mask(df: DataFrame, n: int = 3,
                      tokens_col: str = "tokens",
                      id_col: str = "doc_id") -> DataFrame:
    """Loss mask over WITHIN-doc repeated n-grams: every token
    position covered by an n-gram whose identical gram occurred
    earlier in the same document gets mask 0; the first occurrence
    (and everything else) keeps mask 1. The mask-don't-cut sibling of
    ``cleaning.substring_dedup``'s intra-doc case — training keeps the
    full context but stops paying loss on degenerate repetition
    (chat-template boilerplate, looped generations).

    Plan: gram occurrences explode (∝ token volume) → per-(doc, gram)
    min-start hash agg (combinable, uniform md5 keys — never a
    per-gram window) → repeat starts collect per doc (doc-bounded
    arrays) → the mask materializes as ONE array transform over the
    tokens. One row per input doc, always; ``len(toks) < n`` masks
    nothing.

    Returns ``(doc_id, tokens, loss_mask, n_masked)``."""
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("toks")
    )
    occ = base.select(
        "doc_id", F.posexplode(shingles(F.col("toks"), n)).alias("s", "gram")
    ).select("doc_id", "s", F.md5("gram").alias("gh"))
    firsts = occ.groupBy("doc_id", "gh").agg(F.min("s").alias("s0"))
    reps = (
        occ.join(firsts, ["doc_id", "gh"])
        .filter(F.col("s") > F.col("s0"))
        .select("doc_id", "s")
    )
    starts = reps.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("_starts")
    )
    sts = F.coalesce(F.col("_starts"), F.array().cast("array<int>"))
    mask = F.transform(
        F.col("toks"),
        lambda _, i: F.when(
            F.exists(sts, lambda st: (st <= i) & (i < st + F.lit(n))),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    return (
        base.join(starts, "doc_id", "left")
        .select(
            "doc_id",
            F.col("toks").alias("tokens"),
            mask.alias("loss_mask"),
        )
        .withColumn(
            "n_masked",
            F.size("tokens")
            - F.aggregate("loss_mask", F.lit(0), lambda a, x: a + x),
        )
    )


def hash_vocab(df: DataFrame, text_col: str = "text",
               vocab: int = 50257) -> DataFrame:
    """Surface-form table for :func:`tokenize_ids`' hash mapping:
    every distinct corpus word keyed by its token id, hash collisions
    resolved keep-min-word (deterministic, so the table is a FUNCTION
    id → token on any engine). Distinct-words hash agg then a
    vocab-bounded (≤ ``vocab`` rows) min agg — the output is
    model-vocabulary-sized, always broadcastable.

    Returns ``(token_id, token)``."""
    words = df.select(
        F.explode(word_tokens(F.col(text_col))).alias("token")
    ).distinct()
    return (
        words.withColumn(
            "token_id", F.pmod(h32(F.col("token")), F.lit(vocab)).cast("int")
        )
        .groupBy("token_id")
        .agg(F.min("token").alias("token"))
    )


def detokenize(df: DataFrame, vocab: DataFrame, tokens_col: str = "tokens",
               id_col: str = "doc_id", sep: str = " ",
               unk: str = "<unk>") -> DataFrame:
    """Token ids → surface text (the inverse bridge of
    :func:`tokenize_ids`, and the id→string half of any decode step):
    map each id through a broadcast vocab table ``(token_id, token)``
    and reassemble the document in position order.

    Plan: posexplode (∝ token volume, the unavoidable cost) →
    broadcast hash join on the int id (vocab is model-sized) →
    per-doc reassembly via the sort-structs-then-concat aggregate
    (combinable; document-sized groups, no window) — the same
    reassembly shape as ``cleaning.line_dedup``. Ids absent from the
    vocab render as ``unk``; a doc with an EMPTY token array keeps its
    row with ``text = ''`` (one-row-per-doc contract).

    Returns ``(doc_id, text)``."""
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.col(tokens_col)).alias("pos", "_tid"),
    )
    v = vocab.select(
        F.col("token_id").alias("_tid"), F.col("token").alias("_tok")
    )
    joined = ex.join(F.broadcast(v), "_tid", "left")
    re = joined.groupBy("doc_id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "pos", F.coalesce("_tok", F.lit(unk)).alias("tok")
                        )
                    )
                ),
                lambda s: s["tok"],
            ),
        ).alias("text")
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(re, "doc_id", "left").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )


def _global_starts(sel: DataFrame, n_parts: int | None) -> DataFrame:
    """Distributed prefix sum of ``size(_t)`` in ``_id`` order: split
    the id domain into ranges, cumsum WITHIN each range, and add
    per-range base offsets computed from the per-range totals (one
    tiny aggregate collected on the driver — #ranges rows, never
    data). No global single-partition window anywhere; each range's
    window runs where its rows shuffle to.

    The range index is a PURE FUNCTION of ``_id`` against boundary
    literals collected ONCE at plan build (approx percentiles of the
    id domain). It must NOT be ``repartitionByRange`` +
    ``spark_partition_id()``: the RangePartitioner re-SAMPLES
    boundaries on every re-execution of the plan, and this frame is
    consumed by two branches (the totals aggregate and the window) —
    with sampled boundaries the two branches disagree and the offsets
    land on the wrong ranges (observed non-deterministic output at
    sf0.1). Correctness here is boundary-invariant — any split of the
    id domain yields the same global prefix sum — so approximate,
    even lopsided, percentiles are fine; they only affect balance."""
    spark = sel.sparkSession
    if n_parts is None:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds: list = []
    if n_parts > 1:
        qs = [i / n_parts for i in range(1, n_parts)]
        row = sel.agg(
            F.percentile_approx("_id", qs, 10_000).alias("bs")
        ).first()
        bounds = sorted(set(row["bs"] or []))
    if bounds:
        barr = F.array(*[F.lit(b) for b in bounds])
        rg = F.size(F.filter(barr, lambda b: F.col("_id") > b))
    else:
        rg = F.lit(0)
    ranged = sel.withColumn("_rg", rg.cast("int"))
    totals = {
        r["_rg"]: r["_n"]
        for r in ranged.groupBy("_rg").agg(F.sum(F.size("_t")).alias("_n")).collect()
    }
    base, offsets = 0, []
    for pid in range(len(bounds) + 1):
        offsets.append((pid, base))
        base += int(totals.get(pid, 0) or 0)
    off = local_frame(spark, offsets, "_rg int, _base long")
    w = (
        Window.partitionBy("_rg").orderBy("_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum(F.size("_t")).over(w), F.lit(0).cast("long"))
    return ranged.join(F.broadcast(off), "_rg").withColumn(
        "_start", F.col("_base") + within
    )


def _exploded_positions(df: DataFrame, max_len: int, id_col: str,
                        tokens_col: str, shard_col: str | None = None,
                        distributed: bool = True,
                        n_parts: int | None = None,
                        keep_id: bool = False):
    """Shared stage of the straddle packers (:func:`pack_sequences`,
    :func:`pack_sequences_boundaries`): prefix-sum start offsets —
    per-shard window / distributed range-sum (:func:`_global_starts`)
    / naive global window — then arithmetic chunk assignment over the
    posexploded token stream. One implementation so a fix to the
    prefix-sum path (this code's RangePartitioner-resample history)
    can never diverge the packers. Returns ``(exploded, group_keys)``
    with columns ``[*group_keys][, _id], _chunk, _pis, token_id``.
    """
    sel_cols = [F.col(id_col).alias("_id"), F.col(tokens_col).alias("_t")]
    if shard_col is not None:
        sel = df.select(F.col(shard_col).alias("_sh"), *sel_cols)
        w = (
            Window.partitionBy("_sh").orderBy("_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        sel = sel.withColumn(
            "_start", F.coalesce(F.sum(F.size("_t")).over(w), F.lit(0).cast("long"))
        )
        group_keys = ["_sh"]
    elif distributed:
        sel = _global_starts(df.select(*sel_cols), n_parts)
        group_keys = []
    else:
        w = Window.orderBy("_id").rowsBetween(Window.unboundedPreceding, -1)
        sel = df.select(*sel_cols).withColumn(
            "_start", F.coalesce(F.sum(F.size("_t")).over(w), F.lit(0).cast("long"))
        )
        group_keys = []
    id_out = ["_id"] if keep_id else []
    ex = sel.select(
        *group_keys, *id_out,
        F.posexplode("_t").alias("_p", "token_id"),
        (F.col("_start") + F.col("_p")).alias("_pos"),
    ).select(
        *group_keys, *id_out,
        F.floor(F.col("_pos") / max_len).alias("_chunk"),
        F.pmod(F.col("_pos"), F.lit(max_len)).alias("_pis"),
        "token_id",
    )
    return ex, group_keys


def pack_sequences(df: DataFrame, max_len: int = 128,
                   id_col: str = "doc_id", tokens_col: str = "tokens",
                   emit: str = "arrays", shard_col: str | None = None,
                   distributed: bool = True,
                   n_parts: int | None = None) -> DataFrame:
    """Concat-then-chunk sequence packing (the GPT-style pretraining
    layout): documents ordered by ``id_col`` are logically concatenated
    into one token stream, which is cut into fixed ``max_len`` training
    sequences; documents may straddle a boundary (an attention mask /
    EOS token downstream handles that, as in standard LM pipelines).

    Deterministic and reproducible: sequence k holds exactly stream
    positions [k*max_len, (k+1)*max_len). Chunk assignment is
    arithmetic on the exploded (position, token) rows; the regroup
    keys on seq_no — uniform by construction, no skew. ``emit='arrays'``
    returns (seq_no, tokens, n_tok); ``emit='exploded'`` returns the
    flat (seq_no, pos_in_seq, token_id) rows (bit-checkable shape).

    The running offset is a prefix sum in ``id_col`` order, computed
    one of three ways:

    - ``shard_col``: one independent stream PER SHARD (e.g. per
      source) — the cumsum window partitions on the shard, sequences
      are numbered within it, and the output carries the shard column.
      The packing a sharded 10^12-token corpus actually runs.
    - ``distributed=True`` (default): a single global stream with NO
      global window — range partition on ``_id``, per-range cumsum,
      per-range base offsets from a #partitions-row driver aggregate
      (:func:`_global_starts`). Byte-identical to the naive global
      window at any parallelism. Eager (one tiny count-like job at
      plan build).
    - ``distributed=False``: the naive single-partition global window —
      kept as the semantics oracle for tests.
    """
    ex, group_keys = _exploded_positions(
        df, max_len, id_col, tokens_col, shard_col=shard_col,
        distributed=distributed, n_parts=n_parts,
    )
    ex = (ex.withColumnRenamed("_chunk", "seq_no")
            .withColumnRenamed("_pis", "pos_in_seq"))
    shard_out = [F.col("_sh").alias(shard_col)] if shard_col is not None else []
    if emit == "exploded":
        if shard_col is not None:
            return ex.select(
                F.col("_sh").alias(shard_col), "seq_no", "pos_in_seq", "token_id"
            )
        return ex
    grouped = ex.groupBy(*group_keys, "seq_no").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("pos_in_seq", "token_id"))
            ),
            lambda s: s["token_id"],
        ).alias("tokens")
    )
    return grouped.select(
        *shard_out, "seq_no", "tokens", F.size("tokens").alias("n_tok")
    )


def pack_sequences_boundaries(df: DataFrame, max_len: int = 128,
                              id_col: str = "doc_id",
                              tokens_col: str = "tokens",
                              distributed: bool = True,
                              n_parts: int | None = None) -> DataFrame:
    """Concat-then-chunk packing WITH the per-sequence document
    boundary table — the straddle-packing complement of
    :func:`pack_bins_sequences`, emitting the exact shape
    :func:`pack_training_meta` consumes (``bin_id, n_docs, n_tok,
    doc_ids, doc_starts, doc_lens, tokens``), so packing WITHOUT
    cross-document attention works on the default GPT-style layout
    too. Token content and chunking are byte-identical to
    :func:`pack_sequences`; a document straddling a chunk boundary
    appears in every sequence it touches, its continuation a fresh
    segment (the independent-sequence convention — position ids
    restart per sequence, block-diagonal masks never cross it).

    Same scale shape as pack_sequences: distributed prefix sum (no
    global window, plan-build boundary literals), arithmetic chunk
    assignment, one regroup keyed on seq_no (uniform by construction);
    the boundary table is derived from the grouped array with pure
    array expressions (per-row cost ∝ max_len)."""
    ex, _ = _exploded_positions(
        df, max_len, id_col, tokens_col,
        distributed=distributed, n_parts=n_parts, keep_id=True,
    )
    ex = (ex.withColumnRenamed("_chunk", "bin_id")
            .withColumnRenamed("_pis", "pis"))
    grouped = ex.groupBy("bin_id").agg(
        F.array_sort(
            F.collect_list(F.struct(
                F.col("pis").alias("p"), F.col("token_id").alias("tok"),
                F.col("_id").alias("d"),
            ))
        ).alias("ds")
    )
    n = F.size("ds")
    # positions where a new document begins within the sequence
    bidx = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.when(i == 0, F.lit(True)).otherwise(
            F.element_at(F.col("ds"), (i + 1).cast("int"))["d"]
            != F.element_at(F.col("ds"), i.cast("int"))["d"]
        ),
    )
    staged = grouped.select(
        "bin_id",
        F.transform("ds", lambda s: s["tok"]).alias("tokens"),
        n.cast("long").alias("n_tok"),
        bidx.alias("_b"),
        "ds",
    )
    starts = F.transform("_b", lambda i: i.cast("long"))
    nexts = F.concat(
        F.slice(starts, 2, F.size("_b") - 1),
        F.array(F.col("n_tok")),
    )
    return staged.select(
        "bin_id",
        F.size("_b").cast("long").alias("n_docs"),
        "n_tok",
        F.transform(
            "_b", lambda i: F.element_at(F.col("ds"), (i + 1).cast("int"))["d"]
        ).alias("doc_ids"),
        starts.alias("doc_starts"),
        F.zip_with(starts, nexts, lambda a, b: b - a).alias("doc_lens"),
        "tokens",
    )


def split_assign(df: DataFrame, id_col: str = "doc_id",
                 train_pct: int = 90, val_pct: int = 5,
                 salt: str = "split", by_col: str | None = None) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    id hash (md5-derived — stable across runs, engines, cluster sizes;
    never RNG). Remaining percent is 'test'.

    ``by_col`` hashes a GROUP key instead of the row id, sending every
    row of a group to the same split — the leakage-safe form: split by
    near-dup canonical id (see the ``split_leakage_safe`` driver
    query), source document, or URL domain, so a test example's
    near-copy can never sit in train. Plain per-id splits leak through
    near-duplicates no matter how good the decontamination is."""
    b = F.pmod(
        h32(F.col(by_col if by_col else id_col).cast("string"), seed=salt),
        F.lit(100),
    )
    split = (
        F.when(b < train_pct, "train")
        .when(b < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return df.withColumn("split", split)


def vocab_histogram(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Token-id frequency over the corpus: explode → ONE partial+final
    hash aggregate (map-side combine shrinks the shuffle to the vocab
    size per partition)."""
    return (
        df.select(F.explode(tokens_col).alias("token_id"))
        .groupBy("token_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def token_bigrams(df: DataFrame, tokens_col: str = "tokens",
                  min_count: int = 1) -> DataFrame:
    """Adjacent token-pair counts (tokenizer/merge analysis): shifted
    zip_with pairs each token with its successor in-array (narrow),
    then one hash aggregate."""
    t = F.col(tokens_col)
    n = F.greatest(F.size(t) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(t, 1, n), F.slice(t, 2, n),
        lambda a, b: F.struct(a.alias("t1"), b.alias("t2")),
    )
    out = (
        df.select(F.explode(pairs).alias("p"))
        .select("p.t1", "p.t2")
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        out = out.filter(F.col("n") >= min_count)
    return out


def _max_run(arr: Column) -> Column:
    """Length of the longest run of one repeated id — a single array
    fold (prev, cur, best), no explode: per-row work linear in the
    sequence, the whole column stays inside codegen."""
    init = F.struct(
        F.lit(-1).cast("long").alias("prev"),
        F.lit(0).alias("cur"),
        F.lit(0).alias("best"),
    )

    def step(acc, x):
        cur = F.when(x.cast("long") == acc["prev"], acc["cur"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.cast("long").alias("prev"),
            cur.alias("cur"),
            F.greatest(acc["best"], cur).alias("best"),
        )

    return F.aggregate(arr, init, step, lambda a: a["best"])


def token_stats(df: DataFrame, id_col: str = "doc_id",
                tokens_col: str = "tokens") -> DataFrame:
    """Degeneracy / repetition stats over PRE-TOKENIZED sequences — the
    token-level face of the Gopher repetition rules, for filtering
    collapsed or looping sequences before training:

    - ``n_distinct`` / ``distinct_ratio`` — id diversity;
    - ``top_token_n`` / ``top_token_frac`` — mode-id mass (computed as
      the longest run of ``array_sort(tokens)``, no per-token shuffle);
    - ``n_bigrams`` / ``dup_bigram_frac`` — repeated-adjacent-pair mass
      (the 2-gram repetition rule);
    - ``max_run_len`` — longest single-id run (the degenerate-loop
      signal).

    Everything is per-row array expressions (fold / zip_with /
    array_distinct): narrow plan, no explode, no shuffle — at 10^12
    sequences this is a pure scan. Ratios are NULL when undefined
    (empty sequence; single-token docs have no bigrams)."""
    t = F.col(tokens_col)
    n = F.size(t)
    m = F.greatest(n - 1, F.lit(0))
    bigr = F.zip_with(
        F.slice(t, 1, m), F.slice(t, 2, m),
        lambda a, b: F.concat(a.cast("string"), F.lit(","), b.cast("string")),
    )
    n_distinct = F.size(F.array_distinct(t))
    top_n = _max_run(F.array_sort(t))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_tok"),
        n_distinct.cast("long").alias("n_distinct"),
        F.when(n > 0, n_distinct / n).cast("double").alias("distinct_ratio"),
        top_n.cast("long").alias("top_token_n"),
        F.when(n > 0, top_n / n).cast("double").alias("top_token_frac"),
        m.cast("long").alias("n_bigrams"),
        F.when(m > 0, (m - F.size(F.array_distinct(bigr))) / m)
        .cast("double").alias("dup_bigram_frac"),
        _max_run(t).cast("long").alias("max_run_len"),
    )


def _apply_merges_udf(merges: list[tuple[int, int, int]]):
    """Arrow-batched merge rewriter: the whole batch flattens into ONE
    numpy array with ``-1`` separators between sequences (ids must be
    non-negative, so a separator never matches), then each (a, b → c)
    merge is one vectorized pass — mask the (a, b) adjacencies, write
    ``c`` at the match starts, delete the followers. a ≠ b guarantees
    matches are never adjacent, so the simultaneous rewrite is exact.

    A pandas UDF rather than nested array expressions on purpose: k
    chained zip_with/filter/transform trees multiply the Catalyst
    expression count per merge (measured: minutes of ANALYSIS time by
    k=5); one opaque Arrow node keeps the plan flat and the work in
    numpy."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    # no annotations: module-level `from __future__ import annotations`
    # turns them into strings referencing the local `pd`, which the
    # pandas_udf type-hint resolver cannot evaluate — pass returnType
    # explicitly instead
    def apply_all(series):
        if len(series) == 0:
            return series
        arrs = [np.asarray(v, dtype=np.int64) for v in series]
        flat = np.full(sum(a.size for a in arrs) + len(arrs), -1, np.int64)
        pos = 0
        for a in arrs:
            flat[pos:pos + a.size] = a
            pos += a.size + 1  # leave one -1 separator
        for a, b, c in merges:
            m = (flat[:-1] == a) & (flat[1:] == b)
            idx = np.nonzero(m)[0]
            if idx.size:
                flat[idx] = c
                flat = np.delete(flat, idx + 1)
        segs = np.split(flat, np.nonzero(flat == -1)[0])
        out = [segs[0].tolist()] + [s[1:].tolist() for s in segs[1:-1]]
        return pd.Series(out)

    return pandas_udf(apply_all, "array<long>")


def learn_bpe_merges(df: DataFrame, n_merges: int = 8,
                     tokens_col: str = "tokens",
                     new_id_start: int | None = None,
                     min_count: int = 2,
                     sample_frac: float | None = None,
                     sample_threshold: int = 1_000_000) -> DataFrame:
    """Distributed BPE-merge learning over a token corpus: per round,
    ONE pair-count aggregate (explode of shifted-slice pairs → hash
    agg, map-side combined) finds the most frequent adjacent pair
    (ties broken by (t1, t2) — deterministic on any engine), which
    becomes a new id; the corpus re-writes via the vectorized
    :func:`_apply_merge` and the next round counts again.

    Self-pairs (a == b) are excluded by design: with a ≠ b matches are
    never adjacent, so the apply step is conflict-free and purely
    array-parallel (no per-sequence greedy scan) — the standard
    simplification that keeps the trainer order-independent.

    Scale: round r is one Arrow-batched rewrite (the merges-so-far in
    one opaque UDF node — plan depth stays constant; see
    :func:`_apply_merges_udf`) + one pair-count shuffle over the
    corpus, re-built from the base scan each round (recompute beats a
    corpus-sized checkpoint at 100 TB; total rewrite work O(k²) cheap
    vectorized passes). Real trainers learn merges on a
    :func:`hash_sample` slice and apply everywhere.

    Learn-on-sample is the DEFAULT above ``sample_threshold`` rows
    (each merge round is a full pair-count shuffle over the learning
    corpus, so a naive full-corpus call at 10^12 rows would run k
    corpus-wide shuffles): pass ``sample_frac`` to pin the slice
    explicitly, ``sample_frac=1.0`` to force full-corpus learning, or
    leave both defaulted and corpora above the threshold learn on a
    deterministic ~``sample_threshold``-row :func:`hash_sample` slice
    (id-hash when ``doc_id`` exists, token-hash otherwise — same rows
    on any cluster size). Apply with :func:`apply_bpe_merges` is always
    full-corpus.

    Returns (rank, t1, t2, new_id, n_pairs) — the merge table, tiny."""
    spark = df.sparkSession
    if sample_frac is None:
        n = df.count()
        if n > sample_threshold:
            sample_frac = sample_threshold / n
    if sample_frac is not None and sample_frac < 1.0:
        if "doc_id" in df.columns:
            df = hash_sample(df, sample_frac)
        else:
            df = df.filter(
                F.pmod(F.xxhash64(F.col(tokens_col)), F.lit(1_000_000))
                < int(sample_frac * 1_000_000))
    base = df.select(F.col(tokens_col).cast("array<long>").alias("t"))
    if new_id_start is None:
        new_id_start = int(
            base.select(F.max(F.array_max("t")).alias("m")).first()["m"] or 0
        ) + 1
    rows: list[tuple[int, int, int, int, int]] = []
    learned: list[tuple[int, int, int]] = []
    for r in range(n_merges):
        cur = (
            base if not learned
            else base.select(_apply_merges_udf(learned)(F.col("t")).alias("t"))
        )
        n1 = F.greatest(F.size("t") - 1, F.lit(0))
        pr = cur.select(
            F.explode(F.zip_with(
                F.slice("t", 1, n1), F.slice("t", 2, n1),
                lambda x, y: F.struct(x.alias("t1"), y.alias("t2")),
            )).alias("p")
        ).select("p.t1", "p.t2").filter(F.col("t1") != F.col("t2"))
        best = (
            pr.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "t1", "t2").limit(1).collect()
        )
        if not best or best[0]["n"] < min_count:
            break
        a, b, nn = int(best[0]["t1"]), int(best[0]["t2"]), int(best[0]["n"])
        c = new_id_start + r
        rows.append((r, a, b, c, nn))
        learned.append((a, b, c))
    return local_frame(
        spark, rows, "rank int, t1 long, t2 long, new_id long, n_pairs long"
    )


def apply_bpe_merges(df: DataFrame, merges, tokens_col: str = "tokens",
                     target: str | None = None) -> DataFrame:
    """Re-write a token corpus with a learned merge table, in rank
    order. ``merges`` is the :func:`learn_bpe_merges` output (tiny —
    collected to drive the plan) or a pre-collected list of
    ``(t1, t2, new_id)``. ONE Arrow-batched pass over the corpus
    (:func:`_apply_merges_udf`), all merges applied per batch."""
    if isinstance(merges, DataFrame):
        merges = [
            (int(r["t1"]), int(r["t2"]), int(r["new_id"]))
            for r in merges.orderBy("rank").collect()
        ]
    out_col = target or tokens_col
    if not merges:
        return df.withColumn(out_col, F.col(tokens_col).cast("array<long>"))
    return df.withColumn(
        out_col,
        _apply_merges_udf(list(merges))(F.col(tokens_col).cast("array<long>")),
    )


def shuffle_shards(df: DataFrame, n_shards: int = 1024,
                   id_col: str = "doc_id", salt: str = "shuffle",
                   with_pos: bool = False) -> DataFrame:
    """Deterministic global shuffle into training shards — the final
    ordering step of a training-data pipeline. Every row gets a
    content-independent pseudo-random key (md5 of its id): ``shard`` =
    key mod ``n_shards``, ``sort_key`` = the key itself; reading shards
    in order and rows by (sort_key, id) within a shard is a
    REPRODUCIBLE permutation — identical on any cluster size, any
    partition layout, any rerun, unlike ``orderBy(rand())`` (whose
    output depends on both the seed plumbing and partition placement).

    Pure projection (narrow, no shuffle) unless ``with_pos``: then one
    keyed shuffle on shard assigns ``pos`` (row_number within shard) —
    each shard's window runs where its rows land, no global window."""
    k = h32(F.col(id_col).cast("string"), seed=salt)
    out = df.withColumn("sort_key", k).withColumn(
        "shard", F.pmod(F.col("sort_key"), F.lit(n_shards)).cast("int")
    )
    if with_pos:
        w = Window.partitionBy("shard").orderBy("sort_key", id_col)
        out = out.withColumn("pos", F.row_number().over(w) - 1)
    return out


def epoch_schedule(df: DataFrame, n_epochs: int = 2, n_shards: int = 1024,
                   id_col: str = "doc_id", salt: str = "epoch") -> DataFrame:
    """Multi-epoch training schedule: every row re-emitted once per
    epoch with an EPOCH-SPECIFIC shard + sort key (the hash seed folds
    in the epoch number), so each epoch is a different — but
    individually reproducible — :func:`shuffle_shards` permutation.
    Reading epochs in order, shards in order, rows by (sort_key, id)
    within a shard IS the schedule; no RNG state to carry between
    epochs, any worker can recompute any slice independently.

    Pure explode + projections — narrow, zero shuffle; output volume
    is ``n_epochs ×`` input (at 10^12 rows emit one epoch at a time by
    filtering ``epoch == e`` — Catalyst prunes the explode to a
    constant). Returns (id, epoch, shard, sort_key)."""
    if n_epochs < 1:
        raise ValueError("n_epochs must be >= 1")
    ids = F.col(id_col).cast("string")
    out = df.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(n_epochs - 1))).alias("epoch"),
    )
    k = h32(
        F.concat(F.col("epoch").cast("string"), F.lit(":"), ids), seed=salt
    )
    return out.select(
        F.col(id_col),
        "epoch",
        F.pmod(k, F.lit(n_shards)).cast("int").alias("shard"),
        k.alias("sort_key"),
    )


def hash_sample(df: DataFrame, rate: float, id_col: str = "doc_id",
                salt: str = "sample") -> DataFrame:
    """Deterministic content-independent sampling: keep a row iff its
    id hash lands under ``rate`` (md5-derived — reproducible across
    runs, engines, partitionings; never RNG, unlike ``df.sample``,
    whose output depends on partition layout). Rates are quantized to
    1/10^6 so the cut is integer-exact on any engine."""
    b = F.pmod(h32(F.col(id_col).cast("string"), seed=salt), F.lit(1_000_000))
    return df.filter(b < int(round(rate * 1_000_000)))


def mix_sources(df: DataFrame, weights: dict[str, float],
                source_col: str = "source", id_col: str = "doc_id",
                salt: str = "mix") -> DataFrame:
    """Domain mixing: downsample each source to its target weight (the
    training-mix step — e.g. web 0.5, code 0.3, books 0.2 of whatever
    volume each source has). ``weights`` maps source → keep-rate in
    [0, 1]; unlisted sources are dropped. Pure projection + filter:
    the per-source rate joins in as a literal CASE (sources are few),
    the keep decision is the same deterministic id-hash cut as
    :func:`hash_sample` — so reruns, retries, and different cluster
    sizes all keep exactly the same rows."""
    rate = None
    for src, w in weights.items():
        q = int(round(w * 1_000_000))
        rate = F.when(F.col(source_col) == src, q) if rate is None else (
            rate.when(F.col(source_col) == src, q)
        )
    rate = rate.otherwise(F.lit(-1)) if rate is not None else F.lit(-1)
    b = F.pmod(h32(F.col(id_col).cast("string"), seed=salt), F.lit(1_000_000))
    return df.filter(b < rate)


def temperature_rates(df: DataFrame, alpha: float = 0.5,
                      target_frac: float = 0.5,
                      source_col: str = "source",
                      weight_col: str = "n_chars") -> DataFrame:
    """Per-source keep rates for α-temperature mixing (the T5/XLM
    multilingual-sampling rule, arXiv:1910.10683 §3.4.3 /
    arXiv:1901.07291): the output share of source *i* is proportional
    to ``(its volume share)^alpha`` — α=1 keeps natural proportions,
    α→0 flattens toward uniform, lifting low-resource sources.

    With per-source volume ``n_i`` (sum of ``weight_col``), target
    share ``q_i = n_i^alpha / Σ n_j^alpha`` and output budget
    ``T = target_frac · Σ n_j``, the keep rate is
    ``min(1, T · q_i / n_i)``. All derived IN-PLAN: one tiny
    per-source aggregate crossed with its 1-row global sum — no
    driver collect, and the fact table is touched once.

    Cross-engine exactness: per-source weights ``n_i^alpha`` are
    quantized to INTEGER micro-units before the global sum (the
    micro-bit discipline of ``lm_score``), so ``W`` is an exact
    integer no matter the aggregation order — float sums are
    order-dependent and partition order isn't. α=0.5 uses ``sqrt``
    (correctly rounded in IEEE-754, so every engine agrees
    bit-for-bit); other α go through ``pow``, which is NOT correctly
    rounded — documented ulp risk at quantization boundaries. With
    integer ``n``, ``N``, ``w``, ``W`` (all < 2^53, exactly
    representable) and the operation order fixed
    (``((tf·N)·(w/W))/n``), every division/multiply is correctly
    rounded over identical operands → ``rate_ppm`` is reproducible on
    any engine."""
    nd = F.col("_n").cast("double")
    if alpha == 0.5:
        w = F.sqrt(nd)
    elif alpha == 1.0:
        w = nd
    else:
        w = F.pow(nd, F.lit(float(alpha)))
    per = (
        df.groupBy(source_col)
        .agg(F.sum(weight_col).cast("long").alias("_n"))
        .withColumn("_w", F.round(w * 1_000_000).cast("long"))
    )
    # g shares per's lineage (a self-join); alias-qualify both sides so
    # the analyzer can resolve `_n` unambiguously after the crossJoin
    g = per.agg(F.sum("_n").alias("_N"), F.sum("_w").alias("_W"))
    p, q = per.alias("_tm_p"), g.alias("_tm_g")
    n = F.col("_tm_p._n").cast("double")
    w = F.col("_tm_p._w").cast("double")
    N = F.col("_tm_g._N").cast("double")
    W = F.col("_tm_g._W").cast("double")
    rate = F.least(
        F.lit(1.0),
        ((F.lit(float(target_frac)) * N) * (w / W)) / n,
    )
    return p.crossJoin(F.broadcast(q)).select(
        F.col(f"_tm_p.{source_col}").alias(source_col),
        F.col("_tm_p._n").alias("volume"),
        (n / N).alias("share_natural"),
        (w / W).alias("share_target"),
        F.round(rate * 1_000_000).cast("long").alias("rate_ppm"),
    )


def temperature_mix(df: DataFrame, alpha: float = 0.5,
                    target_frac: float = 0.5, source_col: str = "source",
                    weight_col: str = "n_chars", id_col: str = "doc_id",
                    salt: str = "tmix") -> DataFrame:
    """α-temperature source mixing: derive each source's keep rate
    from its OBSERVED volume (:func:`temperature_rates`) and apply the
    same deterministic id-hash cut as :func:`hash_sample` /
    :func:`mix_sources` — reruns, retries, and any cluster size keep
    exactly the same rows. One per-source aggregate + a broadcast join
    of the (#sources)-row rate dim back onto the fact table; the cut
    is a narrow filter."""
    rates = temperature_rates(df, alpha, target_frac, source_col, weight_col)
    dim = rates.select(
        F.col(source_col).alias("_tm_src"), "rate_ppm"
    )
    b = F.pmod(h32(F.col(id_col).cast("string"), seed=salt), F.lit(1_000_000))
    return (
        df.join(F.broadcast(dim), df[source_col] == F.col("_tm_src"), "left")
        .filter(b < F.coalesce(F.col("rate_ppm"), F.lit(-1)))
        .drop("_tm_src", "rate_ppm")
    )


def fim_transform(df: DataFrame, rate: float = 0.5, mode: str = "psm",
                  id_col: str = "doc_id", tokens_col: str = "tokens",
                  vocab: int = 50257, min_len: int = 4,
                  salt: str = "fim", with_loss_mask: bool = False) -> DataFrame:
    """Fill-in-the-middle transform (Bavarian et al. 2022,
    arXiv:2207.14255) over pre-tokenized sequences: with probability
    ``rate`` a document's tokens split at two points into
    (prefix, middle, suffix) and re-emit as

    - ``psm``: ``[PRE] prefix [SUF] suffix [MID] middle``
    - ``spm``: ``[PRE] [SUF] suffix [MID] prefix middle``

    so the model learns to infill. Sentinel ids sit just past the
    vocabulary: PRE=vocab, SUF=vocab+1, MID=vocab+2 (the reserved-slot
    convention; pass a bigger ``vocab`` to move them).

    Everything is DETERMINISTIC per doc id (the same md5 discipline as
    :func:`hash_sample`): the apply decision is an id-hash cut at
    ``rate`` ppm and the two split points are independent id-hash
    draws over [0, n] (min→first cut, max→second) — reruns, retries,
    and any partitioning produce byte-identical output, unlike an RNG
    column. Docs shorter than ``min_len`` tokens pass through.

    Plan: pure ``slice``/``concat`` column expressions — narrow, zero
    shuffle, whole-stage codegen; linear at any corpus size. Returns
    (doc_id, tokens, n_tok, fim_applied); non-applied rows keep their
    token array byte-identical.

    ``with_loss_mask`` adds a ``loss_mask`` column aligned with the
    emitted tokens: for transformed rows the loss trains only on the
    infill region — 0 up to (and excluding) the ``[MID]`` sentinel,
    1 from ``[MID]`` onward, which is the middle in PSM and
    prefix+middle in SPM (the prediction region in both layouts);
    non-transformed rows get an all-ones mask (plain LM loss)."""
    if mode not in ("psm", "spm"):
        raise ValueError(f"mode must be psm|spm, got {mode!r}")
    t = F.col(tokens_col)
    n = F.size(t)
    ids = F.col(id_col).cast("string")
    applied = (
        F.pmod(h32(ids, seed=salt), F.lit(1_000_000))
        < F.lit(int(round(rate * 1_000_000)))
    ) & (n >= F.lit(min_len))
    h1 = F.pmod(h32(ids, seed=f"{salt}:a"), n + 1)
    h2 = F.pmod(h32(ids, seed=f"{salt}:b"), n + 1)
    a = F.least(h1, h2)
    b = F.greatest(h1, h2)
    pre = F.array(F.lit(vocab).cast("int"))
    suf = F.array(F.lit(vocab + 1).cast("int"))
    mid = F.array(F.lit(vocab + 2).cast("int"))
    prefix = F.slice(t, 1, a)
    middle = F.slice(t, a + 1, b - a)
    suffix = F.slice(t, b + 1, n - b)
    if mode == "psm":
        rearranged = F.concat(pre, prefix, suf, suffix, mid, middle)
    else:
        rearranged = F.concat(pre, suf, suffix, mid, prefix, middle)
    out_tokens = F.when(applied, rearranged).otherwise(t)
    cols = [
        F.col(id_col).alias("doc_id"),
        out_tokens.alias("tokens"),
        F.size(out_tokens).alias("n_tok"),
        applied.alias("fim_applied"),
    ]
    if with_loss_mask:
        # 0-count before [MID]: psm = [PRE]+prefix+[SUF]+suffix,
        # spm = [PRE]+[SUF]+suffix — then 1s through the end
        k = (n - b + a + 2) if mode == "psm" else (n - b + 2)
        mask = F.when(
            applied,
            F.concat(
                F.array_repeat(F.lit(0).cast("int"), k.cast("int")),
                F.array_repeat(F.lit(1).cast("int"), (n + 3 - k).cast("int")),
            ),
        ).otherwise(F.array_repeat(F.lit(1).cast("int"), n.cast("int")))
        cols.append(mask.alias("loss_mask"))
    return df.select(*cols)


def span_corrupt(df: DataFrame, noise_density: float = 0.15,
                 span_len: int = 3, rate: float = 1.0,
                 id_col: str = "doc_id", tokens_col: str = "tokens",
                 vocab: int = 50257, min_len: int = 8,
                 salt: str = "spanc") -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020, arXiv:1910.10683)
    over pre-tokenized sequences — the multi-span sibling of
    :func:`fim_transform`: ``k ≈ n·noise_density/span_len`` spans are
    cut out of the token array; ``inputs`` replaces each span with a
    unique sentinel (``vocab+i``, ascending), ``targets`` is each
    sentinel followed by its span's tokens, closed by a final sentinel
    ``vocab+k`` — the denoising-objective (inputs, targets) pair.

    Deterministic grid variant of T5's random segmentation: span ``i``
    lives in grid segment ``[i·seg, (i+1)·seg)`` with ``seg = n/k``
    and an id-hash offset inside the segment, so spans are fixed
    length ``span_len`` (the mean of T5's distribution), never
    overlap, and every cut point is an md5 function of
    ``(doc_id, i)`` — reruns, retries, and any partitioning produce
    byte-identical output on any engine (the :func:`hash_sample`
    discipline). ``k`` is clamped to ``n // (span_len+1)`` so every
    segment fits its span plus a gap. Docs failing the ``rate`` ppm
    cut or shorter than ``max(min_len, span_len+1)`` pass through
    with ``inputs = tokens``, empty ``targets``, ``n_spans = 0``.

    Plan: pure ``sequence``/``transform``/``slice``/``flatten`` column
    expressions — narrow, ZERO shuffle, one constant-depth expression
    (never a per-span iterative rewrite); linear at any corpus size.
    Returns (doc_id, inputs, targets, n_spans, corrupted)."""
    t = F.col(tokens_col)
    n = F.size(t)
    L = span_len
    ids = F.col(id_col).cast("string")
    applied = (
        F.pmod(h32(ids, seed=salt), F.lit(1_000_000))
        < F.lit(int(round(rate * 1_000_000)))
    ) & (n >= F.lit(max(min_len, L + 1)))
    k = F.greatest(
        F.lit(1).cast("long"),
        F.least(
            F.floor(n * F.lit(float(noise_density)) / F.lit(float(L))),
            F.floor(n / F.lit(L + 1)),
        ),
    )
    seg = F.floor(n / k)

    def _o(i):  # offset of span i inside its grid segment
        return F.pmod(
            h32(F.concat(ids, F.lit(":"), i.cast("string")), seed=f"{salt}:o"),
            seg - F.lit(L) + 1,
        )

    def _s(i):  # absolute 0-based start of span i
        return i * seg + _o(i)

    def _prev_end(i):  # end (exclusive) of span i-1; 0 for the first
        return F.when(i == 0, F.lit(0).cast("long")).otherwise(
            (i - 1) * seg + _o(i - 1) + F.lit(L)
        )

    sent = lambda i: F.array((F.lit(vocab) + i).cast("int"))  # noqa: E731
    grid = F.sequence(F.lit(0).cast("long"), k - 1)
    inputs = F.concat(
        F.flatten(F.transform(
            grid,
            lambda i: F.concat(
                F.slice(t, (_prev_end(i) + 1).cast("int"),
                        (_s(i) - _prev_end(i)).cast("int")),
                sent(i),
            ),
        )),
        F.slice(t, (_s(k - 1) + F.lit(L) + 1).cast("int"),
                (n - _s(k - 1) - F.lit(L)).cast("int")),
    )
    targets = F.concat(
        F.flatten(F.transform(
            grid,
            lambda i: F.concat(
                sent(i), F.slice(t, (_s(i) + 1).cast("int"), L)
            ),
        )),
        sent(k),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(applied, inputs).otherwise(t).alias("inputs"),
        F.when(applied, targets)
        .otherwise(F.array().cast("array<int>")).alias("targets"),
        F.when(applied, k).otherwise(F.lit(0).cast("long")).alias("n_spans"),
        applied.alias("corrupted"),
    )


def chunk_tokens(df: DataFrame, size: int = 128, stride: int | None = None,
                 id_col: str = "doc_id", tokens_col: str = "tokens",
                 keep_tail: bool = True) -> DataFrame:
    """Per-document overlapping chunking (the RAG / long-doc training
    layout, complementing :func:`pack_sequences`' cross-document
    stream): chunk c of a document covers token positions
    ``[c*stride, c*stride + size)``; with ``stride < size`` consecutive
    chunks overlap by ``size - stride`` tokens. Documents never mix.

    ``keep_tail=False`` drops a trailing chunk shorter than ``size``
    (except a short document's single chunk is always kept —
    every document must contribute at least one chunk).

    Pure column expressions: ``sequence`` over chunk ordinals →
    ``slice`` per chunk → explode. Narrow until the explode, no
    shuffle at all; linear at any corpus size."""
    if stride is None:
        stride = size
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    n = F.size(F.col(tokens_col))
    # number of chunk starts: 1 + floor(max(n - size, 0) / stride),
    # plus one trailing partial chunk when keep_tail and it exists
    full_starts = F.lit(1) + F.floor(
        F.greatest(n - size, F.lit(0)) / stride
    ).cast("int")
    covered = (full_starts - 1) * stride + size
    extra = (
        F.when(F.lit(keep_tail) & (covered < n), 1).otherwise(0)
    )
    n_chunks = full_starts + extra
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.alias("chunk_no"),
            F.slice(F.col(tokens_col), c * stride + 1, size).alias("tokens"),
        ),
    )
    ex = df.select(
        F.col(id_col).alias("doc_id"), F.explode(chunks).alias("_c")
    )
    return ex.select(
        "doc_id",
        F.col("_c.chunk_no").alias("chunk_no"),
        F.col("_c.tokens").alias("tokens"),
        F.size("_c.tokens").alias("n_tok"),
    )


def pack_bins(df: DataFrame, max_len: int = 128, id_col: str = "doc_id",
              tokens_col: str = "tokens", n_buckets: int = 16,
              salt: str = "packbins", strategy: str = "ffd") -> DataFrame:
    """Whole-document bin packing — the no-split alternative to
    :func:`pack_sequences` ("packing without cross-document
    contamination": a document never straddles two training
    sequences; bins may end short).

    Scale design: documents hash into ``n_buckets`` INDEPENDENT
    packers (the same md5 id-hash as :func:`hash_sample` — layout- and
    rerun-independent), so there is no global sequential state; each
    bucket packs its own docs in one Arrow batch (``applyInPandas``),
    ordered (n_tok DESC, doc_id) and assigned first-fit-decreasing
    (``strategy='ffd'``, the canonical ≤11/9·OPT+1 heuristic: a doc
    joins the FIRST open bin with room, else opens a new one) or
    next-fit (``strategy='nfd'``: current bin only — cheaper state,
    weaker fill). The recurrence is per-bucket and bounded by bucket
    size; at 10^12 docs you raise ``n_buckets`` so buckets stay
    batch-sized. A doc longer than ``max_len`` naturally lands in its
    own (overfull) bin.

    Returns (doc_id, n_tok, bucket, bin_no, bin_id) — ``bin_id``
    globally unique as bucket·2³² + bin_no."""
    import pandas as pd

    b = F.pmod(h32(F.col(id_col).cast("string"), seed=salt),
               F.lit(n_buckets)).cast("int")
    src = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col).alias("n_tok"),
        b.alias("bucket"),
    )

    def pack(pdf):
        pdf = pdf.sort_values(["n_tok", "doc_id"],
                              ascending=[False, True], kind="mergesort")
        bins: list[int] = []
        if strategy == "ffd":
            rems: list[int] = []
            for n in pdf["n_tok"]:
                for i, r in enumerate(rems):
                    if r >= n:
                        rems[i] = r - n
                        bins.append(i)
                        break
                else:
                    rems.append(max_len - n)
                    bins.append(len(rems) - 1)
        else:  # next-fit: current bin only
            rem, bin_no = -1, -1
            for n in pdf["n_tok"]:
                if n <= rem:
                    rem -= n
                else:
                    bin_no += 1
                    rem = max_len - n
                bins.append(bin_no)
        pdf = pdf.assign(bin_no=pd.array(bins, dtype="int64"))
        pdf["bin_id"] = pdf["bucket"].astype("int64") * (1 << 32) + pdf["bin_no"]
        return pdf

    return src.groupBy("bucket").applyInPandas(
        pack, "doc_id long, n_tok int, bucket int, bin_no long, bin_id long"
    )


def pack_bins_sequences(df: DataFrame, max_len: int = 128,
                        id_col: str = "doc_id", tokens_col: str = "tokens",
                        n_buckets: int = 16, salt: str = "packbins",
                        strategy: str = "ffd") -> DataFrame:
    """Materialize :func:`pack_bins` assignments into the actual
    training rows: one row per bin with the concatenated token array
    plus the document boundary table (ids + start offsets + lengths,
    in-bin order = (n_tok DESC, doc_id) — deterministic), which is
    exactly what a downstream attention-mask / position-id builder
    consumes for packing WITHOUT cross-document attention.

    One extra keyed shuffle on bin_id after the assignment (uniform by
    construction — bins are capacity-bounded); the concat is a per-bin
    sort + flatten, never a global order. Returns
    ``(bin_id, n_docs, n_tok, doc_ids, doc_starts, doc_lens, tokens)``."""
    asg = pack_bins(df, max_len=max_len, id_col=id_col,
                    tokens_col=tokens_col, n_buckets=n_buckets,
                    salt=salt, strategy=strategy)
    joined = asg.join(
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(tokens_col).alias("_t")),
        "doc_id",
    )
    per_bin = joined.groupBy("bin_id").agg(
        F.array_sort(
            F.collect_list(F.struct(
                (-F.col("n_tok")).alias("_nk"), F.col("doc_id").alias("_id"),
                F.col("n_tok").alias("_n"), F.col("_t").alias("_t"),
            ))
        ).alias("ds")
    )
    starts = F.slice(
        F.aggregate(
            "ds", F.array(F.lit(0).cast("long")),
            lambda acc, d: F.concat(
                acc, F.array(F.element_at(acc, -1) + d["_n"].cast("long"))
            ),
        ),
        1, F.size("ds"),
    )
    return per_bin.select(
        "bin_id",
        F.size("ds").alias("n_docs"),
        F.aggregate("ds", F.lit(0).cast("long"),
                    lambda acc, d: acc + d["_n"]).alias("n_tok"),
        F.transform("ds", lambda d: d["_id"]).alias("doc_ids"),
        starts.alias("doc_starts"),
        F.transform("ds", lambda d: d["_n"].cast("long")).alias("doc_lens"),
        F.flatten(F.transform("ds", lambda d: d["_t"])).alias("tokens"),
    )


def curriculum_order(df: DataFrame, score_col: str = "n_chars",
                     n_buckets: int = 4, id_col: str = "doc_id",
                     sample_rate: float = 1.0, salt: str = "curr",
                     ascending: bool = True) -> DataFrame:
    """Curriculum data ordering (Bengio et al. 2009): rows are bucketed
    by difficulty-score quantiles and given a deterministic
    within-bucket sort key; reading rows ordered by
    ``(bucket, sort_key, id)`` IS the curriculum — easy buckets first
    when ``ascending`` (low score = easy), pseudo-random inside each
    bucket. Same reproducible-permutation contract as
    :func:`shuffle_shards`: the order is DEFINED by emitted columns,
    never materialized by a global sort in the plan.

    Scale: bucket thresholds are exact quantiles over a deterministic
    :func:`hash_sample` slice (bound ``sample_rate`` so the exact
    ``percentile`` aggregate's value collection stays executor-sized —
    the PQ-trainer sampling discipline; quantiles of a uniform hash
    sample converge fast), crossed back as ONE broadcast row (linear
    scalar BroadcastNestedLoopJoin, the :func:`temperature_rates`
    shape); the corpus side is a narrow projection. ``percentile`` is
    interpolated and bit-identical to DuckDB's ``quantile_cont``
    (probed cross-engine — see ``window_percentiles``). The threshold
    aggregate runs EAGERLY at plan build and the boundaries embed as
    literals (the :func:`pack_sequences` plan-build-literal
    discipline — and an empty/NULL-score sample fails fast here
    instead of silently emitting NULL buckets). Returns
    ``(id, score, bucket, sort_key)`` with bucket in [0, n_buckets)."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    src = df if sample_rate >= 1.0 else hash_sample(
        df, sample_rate, id_col=id_col, salt=f"{salt}:s"
    )
    qs = ", ".join(str(i / n_buckets) for i in range(1, n_buckets))
    row = src.agg(
        F.expr(f"percentile({score_col}, array({qs}))").alias("_th")
    ).first()
    ths = row["_th"] if row is not None else None
    if not ths or any(t is None for t in ths):
        raise ValueError(
            "curriculum_order: threshold sample produced no scores — "
            "raise sample_rate or check the score column"
        )
    th = F.array(*[F.lit(float(t)) for t in ths])
    up = F.size(F.filter(th, lambda t: F.col(score_col) > t))
    bucket = up if ascending else (F.lit(n_buckets - 1) - up)
    return df.select(
        F.col(id_col),
        F.col(score_col).alias("score"),
        bucket.cast("int").alias("bucket"),
        h32(F.col(id_col).cast("string"), seed=salt).alias("sort_key"),
    )


def length_buckets(df: DataFrame, tokens_col: str = "tokens",
                   batch_size: int = 32, n_shards: int = 1,
                   id_col: str = "doc_id",
                   salt: str = "lenbatch") -> DataFrame:
    """Length-bucketed batch layout — the padding-efficiency standard:
    sequences batch with others within 2× of their own length, so
    pad-to-longest waste is bounded. ``bucket`` is the bit length of
    ``n_tok - 1`` (integer-exact ceil(log2), no libm), rows get a
    deterministic hash position inside ``(bucket, shard)`` and
    ``batch_id = pos // batch_size``.

    Scale: buckets alone are log-many and huge — the window would be
    one giant partition per bucket. ``n_shards`` splits each bucket
    into independent id-hash shards (the :func:`pack_bins` bucketed-
    packer discipline): one keyed shuffle on (bucket, shard), each
    window partition-sized, batches still length-homogeneous (that is
    the only property batching needs). Each (bucket, shard) group's
    final batch may be partial. Returns
    ``(id, n_tok, bucket, shard, pos, batch_id)``."""
    n = F.size(F.col(tokens_col))
    ids = F.col(id_col).cast("string")
    bucket = len_bucket(n)
    shard = F.pmod(h32(ids, seed=f"{salt}:sh"), F.lit(n_shards)).cast("int")
    out = df.select(
        F.col(id_col), n.alias("n_tok"), bucket.alias("bucket"),
        shard.alias("shard"),
        h32(ids, seed=salt).alias("_sk"),
    )
    w = Window.partitionBy("bucket", "shard").orderBy("_sk", id_col)
    return (
        out.withColumn("pos", F.row_number().over(w) - 1)
        .withColumn(
            "batch_id",
            F.floor(F.col("pos") / F.lit(float(batch_size))).cast("long"),
        )
        .drop("_sk")
    )


def pack_training_meta(packed: DataFrame, max_len: int = 128,
                       pad_id: int = 0) -> DataFrame:
    """Trainer-side metadata for packed bins WITHOUT cross-document
    attention — the arrays every packed-sequence trainer consumes:
    ``position_ids`` restart at 0 on each document boundary,
    ``segment_ids`` number the bin's documents 1-based (0 = padding)
    so a block-diagonal attention mask is reconstructible,
    ``loss_mask`` is 1 on real tokens and 0 on the padding tail, and
    ``tokens`` are padded to ``max_len`` with ``pad_id``.

    Consumes :func:`pack_bins_sequences`' boundary shape (``doc_lens``
    in in-bin order). Pure array projections over already-packed rows:
    narrow plan, ZERO shuffles, no UDF — it composes onto the packer
    at any scale for free. A bin holding one oversize whole document
    (> max_len — the no-split packer never cuts) is emitted unpadded
    at its true length, same as the trainer's packer would."""
    lens = F.col("doc_lens")
    npad = F.greatest(F.lit(0), F.lit(max_len) - F.col("n_tok").cast("int"))
    zeros = F.array_repeat(F.lit(0).cast("long"), npad)
    pos = F.concat(
        F.flatten(F.transform(
            lens,
            lambda l: F.when(
                l > 0, F.sequence(F.lit(0).cast("long"), l.cast("long") - 1)
            ).otherwise(F.array().cast("array<long>")),
        )),
        zeros,
    )
    seg = F.concat(
        F.flatten(F.transform(
            lens, lambda l, i: F.array_repeat((i + 1).cast("long"), l.cast("int"))
        )),
        zeros,
    )
    mask = F.concat(
        F.array_repeat(F.lit(1).cast("long"), F.col("n_tok").cast("int")), zeros
    )
    toks = F.concat(
        F.col("tokens"),
        F.array_repeat(F.lit(pad_id).cast("int"), npad),
    )
    return packed.select(
        "bin_id", "n_docs", "n_tok",
        toks.alias("tokens"),
        pos.alias("position_ids"),
        seg.alias("segment_ids"),
        mask.alias("loss_mask"),
    )


def sample_per_group(df: DataFrame, n: int = 5, group_col: str = "source",
                     id_col: str = "doc_id", salt: str = "gsample") -> DataFrame:
    """Deterministic N examples per group (the "show me a few docs per
    source" debugging view): rows ranked inside each group by their
    content-independent id hash (md5 — same draw on any engine, run,
    or layout; never RNG), keep rank ≤ n. One keyed shuffle on the
    group column; groups are few, rows per group capped at n."""
    w = Window.partitionBy(group_col).orderBy(
        h32(F.col(id_col).cast("string"), seed=salt), id_col
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def vocab_coverage(df: DataFrame, tokens_col: str = "tokens",
                   top_k: tuple[int, ...] = (10, 100, 1000)) -> DataFrame:
    """Tokenizer diagnostics: what fraction of all corpus tokens the
    top-k most frequent ids cover, for each k. One vocab-sized hash
    aggregate (:func:`vocab_histogram`) then a window cumsum over the
    tiny frequency table (vocab-sized, not corpus-sized). Ties rank by
    id for cross-engine determinism. Returns (top_k, covered, total,
    coverage) — one row per requested k."""
    hist = vocab_histogram(df, tokens_col)
    w = Window.orderBy(F.desc("n"), "token_id")
    ranked = hist.select(
        "n", F.row_number().over(w).alias("rk"),
        F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    one = ranked.agg(
        F.sum("n").alias("t"),
        *[
            F.max(F.when(F.col("rk") <= k, F.col("cum"))).alias(f"_c{k}")
            for k in top_k
        ],
    )
    rows = F.array(*[
        F.struct(
            F.lit(int(k)).alias("top_k"),
            F.col(f"_c{k}").cast("long").alias("covered"),
        )
        for k in top_k
    ])
    return one.select(F.explode(rows).alias("s"), "t").select(
        F.col("s.top_k").alias("top_k"),
        F.col("s.covered").alias("covered"),
        F.col("t").cast("long").alias("total"),
        (F.col("s.covered") / F.col("t")).cast("double").alias("coverage"),
    )


def truncation_stats(df: DataFrame, ctx_lens: tuple[int, ...] = (128, 512, 2048, 8192),
                     n_tok_col: str = "n_tok") -> DataFrame:
    """Context-length truncation accounting over the tokenized table
    — the datacard question "what do we lose at context L?" for each
    candidate training context length: docs truncated, tokens kept vs
    lost, and the kept fraction (ppm).

    One narrow projection of ``n_tok`` ONLY (the token arrays are
    pruned from the scan — the parquet reader never materializes
    them), a small constant explode (|ctx_lens| rows per doc), then a
    single partial+final hash aggregate on ctx_len. At 10^12 docs this
    is one map-side-combined pass over an int column; the shuffle
    carries |ctx_lens| pre-aggregated rows per task.

    All counters are exact BIGINTs; ``kept_ppm`` is the one float op,
    ``round(kept * 1e6 / total)``.
    """
    sel = df.select(F.col(n_tok_col).cast("long").alias("_n"))
    ex = sel.select(
        "_n",
        F.explode(
            F.array(*[F.lit(int(c)).cast("long") for c in sorted(set(ctx_lens))])
        ).alias("ctx_len"),
    )
    c = F.col("ctx_len")
    return (
        ex.groupBy("ctx_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("_n") > c).cast("long")).alias("n_docs_truncated"),
            F.sum("_n").alias("tokens_total"),
            F.sum(F.least("_n", c)).alias("tokens_kept"),
            F.sum(F.greatest(F.col("_n") - c, F.lit(0).cast("long"))).alias(
                "tokens_lost"
            ),
        )
        .withColumn(
            "kept_ppm",
            F.round(
                F.col("tokens_kept").cast("double") * F.lit(1000000.0)
                / F.col("tokens_total").cast("double")
            ).cast("long"),
        )
    )


def packing_efficiency(packed: DataFrame, max_len: int,
                       bin_col: str = "bin_id",
                       n_tok_col: str = "n_tok") -> DataFrame:
    """Packing-layout datacard over a :func:`pack_bins` assignment:
    "how much context window does this layout waste?" — the number
    that justifies (or indicts) a packer choice before burning GPU
    hours on padding.

    One per-bin hash aggregate (map-side combined) then a 1-row global
    aggregate: n_bins, docs, token totals, padding tokens
    (``max_len − fill`` per non-overfull bin), bins overfull (a doc
    longer than ``max_len`` sits alone in an overflow bin by the
    packer's contract), and the fill ratio in ppm. All BIGINT counters;
    the ppm round is the one float op.

    Returns ONE row: ``(max_len, n_bins, n_docs, tokens_total,
    slots_total, padding_tokens, overfull_bins, fill_ppm)``.
    """
    bins = packed.groupBy(bin_col).agg(
        F.sum(F.col(n_tok_col).cast("long")).alias("fill"),
        F.count(F.lit(1)).alias("nd"),
    )
    ml = F.lit(int(max_len)).cast("long")
    out = bins.agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("nd").alias("n_docs"),
        F.sum("fill").alias("tokens_total"),
        F.sum(F.greatest(ml - F.col("fill"), F.lit(0).cast("long"))).alias(
            "padding_tokens"
        ),
        F.sum((F.col("fill") > ml).cast("long")).alias("overfull_bins"),
    )
    slots = F.col("n_bins") * ml
    return out.select(
        F.lit(int(max_len)).cast("long").alias("max_len"),
        "n_bins", "n_docs", "tokens_total",
        slots.alias("slots_total"),
        "padding_tokens", "overfull_bins",
        F.round(
            F.col("tokens_total").cast("double") * F.lit(1000000.0)
            / (F.col("n_bins") * ml).cast("double")
        ).cast("long").alias("fill_ppm"),
    )


def padding_stats(batched: DataFrame, tok_col: str = "n_tok") -> DataFrame:
    """Padding-waste datacard over a batch layout (the
    :func:`length_buckets` output shape — rows carry ``bucket``,
    ``shard``, ``batch_id``, ``n_tok``): every batch pads to its
    longest member, so its cost is ``n_rows * max(n_tok)`` slots of
    which ``sum(n_tok)`` are real tokens. Per length bucket:
    batch count, real tokens, padded slots, and waste_ppm — the number
    that justifies length-bucketed batching (random batching wastes
    30-60% of step compute on pad tokens; within-2×-bucket batching
    bounds it). Partial final batches are counted at their actual
    size, not padded up to batch_size.

    Scale: one hash aggregate per (bucket, shard, batch) — the same
    keys the layout already shuffled on, so the exchange is reused —
    then a log-many-row rollup per bucket. waste_ppm divides exact
    long counts once, so it reproduces bit-identically cross-engine."""
    per_batch = batched.groupBy("bucket", "shard", "batch_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(tok_col).alias("max_tok"),
        F.sum(tok_col).alias("real_tok"),
    )
    per_bucket = per_batch.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("real_tok").cast("long").alias("real_tokens"),
        F.sum(F.col("n_rows") * F.col("max_tok")).cast("long").alias(
            "padded_slots"
        ),
    )
    waste = (
        (F.col("padded_slots") - F.col("real_tokens")).cast("double")
        * F.lit(1_000_000.0) / F.col("padded_slots").cast("double")
    )
    return per_bucket.select(
        "bucket", "n_batches", "real_tokens", "padded_slots",
        F.round(waste).cast("long").alias("waste_ppm"),
    )


def len_bucket(n: Column) -> Column:
    """Power-of-2 length bucket: bit length of ``n - 1`` (integer-exact
    ceil(log2), no libm) — the bucket rule shared by
    :func:`length_buckets` and :func:`length_resample_weights`."""
    return F.when(n <= 1, F.lit(0)).otherwise(
        F.length(F.bin(n - 1))
    ).cast("int")


def length_resample_weights(df: DataFrame, tokens_col: str = "tokens",
                            id_col: str = "doc_id") -> DataFrame:
    """Long-context resampling weights: per-doc sampling weight that
    reshapes the corpus's length distribution to UNIFORM mass across
    its power-of-2 length buckets — the standard context-extension
    recipe (long documents are rare, so a long-context training phase
    upsamples them; e.g. 'Data Engineering for Scaling Language Models
    to 128K Context', arXiv:2402.10171, upsamples long sequences
    rather than changing the mix). ``weight_ppm = round(1e6 *
    (1/K) / bucket_share)`` where K is the number of occupied buckets
    and bucket_share is the bucket's fraction of documents — weights
    within a bucket are equal, every bucket's total mass equalizes at
    ``total_docs / K`` doc-equivalents, and the corpus's total mass is
    preserved (~1e6 × total_docs ppm).

    Scale: one log-many-row hash aggregate (docs per bucket), a 1-row
    total crossed back LINEARLY onto those K rows (broadcast
    nested-loop on K×1 — the temperature_mix discipline, whitelisted
    in the plan audit), then one broadcast equi-join of the K-row
    weight table back onto the corpus. The big side is never
    reshuffled."""
    n = F.size(F.col(tokens_col))
    docs = df.select(F.col(id_col), len_bucket(n).alias("bucket"))
    counts = docs.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = counts.agg(
        F.sum("n_docs").alias("total_docs"),
        F.count(F.lit(1)).alias("k_buckets"),
    )
    weights = counts.crossJoin(totals).select(
        "bucket",
        "n_docs",
        F.round(
            F.col("total_docs").cast("double") * F.lit(1_000_000.0)
            / (F.col("k_buckets") * F.col("n_docs")).cast("double")
        ).cast("long").alias("weight_ppm"),
    )
    return docs.join(F.broadcast(weights), "bucket").select(
        id_col, "bucket", "n_docs", "weight_ppm"
    )


def chat_loss_mask(df: DataFrame, turns_col: str = "turns",
                   id_col: str = "conv_id",
                   role_ids: dict[str, int] | None = None,
                   train_roles: tuple[str, ...] = ("assistant",)
                   ) -> DataFrame:
    """SFT conversation flattening with assistant-only loss: turn a
    role-tagged conversation (``turns: array<struct<role, tokens>>``)
    into one packed-ready training row — tokens with a role-sentinel
    id prepended to every turn, and a parallel 0/1 loss mask that is 1
    exactly on the content tokens of ``train_roles`` (role sentinels
    are never trained, matching the usual chat-template recipe: the
    model learns to produce assistant content after the assistant
    header, not to emit headers). Output (id, tokens, loss_mask,
    n_tok) feeds straight into :func:`pack_bins_sequences` /
    :func:`pack_training_meta` like any other sequence.

    Scale: pure array expressions (transform + flatten) — narrow,
    Exchange-free, whole-stage-codegen; no UDF, no shuffle. A role
    missing from ``role_ids`` maps to sentinel -1 with mask 0, so a
    malformed row degrades to untrained rather than failing a
    10^12-row job; count such rows upstream if the corpus should not
    contain any."""
    rids = role_ids or {"system": 1, "user": 2, "assistant": 3}

    def sent(t):
        expr = F.lit(-1)
        for role, rid in sorted(rids.items()):
            expr = F.when(t["role"] == role, F.lit(rid)).otherwise(expr)
        return expr

    def trained(t):
        cond = F.lit(False)
        for role in train_roles:
            cond = cond | (t["role"] == role)
        return cond.cast("int")

    turns = F.col(turns_col)
    tokens = F.flatten(
        F.transform(turns, lambda t: F.concat(F.array(sent(t)), t["tokens"]))
    )
    mask = F.flatten(
        F.transform(
            turns,
            lambda t: F.concat(
                F.array(F.lit(0)),
                F.transform(t["tokens"], lambda _: trained(t)),
            ),
        )
    )
    return df.select(
        F.col(id_col),
        tokens.alias("tokens"),
        mask.alias("loss_mask"),
        F.size(tokens).alias("n_tok"),
    )


def preference_pairs(df: DataFrame, prompt_col: str = "prompt_id",
                     id_col: str = "response_id",
                     score_col: str = "score") -> DataFrame:
    """DPO/RLHF preference-pair construction: per prompt, pair the
    best-scoring response (chosen) against the worst (rejected), ties
    broken by smallest id — the standard reduction of an n-response
    scored pool to one training pair per prompt. Prompts with a single
    response produce no pair (nothing to contrast), and all-tied pools
    are dropped (margin 0 carries no preference signal). Returns
    (prompt_id, chosen_id, rejected_id, chosen_score, rejected_score,
    margin).

    Scale: ONE partial+final hash aggregate keyed on the prompt —
    min/max-by-struct, the same combinable-argmin trick as ExactSubstr
    keep-first (never a per-prompt window): each partition reduces its
    slice to one struct per prompt before the shuffle, so a hot prompt
    with a million responses costs map-side memory O(1)."""
    best = F.max(F.struct(F.col(score_col), (-F.col(id_col)).alias("nid")))
    worst = F.min(F.struct(F.col(score_col), F.col(id_col).alias("pid")))
    agg = df.groupBy(prompt_col).agg(
        best.alias("b"), worst.alias("w"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        agg.filter(F.col("n") >= 2)
        .select(
            prompt_col,
            (-F.col("b.nid")).alias("chosen_id"),
            F.col("w.pid").alias("rejected_id"),
            F.col(f"b.{score_col}").alias("chosen_score"),
            F.col(f"w.{score_col}").alias("rejected_score"),
            (F.col(f"b.{score_col}") - F.col(f"w.{score_col}")).alias(
                "margin"
            ),
        )
        .filter(F.col("margin") > 0)
    )


def token_budget_sample(df: DataFrame, budget,
                        source_col: str = "source",
                        id_col: str = "doc_id",
                        tok_col: str = "n_tok",
                        salt: str = "budget",
                        n_buckets: int = 256) -> DataFrame:
    """Deterministic per-source selection to an exact token budget —
    the mixture-draw primitive: 'take N tokens from each source'.
    Documents order by a content-independent id hash within their
    source (stable across runs, engines, cluster sizes — never RNG),
    and a document is kept while its INCLUSIVE running token total
    fits the source's budget; the first doc that would overflow is
    dropped, as is everything after it. Returns one row per input doc
    (doc_id, source, n_tok, cum_tok, kept) so the caller can audit
    the cut line, not just the survivors. ``budget`` is an int
    (same for every source) or a ``{source: budget}`` dict.

    Scale: NEVER one window partition per source (a single-source
    corpus would serialize). The sort-key domain splits into
    ``n_buckets`` contiguous ranges — a pure function of the key, no
    RangePartitioner sampling (the :func:`_global_starts` lesson) —
    per-(source, bucket) totals aggregate into a tiny offsets table
    (#sources × n_buckets rows, windowed at that size), and each
    bucket's rows cumsum independently where they shuffled to, plus
    the broadcast base offset. Result is bucket-count-invariant."""
    sk = h32(F.col(id_col).cast("string"), seed=salt)
    width = 4294967296 // n_buckets
    base = df.select(
        F.col(source_col).alias("source"), F.col(id_col),
        F.col(tok_col).cast("long").alias("n_tok"),
        sk.alias("_sk"),
        F.floor(sk / F.lit(width)).cast("int").alias("_bk"),
    )
    per = base.groupBy("source", "_bk").agg(F.sum("n_tok").alias("_bt"))
    wob = (
        Window.partitionBy("source").orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = per.select(
        "source", "_bk",
        F.coalesce(F.sum("_bt").over(wob), F.lit(0)).alias("_off"),
    )
    w = Window.partitionBy("source", "_bk").orderBy("_sk", id_col)
    cum = base.join(F.broadcast(off), ["source", "_bk"]).withColumn(
        "cum_tok", (F.col("_off") + F.sum("n_tok").over(w)).cast("long")
    )
    if isinstance(budget, dict):
        b = local_frame(
            df.sparkSession, list(budget.items()), "source string, _budget long"
        )
        cum = cum.join(F.broadcast(b), "source")
        kept = F.col("cum_tok") <= F.col("_budget")
    else:
        kept = F.col("cum_tok") <= F.lit(int(budget))
    return cum.select(
        id_col, "source", "n_tok", "cum_tok", kept.alias("kept")
    )


def batch_schedule(df: DataFrame, global_batch: int = 256,
                   n_ranks: int = 8, id_col: str = "doc_id",
                   n_shards: int = 64, salt: str = "shuffle",
                   drop_last: bool = True) -> DataFrame:
    """Deterministic data-parallel batch schedule — the last mile
    between :func:`shuffle_shards` and the training loop: which
    optimizer ``step``, data-parallel rank (``dp_rank``), and
    within-rank ``slot`` consumes each (packed) sequence. The global
    consumption order is shard-major (shard asc, then sort_key, id
    within the shard — exactly the order :func:`shuffle_shards`
    documents for readers), so ``global_pos`` = shard base offset +
    within-shard rank, ``step = pos // global_batch``,
    ``dp_rank = (pos % global_batch) // (global_batch / n_ranks)``,
    ``slot = pos % (global_batch / n_ranks)``. ``drop_last`` trims the
    trailing partial global batch, mirroring trainer loaders; any
    worker can recompute any slice with no RNG state (the
    :func:`epoch_schedule` property, extended to step granularity).

    Scale: within-shard positions come from per-shard windows (size a
    shard to ~corpus/n_shards rows); shard base offsets are a
    #shards-row aggregate windowed at that size and broadcast back —
    no global window, no RangePartitioner sampling (the
    :func:`token_budget_sample` discipline). step/rank arithmetic uses
    floor-of-double division: exact below 2^53 positions, i.e. any
    real corpus. Returns (id, shard, global_pos, step, dp_rank, slot).
    """
    if n_ranks < 1 or global_batch < 1 or global_batch % n_ranks:
        raise ValueError(
            f"global_batch ({global_batch}) must be a positive multiple "
            f"of n_ranks ({n_ranks})"
        )
    per_rank = global_batch // n_ranks
    sh = shuffle_shards(df.select(id_col), n_shards=n_shards,
                        id_col=id_col, salt=salt)
    counts = sh.groupBy("shard").agg(F.count(F.lit(1)).alias("_n"))
    woff = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1)
    wtot = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    off = counts.select(
        "shard",
        F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off"),
        F.sum("_n").over(wtot).alias("_total"),
    )
    w = Window.partitionBy("shard").orderBy("sort_key", id_col)
    pos = (F.col("_off") + F.row_number().over(w) - 1).cast("long")
    out = (
        sh.join(F.broadcast(off), "shard")
        .withColumn("global_pos", pos)
        .withColumn("step",
                    F.floor(F.col("global_pos") / global_batch).cast("long"))
        .withColumn(
            "dp_rank",
            F.floor(F.pmod(F.col("global_pos"), global_batch) / per_rank)
            .cast("int"),
        )
        .withColumn("slot",
                    F.pmod(F.col("global_pos"), per_rank).cast("int"))
    )
    if drop_last:
        full = F.col("_total") - F.pmod(F.col("_total"), F.lit(global_batch))
        out = out.filter(F.col("global_pos") < full)
    return out.select(id_col, "shard", "global_pos", "step", "dp_rank",
                      "slot")


def step_token_balance(df: DataFrame, global_batch: int = 256,
                       n_ranks: int = 8, id_col: str = "doc_id",
                       tok_col: str = "n_tok", n_shards: int = 64,
                       salt: str = "shuffle",
                       drop_last: bool = True) -> DataFrame:
    """Per-step data-parallel token-load datacard: how evenly
    :func:`batch_schedule`'s (step, rank) assignment spreads TOKENS —
    the straggler signal a trainer actually feels (a step is as slow
    as its heaviest rank; sequence-count balance is perfect by
    construction, token balance is not unless sequences are packed to
    uniform length). One row per step: per-rank min/max/total token
    loads and ``imbalance_ppm`` = max-rank share of a perfectly even
    split, in parts-per-million (1e6 = perfectly balanced, 2e6 = the
    slowest rank carries 2x its fair share).

    Scale: the schedule join is the only shuffle beyond
    :func:`batch_schedule`'s own (hash join on the id), then two
    partial+final hash aggregates of #steps x n_ranks and #steps rows.
    Integer ppm (floored) for cross-engine bit parity.
    """
    sched = batch_schedule(df, global_batch=global_batch, n_ranks=n_ranks,
                           id_col=id_col, n_shards=n_shards, salt=salt,
                           drop_last=drop_last)
    j = sched.select(id_col, "step", "dp_rank").join(
        df.select(id_col, tok_col), id_col
    )
    per_rank = j.groupBy("step", "dp_rank").agg(
        F.sum(tok_col).cast("long").alias("rank_tokens")
    )
    return per_rank.groupBy("step").agg(
        F.count(F.lit(1)).cast("int").alias("ranks"),
        F.sum("rank_tokens").alias("step_tokens"),
        F.min("rank_tokens").alias("min_rank_tokens"),
        F.max("rank_tokens").alias("max_rank_tokens"),
        F.expr(
            f"(max(rank_tokens) * 1000000 * {int(n_ranks)})"
            " div sum(rank_tokens)"
        ).alias("imbalance_ppm"),
    )
