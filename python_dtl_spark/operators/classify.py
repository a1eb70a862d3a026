"""Bag-of-words Naive Bayes classification — the corpus-quality /
language classifier tier of a training-data pipeline (the GPT-3 /
LLaMA-style "fit a cheap classifier on labeled seed data, score the
whole crawl" step, at the word grain the rest of this repo's text
operators share).

Naive Bayes is chosen over iterative fits deliberately: its sufficient
statistics are INTEGER COUNTS (per-class token frequencies + class
sizes), so the fitted model is exact, reproducible bit-for-bit, and an
ANSI-SQL oracle can re-derive the entire model and the per-document
argmax independently — the same verifiability standard as the rest of
the catalog (a logistic-regression fit would trade that for a
marginally better decision boundary).

The reference engine has no classifier surface at all (scalar registry
is ``add`` only, /root/reference/src/dtl/functions.py); extension per
SURVEY.md §2.5.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_dtl_spark.operators.text import tokens

__all__ = [
    "nb_fit",
    "nb_apply",
    "lm_fit",
    "lm_perplexity",
    "dsir_fit",
    "dsir_weights",
]


def nb_fit(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    max_vocab: int = 50_000,
    sample_fraction: float | None = None,
    sample_seed: str = "nbfit",
    tokens_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial-NB sufficient statistics on a labeled corpus.

    Returns ``(token_counts, class_stats)`` — both small, broadcastable
    DataFrames of EXACT INTEGERS (smoothing happens at apply time, so
    the model itself is engine-reproducible):

    * ``token_counts``: ``(token, label, freq)`` for the top
      ``max_vocab`` tokens by corpus frequency (freq DESC, token ASC —
      the same deterministic rank rule as :func:`~python_dtl_spark.
      operators.text.vocabulary`) with per-token-per-class instance
      counts; tokens below ``min_count`` corpus-wide are dropped.
    * ``class_stats``: ``(label, n_docs, n_tokens)`` with ``n_tokens``
      the class's IN-VOCAB token instance count (the multinomial
      denominator base — out-of-vocab instances route to the shared
      OOV pseudo-token at apply time).

    Rows with a NULL label are excluded — they are the unlabeled
    corpus the fitted model exists to score, not evidence.

    ``sample_fraction`` is the 100 TB valve (same deterministic
    md5-hash sample as :func:`~python_dtl_spark.operators.text.
    bpe_fit`): fit the statistics on a reproducible fraction of the
    labeled data; seed-data labeling is expensive, so real deployments
    fit small and score everything anyway.

    Pass ``tokens_col`` to fit over a pre-tokenized array as-is (no
    re-split, no lowercasing) — e.g. a fitted BPE tokenizer's
    :func:`~python_dtl_spark.operators.text.bpe_encode` output, so the
    classifier composes with the tokenizer stack; the same contract as
    ``vocabulary`` / ``merge_candidates``.  Fit and apply must use the
    SAME tokenization.

    Scale shape: one explode + ONE (label, token) hash aggregation
    with map-side partials; the vocabulary prune is a corpus-frequency
    rank that Catalyst pushes as TakeOrderedAndProject through the
    window (never a full-vocabulary global sort); class_stats is a
    second tiny aggregation at label grain.
    """
    labeled = df.where(F.col(label_col).isNotNull())
    if sample_fraction is not None:
        from python_dtl_spark.operators.sampling import hash_sample

        labeled = hash_sample(
            labeled, id_col, sample_fraction, seed=sample_seed
        )
    toks = labeled.select(
        F.col(label_col).alias("label"),
        F.explode(
            F.col(tokens_col)
            if tokens_col is not None
            else tokens(F.lower(F.col(text_col)))
        ).alias("token"),
    )
    per_class = toks.groupBy("token", "label").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    # vocabulary prune by CORPUS frequency (sum over classes), the
    # deterministic (freq DESC, token ASC) rank shared with vocabulary()
    from pyspark.sql import Window

    corpus = per_class.groupBy("token").agg(F.sum("freq").alias("__cf"))
    w = Window.orderBy(F.desc("__cf"), F.asc("token"))
    vocab = (
        corpus.filter(F.col("__cf") >= min_count)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_vocab)
        .select("token")
    )
    token_counts = per_class.join(vocab, on="token").select(
        "token", "label", "freq"
    )
    class_tok = token_counts.groupBy("label").agg(
        F.sum("freq").cast("long").alias("n_tokens")
    )
    class_docs = labeled.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    class_stats = class_docs.join(class_tok, on="label", how="left").select(
        "label",
        "n_docs",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
    )
    return token_counts, class_stats


def nb_apply(
    df: DataFrame,
    token_counts: DataFrame,
    class_stats: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    out_col: str = "predicted_label",
    score_col: str = "log_score",
    tokens_col: str | None = None,
    row_local: bool = False,
    max_literal_cells: int = 65_536,
) -> DataFrame:
    """Score every document against fitted NB statistics and append
    ``out_col`` (argmax class) and ``score_col`` (its log posterior up
    to the shared normalizer).

    Semantics (replayable in SQL): with vocabulary size ``V`` and
    Laplace ``alpha``, a document's class score is

        log(n_docs_c) + Σ_tokens log((freq_{t,c} + alpha) /
                                      (n_tokens_c + alpha·(V+1)))

    where an out-of-vocabulary token has ``freq = 0`` (the ``V+1``-th
    pseudo-token).  Argmax tie-break is (score DESC, label ASC) —
    deterministic.  A document with no tokens scores on priors alone.

    The class list and sizes collect to the driver (a handful of rows
    — the scalar-model pattern of KMeans centroids / BPE pairs); the
    token table stays distributed and joins BROADCAST, pivoted to one
    row per token with a frequency column per class.

    Scale shape: row-local tokenization/explode, ONE broadcast join
    against the ≤ ``max_vocab``-row pivoted model, ONE doc-grain hash
    aggregation (map-side partial sums), then the id-keyed join-back
    to the input (broadcast at small scale, co-partitioned equi-join
    at corpus scale — the same join-back shape as
    ``events_resample_ffill``) and a row-local argmax over the class
    score columns.  Never a per-class pass over the corpus, never a
    Python UDF.

    ``row_local=True`` embeds the fitted model as a PLAN-LITERAL map
    (token → per-class frequency array, the ``bpe_encode`` merge-table
    pattern) and folds each document's score with one ``F.aggregate``
    per class — no explode, no join, no aggregation, a pure map stage.
    Same output (equality-tested).  This is the STREAMING tier: the
    join path's doc-grain groupBy is a streaming aggregation and its
    id join-back a stream self-join — both unsupported on an unbounded
    stream — while a map stage applies to ``readStream`` frames as-is
    (batch-parity-tested in test_streaming.py).  Guarded by
    ``max_literal_cells`` (vocab × classes literal cells; the classic
    32k-vocab × few-class model fits) — beyond it, use the default
    broadcast-join path on micro-batches via ``foreachBatch`` instead.
    """
    for emitted in (out_col, score_col):
        if emitted in df.columns:
            raise ValueError(
                f"nb_apply emits column {emitted!r} which already exists "
                "on the input; rename or drop it first"
            )
    # internal working names too (advisor r12): __nb_id and the
    # positional __nb_s{i}/__nb_c{i} score columns live on the
    # join-back frame, so an input already carrying a __nb_* column
    # would fail with an ambiguous-reference AnalysisException instead
    # of this clear error
    for internal in df.columns:
        if internal.startswith("__nb_"):
            raise ValueError(
                f"nb_apply uses internal working columns with the "
                f"'__nb_' prefix; input column {internal!r} collides — "
                "rename or drop it first"
            )
    if not alpha > 0:
        # alpha = 0 puts log(0) on every out-of-vocabulary token —
        # -inf scores that poison the argmax silently
        raise ValueError(f"alpha must be > 0, got {alpha}")
    # Persist both model tables (the dsir_weights r14 precedent,
    # extended here in r20): token_counts is a full-corpus
    # tokenize+explode+agg plus the vocabulary-rank join, and without
    # the cache it runs once for the vocab_size count below, and again
    # inside the pivot feeding the scoring plan; class_stats likewise
    # for the collect here.  Both are model-bounded (≤ max_vocab rows /
    # one row per class).  The row_local tier unpersists inline once
    # its literals are collected; the join tier registers with the
    # shared release registry the bench/oracle harnesses drain.
    from python_dtl_spark.operators.dedup import _release_after

    token_counts = token_counts.persist()
    class_stats = class_stats.persist()
    try:
        stats = sorted(
            class_stats.collect(), key=lambda r: r["label"]
        )  # tiny: one row per class (scalar model, see docstring)
        if not stats:
            raise ValueError("class_stats is empty — nothing was fit")
        labels = [r["label"] for r in stats]
        vocab_size = token_counts.select("token").distinct().count()
        denoms = {
            r["label"]: float(r["n_tokens"]) + alpha * (vocab_size + 1)
            for r in stats
        }
        priors = {r["label"]: math.log(r["n_docs"]) for r in stats}

        # Pivot output columns are renamed POSITIONALLY (pivot with an
        # explicit value list emits one column per value, in list order,
        # after the grouping column): addressing them by label text would
        # break on a label containing a backtick and collide on a label
        # literally named "token" (advisor r11).
        wide = (
            token_counts.groupBy("token")
            .pivot("label", labels)
            .agg(F.first("freq"))
            .toDF("token", *[f"__nb_c{i}" for i in range(len(labels))])
        )
        toks_expr = (
            F.col(tokens_col)
            if tokens_col is not None
            else tokens(F.lower(F.col(text_col)))
        )
        if row_local:
            # guard BEFORE collecting: vocab_size is already computed above
            # (one count job), so an oversized model is refused without
            # ever pulling its rows to the driver
            cells = vocab_size * len(labels)
            if cells > max_literal_cells:
                raise ValueError(
                    f"row_local model has {cells} literal cells "
                    f"({vocab_size} tokens x {len(labels)} classes) > "
                    f"max_literal_cells={max_literal_cells}; use the default "
                    "broadcast-join path (foreachBatch on streams) or raise "
                    "the cap"
                )
            model_rows = wide.collect()  # bounded: <= max_vocab rows
            if model_rows:
                entries = []
                for r in model_rows:
                    entries.append(F.lit(r["token"]))
                    entries.append(
                        F.array(
                            *[
                                F.lit(int(r[f"__nb_c{i}"] or 0))
                                for i in range(len(labels))
                            ]
                        )
                    )
                model_map = F.create_map(*entries)
            else:
                model_map = F.lit(None).cast("map<string,array<bigint>>")
            score_cols = [
                F.coalesce(
                    F.aggregate(
                        toks_expr,
                        F.lit(0.0),
                        lambda acc, t: acc
                        + F.log(
                            (
                                F.coalesce(
                                    F.element_at(
                                        F.element_at(model_map, t), i + 1
                                    ),
                                    F.lit(0),
                                )
                                + F.lit(alpha)
                            )
                            / F.lit(denoms[c])
                        ),
                    ),
                    F.lit(0.0),
                )
                + F.lit(priors[c])
                for i, c in enumerate(labels)
            ]
            scored = df
        else:
            toks = df.select(
                F.col(id_col).alias("__nb_id"),
                F.explode(toks_expr).alias("token"),
            )
            joined = toks.join(F.broadcast(wide), on="token", how="left")
            sums = joined.groupBy("__nb_id").agg(
                *[
                    F.sum(
                        F.log(
                            (F.coalesce(F.col(f"__nb_c{i}"), F.lit(0)) + F.lit(alpha))
                            / F.lit(denoms[c])
                        )
                    ).alias(f"__nb_s{i}")
                    for i, c in enumerate(labels)
                ]
            )
            scored = df.join(
                sums, on=df[id_col] == sums["__nb_id"], how="left"
            ).drop("__nb_id")
            score_cols = [
                (F.coalesce(F.col(f"__nb_s{i}"), F.lit(0.0)) + F.lit(priors[c]))
                for i, c in enumerate(labels)
            ]
        # row-local argmax, tie-break (score DESC, label ASC): sort the
        # (–score, label) structs ascending and take the head
        best = F.element_at(
            F.array_sort(
                F.array(
                    *[
                        F.struct(
                            (-s).alias("ns"), F.lit(c).alias("l")
                        )
                        for s, c in zip(score_cols, labels)
                    ]
                )
            ),
            1,
        )
        out = scored.select(
            *[F.col(c) for c in df.columns],
            best["l"].alias(out_col),
            (-best["ns"]).alias(score_col),
        )
        if row_local:
            # literals are embedded in the returned plan; the model
            # caches have no further reader
            token_counts.unpersist()
            class_stats.unpersist()
            return out
        return _release_after(out, token_counts, class_stats)
    except BaseException:
        # a failing eager pass (collect/count/analysis error) must not
        # leak the model persists until session end (the top_fraction
        # r14 precedent)
        token_counts.unpersist()
        class_stats.unpersist()
        raise



def _bigram_pairs(toks):
    """Adjacent (w1, w2) pairs of a token array, row-locally: the
    array zipped with its own tail (two slices + arrays_zip — the
    O(tokens) sliding-window recipe shared with dedup's shingles)."""
    n = F.size(toks)
    return F.arrays_zip(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )


def lm_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    max_vocab: int = 50_000,
    sample_fraction: float | None = None,
    sample_seed: str = "lmfit",
    tokens_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit a bigram language model's sufficient statistics — the
    CCNet / LLaMA-style "score the crawl with a cheap LM, keep the
    low-perplexity slice" quality filter (Wenzek et al. 2020 use a
    KenLM 5-gram; at the word grain this repo's operators share, a
    smoothed bigram model is the same verb with EXACT-INTEGER,
    SQL-replayable statistics — the same verifiability standard that
    picked Naive Bayes over logistic regression for :func:`nb_fit`).

    Returns ``(bigram_counts, unigram_counts)``:

    * ``unigram_counts``: ``(w, freq)`` for the top ``max_vocab``
      tokens by (freq DESC, w ASC) with ``freq >= min_count`` — the
      model vocabulary; the deterministic rank rule shared with
      :func:`nb_fit` / ``text.vocabulary``.
    * ``bigram_counts``: ``(w1, w2, freq)`` restricted to pairs whose
      BOTH words are in the vocabulary (out-of-vocab words score as
      the OOV pseudo-token at apply time, so their pair counts would
      never be read).

    ``sample_fraction`` is the 100 TB valve (the deterministic
    md5-hash document sample shared with :func:`nb_fit` /
    ``text.bpe_fit``).  ``tokens_col`` fits over a pre-tokenized
    array (no re-split, no lowercasing) — fit and score must use the
    SAME tokenization.

    Scale shape: one explode + ONE (w1, w2) hash aggregation with
    map-side partials for bigrams, one for unigrams; the vocabulary
    prune is a bounded global rank that plans as
    TakeOrderedAndProject (per-partition partial top-k, never a full
    global sort); the vocab joins that trim the bigram table
    broadcast (vocab is ≤ ``max_vocab`` rows).  The model is
    reference-free: the reference engine has no LM/classifier surface
    at all (scalar registry is ``add`` only,
    /root/reference/src/dtl/functions.py); extension per SURVEY §2.5.
    """
    corpus = df
    if sample_fraction is not None:
        from python_dtl_spark.operators.sampling import hash_sample

        corpus = hash_sample(
            corpus, id_col, sample_fraction, seed=sample_seed
        )
    toks = corpus.select(
        (
            F.col(tokens_col)
            if tokens_col is not None
            else tokens(F.lower(F.col(text_col)))
        ).alias("__t")
    )
    uni = (
        toks.select(F.explode("__t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    from pyspark.sql import Window

    rank_w = Window.orderBy(F.desc("freq"), F.asc("w"))
    unigram_counts = (
        uni.filter(F.col("freq") >= min_count)
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(F.col("__rn") <= max_vocab)
        .select("w", "freq")
    )
    bi = (
        toks.select(F.explode(_bigram_pairs(F.col("__t"))).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    v1 = unigram_counts.select(F.col("w").alias("w1"))
    v2 = unigram_counts.select(F.col("w").alias("w2"))
    bigram_counts = (
        bi.join(F.broadcast(v1), on="w1")
        .join(F.broadcast(v2), on="w2")
        .select("w1", "w2", "freq")
    )
    return bigram_counts, unigram_counts


def _lm_perplexity_row_local(
    df: DataFrame,
    bigram_counts: DataFrame,
    unigram_counts: DataFrame,
    toks_expr,
    vocab_size: int,
    alpha: float,
    out_col: str,
    max_literal_cells: int,
) -> DataFrame:
    """:func:`lm_perplexity`'s streaming tier: the fitted model as
    PLAN-LITERAL maps (unigram ``w → freq``; bigram nested
    ``w1 → (w2 → freq)`` — nested, so no separator-collision-prone
    string keys) and ONE ``F.aggregate`` fold over the document's
    adjacent pairs accumulating all six outputs in a single struct —
    a pure map stage, legal over an unbounded stream (the join path's
    doc-grain groupBy is a streaming aggregation and its join-back a
    stream self-join).  Same contract as ``nb_apply(row_local=True)``."""
    bigram_rows = bigram_counts.count()
    cells = vocab_size + bigram_rows
    if cells > max_literal_cells:
        raise ValueError(
            f"row_local model has {cells} literal cells ({vocab_size} "
            f"unigrams + {bigram_rows} bigrams) > "
            f"max_literal_cells={max_literal_cells}; use the default "
            "broadcast-join path (foreachBatch on streams) or raise "
            "the cap"
        )
    uni_rows = unigram_counts.collect()
    bi_rows = bigram_counts.collect()
    if uni_rows:
        uni_map = F.create_map(
            *[x for r in uni_rows for x in (F.lit(r["w"]), F.lit(int(r["freq"])))]
        )
    else:
        uni_map = F.lit(None).cast("map<string,bigint>")
    nested: dict[str, dict[str, int]] = {}
    for r in bi_rows:
        nested.setdefault(r["w1"], {})[r["w2"]] = int(r["freq"])
    if nested:
        bi_map = F.create_map(
            *[
                x
                for w1, inner in nested.items()
                for x in (
                    F.lit(w1),
                    F.create_map(
                        *[
                            y
                            for w2, f in inner.items()
                            for y in (F.lit(w2), F.lit(f))
                        ]
                    ),
                )
            ]
        )
    else:
        bi_map = F.lit(None).cast("map<string,map<string,bigint>>")
    denom_pad = alpha * (vocab_size + 1)
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(0.0).alias("ll"),
        zero.alias("n"),
        zero.alias("unseen"),
        zero.alias("oov"),
        zero.alias("sb"),
        zero.alias("sc"),
    )

    def step(acc, p):
        bf = F.element_at(F.element_at(bi_map, p["w1"]), p["w2"])
        cf = F.element_at(uni_map, p["w1"])
        return F.struct(
            (
                acc["ll"]
                + F.log(
                    (F.coalesce(bf, F.lit(0)) + F.lit(alpha))
                    / (F.coalesce(cf, F.lit(0)) + F.lit(denom_pad))
                )
            ).alias("ll"),
            (acc["n"] + 1).alias("n"),
            (acc["unseen"] + F.when(bf.isNull(), 1).otherwise(0)).alias("unseen"),
            (acc["oov"] + F.when(cf.isNull(), 1).otherwise(0)).alias("oov"),
            (acc["sb"] + F.coalesce(bf, F.lit(0))).alias("sb"),
            (acc["sc"] + F.coalesce(cf, F.lit(0))).alias("sc"),
        )

    agg = F.aggregate(_bigram_pairs(toks_expr), init, step)
    return df.select(
        *[F.col(c) for c in df.columns],
        F.coalesce(agg["n"], F.lit(0)).cast("long").alias("n_trans"),
        F.coalesce(agg["unseen"], F.lit(0)).cast("long").alias("n_unseen"),
        F.coalesce(agg["oov"], F.lit(0)).cast("long").alias("n_oov_ctx"),
        F.coalesce(agg["sb"], F.lit(0)).cast("long").alias("sum_bigram_freq"),
        F.coalesce(agg["sc"], F.lit(0)).cast("long").alias("sum_context_freq"),
        F.when(agg["n"] > 0, F.exp(-agg["ll"] / agg["n"])).alias(out_col),
    )


def lm_perplexity(
    df: DataFrame,
    bigram_counts: DataFrame,
    unigram_counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    out_col: str = "perplexity",
    tokens_col: str | None = None,
    row_local: bool = False,
    max_literal_cells: int = 65_536,
) -> DataFrame:
    """Score every document's bigram perplexity under fitted LM
    statistics, appending ``out_col`` plus the EXACT-INTEGER per-doc
    diagnostics that pin the model lookups for hash verification:

    * ``n_trans``       — adjacent-pair transitions in the doc
    * ``n_unseen``      — transitions with no in-vocab bigram count
    * ``n_oov_ctx``     — transitions whose CONTEXT word is OOV
    * ``sum_bigram_freq``  / ``sum_context_freq`` — summed model
      frequencies the scored transitions looked up

    Semantics (replayable in SQL): with vocabulary size ``V`` and
    Laplace ``alpha``, each transition contributes

        log p(w2 | w1) = log((c(w1, w2) + alpha) /
                             (c(w1) + alpha·(V + 1)))

    with ``c = 0`` for unseen bigrams / OOV words (the ``V+1``-th
    pseudo-token, the same smoothing contract as :func:`nb_apply`);
    ``perplexity = exp(-Σ log p / n_trans)``, NULL for docs with
    fewer than two tokens (no transitions — emitting a fake number
    would rank them).  Low perplexity = the model finds the text
    predictable (the CCNet "head" slice).

    The float column is verified against a literal Python reference
    to 1e-9 in unit tests; the DRIVER-hashed catalog row emits the
    integer diagnostics (order-independent exact sums) — the same
    split as ``nb_apply``'s argmax-vs-log_score, because a float sum
    of ``ln`` terms is neither order-stable nor libm-portable.

    Scale shape: row-local pair explode, ONE broadcast join against
    the bigram table, one against the unigram table, ONE doc-grain
    hash aggregation (map-side partials), id join-back — never a
    Python UDF, never a per-transition shuffle.

    ``row_local=True`` is the STREAMING tier (the
    ``nb_apply(row_local=True)`` contract): the fitted model embeds
    as plan-literal maps and each document's six outputs fold in one
    ``F.aggregate`` over its adjacent pairs — a pure map stage with
    zero Exchange/Join/Python (plan-asserted), legal over
    ``readStream`` frames; guarded by ``max_literal_cells``
    (unigram + bigram entries).  Equality-tested against the join
    path.  NOTE: CONSTRUCTING the row-local plan runs small eager
    jobs — a ``count()`` on each model table (the guard decision)
    plus two bounded collects (≤ ``max_literal_cells`` rows total) to
    embed the literals — inherent to plan-literal models; the
    returned frame itself stays lazy.
    """
    for emitted in (
        out_col, "n_trans", "n_unseen", "n_oov_ctx",
        "sum_bigram_freq", "sum_context_freq",
    ):
        if emitted in df.columns:
            raise ValueError(
                f"lm_perplexity emits column {emitted!r} which already "
                "exists on the input; rename or drop it first"
            )
    # internal working names too (advisor r12): an input already
    # carrying __ll/__lm_id would make the join-back ambiguous and
    # surface as an AnalysisException instead of this clear error
    for internal in ("__ll", "__lm_id"):
        if internal in df.columns:
            raise ValueError(
                f"lm_perplexity uses internal working column "
                f"{internal!r} which already exists on the input; "
                "rename or drop it first"
            )
    if not alpha > 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    # Persist the UNIGRAM model table (the dsir_weights r14 precedent,
    # extended here in r20): its computation is a full-corpus
    # tokenize+explode+agg + vocabulary rank, and without the cache it
    # runs once for the vocab_size count here and THREE more times
    # inside the scoring plan (the v1/v2 vocabulary joins trimming the
    # bigram table, plus the ctx broadcast).  The bigram table is NOT
    # persisted on the join path — it appears exactly once in the
    # scoring plan, so a cache would add a materialization job with no
    # reuse (measured +0.5 s on doc_lm_score at sf0.1); the row_local
    # tier persists it too (count + collect = two reads) and
    # unpersists both inline once its literals are collected.  The
    # join tier registers the cache with the shared release registry
    # the bench/oracle harnesses drain.
    from python_dtl_spark.operators.dedup import _release_after

    unigram_counts = unigram_counts.persist()
    vocab_size = unigram_counts.count()  # scalar model size
    toks_expr = (
        F.col(tokens_col)
        if tokens_col is not None
        else tokens(F.lower(F.col(text_col)))
    )
    if row_local:
        bigram_counts = bigram_counts.persist()
        try:
            return _lm_perplexity_row_local(
                df, bigram_counts, unigram_counts, toks_expr, vocab_size,
                alpha, out_col, max_literal_cells,
            )
        finally:
            # literals are embedded in the returned plan; the model
            # caches have no further reader
            bigram_counts.unpersist()
            unigram_counts.unpersist()
    tr = df.select(
        F.col(id_col).alias("__lm_id"),
        F.explode(_bigram_pairs(toks_expr)).alias("p"),
    ).select(
        "__lm_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bi = bigram_counts.select("w1", "w2", F.col("freq").alias("__bf"))
    ctx = unigram_counts.select(
        F.col("w").alias("w1"), F.col("freq").alias("__cf")
    )
    joined = tr.join(F.broadcast(bi), on=["w1", "w2"], how="left").join(
        F.broadcast(ctx), on="w1", how="left"
    )
    denom_pad = alpha * (vocab_size + 1)
    sums = joined.groupBy("__lm_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trans"),
        F.sum(F.when(F.col("__bf").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen"),
        F.sum(F.when(F.col("__cf").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov_ctx"),
        F.sum(F.coalesce("__bf", F.lit(0))).cast("long").alias(
            "sum_bigram_freq"
        ),
        F.sum(F.coalesce("__cf", F.lit(0))).cast("long").alias(
            "sum_context_freq"
        ),
        F.sum(
            F.log(
                (F.coalesce("__bf", F.lit(0)) + F.lit(alpha))
                / (F.coalesce("__cf", F.lit(0)) + F.lit(denom_pad))
            )
        ).alias("__ll"),
    )
    scored = df.join(
        sums, on=df[id_col] == sums["__lm_id"], how="left"
    ).drop("__lm_id")
    out = scored.select(
        *[F.col(c) for c in df.columns],
        F.coalesce("n_trans", F.lit(0)).cast("long").alias("n_trans"),
        F.coalesce("n_unseen", F.lit(0)).cast("long").alias("n_unseen"),
        F.coalesce("n_oov_ctx", F.lit(0)).cast("long").alias("n_oov_ctx"),
        F.coalesce("sum_bigram_freq", F.lit(0))
        .cast("long")
        .alias("sum_bigram_freq"),
        F.coalesce("sum_context_freq", F.lit(0))
        .cast("long")
        .alias("sum_context_freq"),
        F.when(
            F.col("n_trans") > 0, F.exp(-F.col("__ll") / F.col("n_trans"))
        ).alias(out_col),
    )
    return _release_after(out, unigram_counts)


def _dsir_features(toks):
    """A document's DSIR feature multiset, row-locally: word unigrams
    plus adjacent bigrams (joined with a space — tokens are
    whitespace-split, so a bigram string can never collide with a
    unigram) as ONE string array.  Xie et al. 2023 hash exactly this
    feature family into a fixed bucket table."""
    bi = F.transform(
        _bigram_pairs(toks),
        lambda p: F.concat(p["w1"], F.lit(" "), p["w2"]),
    )
    return F.concat(toks, bi)


def dsir_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
    sample_fraction: float | None = None,
    sample_seed: str = "dsirfit",
    tokens_col: str | None = None,
) -> DataFrame:
    """Fit one side of a DSIR importance model: hashed n-gram bucket
    counts (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — the standard "select pretraining data
    that looks like the target domain" recipe).  Call once on the
    TARGET corpus and once on the RAW corpus; feed both tables to
    :func:`dsir_weights`.

    Returns ``(bucket, freq)`` — EXACT INTEGER counts of each
    document's unigram + bigram features hashed into the fixed
    10,000-bucket table (the paper's bucket count; the hash is this
    repo's md5 ``hash_bucket`` recipe, so an ANSI-SQL oracle replays
    the bucketing bit-for-bit).  The model is bucket-count-sized
    (≤ 10,000 rows) whatever the corpus — broadcastable by
    construction.  A NULL feature (only possible from a ``tokens_col``
    holding NULL tokens) has no bucket and counts in no model.

    ``sample_fraction`` is the 100 TB valve (deterministic md5-hash
    document sample, the nb_fit/lm_fit contract); ``seed`` salts the
    FEATURE hash and must match between fit and weights.

    Scale shape: row-local feature explode → ONE bucket-grain hash
    aggregation with map-side partials (≤ 10,000 groups); zero
    Python, zero joins.  Extension operator (the reference has no
    classifier/sampling surface; SURVEY §2.5).
    """
    from python_dtl_spark.operators.sampling import hash_bucket, hash_sample

    corpus = df
    if sample_fraction is not None:
        corpus = hash_sample(
            corpus, id_col, sample_fraction, seed=sample_seed
        )
    toks_expr = (
        F.col(tokens_col)
        if tokens_col is not None
        else tokens(F.lower(F.col(text_col)))
    )
    return (
        corpus.select(F.explode(_dsir_features(toks_expr)).alias("__feat"))
        .select(hash_bucket(F.col("__feat"), seed=seed).alias("bucket"))
        # the filter Spark infers on dsir_weights' model joins: the joins
        # and totals subqueries then plan one fit, and AQE reuses it
        .where(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def dsir_features(
    df: DataFrame,
    target_cond=None,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
    tokens_col: str | None = None,
) -> DataFrame:
    """The SHARED pre-bucketed DSIR feature table (r20): one
    ``(__ds_id, bucket[, __is_t])`` row per unigram/bigram feature
    occurrence, hashed with exactly the expressions
    :func:`dsir_fit_split` and :func:`dsir_weights` use internally.
    ``__is_t`` is emitted only when ``target_cond`` is given (NULL
    conditions count as false, exactly like :func:`dsir_fit_split`'s
    filter).

    The table is a lazy plan, not a cache.  Fed to both
    :func:`dsir_fit_split` and :func:`dsir_weights` (their
    ``features=`` parameter), it gives the fit's target and raw slices
    one identical bucket aggregate, so AQE computes its shuffle once and
    reuses it for the other slice; the scoring side explodes the
    documents once more.  A cache here would cost that reuse: AQE wraps
    each read of a cached relation in its own table-cache stage, and
    exchanges above two different stages never canonicalize equal.
    Without the cache, all four catalog DSIR rows measured as fast or
    faster at sf0.01 and sf0.1 on 4 vCPUs."""
    from python_dtl_spark.operators.sampling import hash_bucket

    toks_expr = (
        F.col(tokens_col)
        if tokens_col is not None
        else tokens(F.lower(F.col(text_col)))
    )
    cols = [
        F.col(id_col).alias("__ds_id"),
        F.explode(_dsir_features(toks_expr)).alias("__feat"),
    ]
    flag = (
        [F.coalesce(target_cond, F.lit(False)).alias("__is_t")]
        if target_cond is not None
        else []
    )
    return df.select(*cols, *flag).select(
        "__ds_id",
        hash_bucket(F.col("__feat"), seed=seed).alias("bucket"),
        *(["__is_t"] if target_cond is not None else []),
    )


def dsir_fit_split(
    df: DataFrame,
    target_cond,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: str = "dsir",
    tokens_col: str | None = None,
    features: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fit BOTH DSIR models in ONE corpus pass (r20): the common
    "target = a condition over the raw corpus" case (e.g. ``source ==
    'src1'``) called :func:`dsir_fit` twice — once on the filtered
    slice, once on the full frame — tokenizing the target slice's
    documents twice and running two full explode+agg jobs.  One pass
    counts every feature once with a target flag; the target model is
    the ``freq_t > 0`` slice, the raw model the full count.  Row sets,
    values and dtypes are identical to the two-call form by
    construction (a bucket appears in the target model iff a target
    document contributed a feature to it; NULL conditions count as
    false, exactly like the filter).

    Returns ``(target_counts, raw_counts)``, both lazy slices of one
    bucket-grain aggregate.  Nothing is cached: a cache above the
    shuffle would keep ``spark.sql.shuffle.partitions`` partitions on
    every read of a ≤ 10,000-row model.  Both counts are fields of one
    struct column and each slice filters on its own field, so column
    pruning leaves the same aggregate under both: inside one
    :func:`dsir_weights` plan the two slices compute one shuffle.

    ``features``: a :func:`dsir_features` table (MUST carry
    ``__is_t``, i.e. be built with the same ``target_cond``, and the
    same ``seed``) — the fit then aggregates its pre-bucketed rows
    instead of building the same explode+md5 expressions from ``df``.
    """
    from python_dtl_spark.operators.sampling import hash_bucket

    if features is not None:
        if "__is_t" not in features.columns:
            raise ValueError(
                "dsir_fit_split(features=...) needs the __is_t flag — "
                "build the table with dsir_features(df, target_cond)"
            )
        bucketed = features.select("bucket", "__is_t")
    else:
        toks_expr = (
            F.col(tokens_col)
            if tokens_col is not None
            else tokens(F.lower(F.col(text_col)))
        )
        bucketed = df.select(
            F.explode(_dsir_features(toks_expr)).alias("__feat"),
            F.coalesce(target_cond, F.lit(False)).alias("__is_t"),
        ).select(
            hash_bucket(F.col("__feat"), seed=seed).alias("bucket"), "__is_t"
        )
    # NOT NULL bucket: the dsir_fit filter, for the same shuffle reuse.
    # The counts are fields of ONE aggregate column, and each slice
    # filters on its field (the raw filter is always true): without a
    # filter, the optimizer would fold the projected field back into a
    # pruned aggregate, and the slices would shuffle separately.
    both = (
        bucketed.where(F.col("bucket").isNotNull()).groupBy("bucket")
        .agg(
            F.struct(
                F.count(F.lit(1)).cast("long").alias("all"),
                F.sum(F.when(F.col("__is_t"), 1).otherwise(0))
                .cast("long")
                .alias("t"),
            ).alias("__freq")
        )
    )
    tc = both.filter(F.col("__freq.t") > 0).select(
        "bucket", F.col("__freq.t").alias("freq")
    )
    rc = both.filter(F.col("__freq.all") > 0).select(
        "bucket", F.col("__freq.all").alias("freq")
    )
    return tc, rc


def _dsir_weights_row_local(
    df: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    toks_expr,
    alpha: float,
    seed: str,
    out_col: str,
    max_literal_cells: int,
) -> DataFrame:
    """:func:`dsir_weights`'s STREAMING tier: both fitted bucket
    models as PLAN-LITERAL ``bucket → freq`` maps (each ≤ 10,000
    entries by construction — the paper's bucket table bounds the
    plan) and ONE ``F.aggregate`` fold over the document's
    unigram+bigram features accumulating all six outputs in a single
    struct — a pure map stage, legal over an unbounded ``readStream``
    (the join path's doc-grain groupBy is a streaming aggregation and
    its join-back a stream self-join).  Same contract as
    ``nb_apply(row_local=True)`` / ``lm_perplexity(row_local=True)``;
    model totals come from the same collected rows, so the tier costs
    no extra jobs."""
    from python_dtl_spark.operators.sampling import _BUCKETS, hash_bucket

    t_rows = target_counts.collect()
    r_rows = raw_counts.collect()
    cells = len(t_rows) + len(r_rows)
    if cells > max_literal_cells:
        raise ValueError(
            f"row_local model has {cells} literal cells ({len(t_rows)} "
            f"target + {len(r_rows)} raw buckets) > "
            f"max_literal_cells={max_literal_cells}; use the default "
            "broadcast-join path (foreachBatch on streams) or raise "
            "the cap"
        )
    t_total = sum(int(r["freq"]) for r in t_rows)
    r_total = sum(int(r["freq"]) for r in r_rows)
    t_denom = t_total + alpha * _BUCKETS
    r_denom = r_total + alpha * _BUCKETS

    def _freq_map(rows):
        if not rows:
            return F.lit(None).cast("map<bigint,bigint>")
        return F.create_map(
            *[
                x
                for r in rows
                for x in (
                    F.lit(int(r["bucket"])).cast("long"),
                    F.lit(int(r["freq"])).cast("long"),
                )
            ]
        )

    t_map = _freq_map(t_rows)
    r_map = _freq_map(r_rows)
    zero = F.lit(0).cast("long")
    init = F.struct(
        zero.alias("n"),
        zero.alias("st"),
        zero.alias("sr"),
        zero.alias("ut"),
        zero.alias("ur"),
        F.lit(0.0).alias("dw"),
    )

    # Stage the per-feature work in two transforms so each feature's
    # md5 bucket and the two map probes evaluate ONCE: expressions
    # inside a fold step are not common-subexpression-eliminated, so
    # referencing tf/rf six times in the accumulator would re-run the
    # md5 + element_at six times per feature (measured 5× slower).
    feats_arr = _dsir_features(toks_expr)
    lookups = F.transform(
        F.transform(feats_arr, lambda f: hash_bucket(f, seed=seed)),
        lambda b: F.struct(
            F.element_at(t_map, b).alias("tf"),
            F.element_at(r_map, b).alias("rf"),
        ),
    )

    def step(acc, p):
        tf, rf = p["tf"], p["rf"]
        return F.struct(
            (acc["n"] + 1).alias("n"),
            (acc["st"] + F.coalesce(tf, F.lit(0))).alias("st"),
            (acc["sr"] + F.coalesce(rf, F.lit(0))).alias("sr"),
            (acc["ut"] + F.when(tf.isNull(), 1).otherwise(0)).alias("ut"),
            (acc["ur"] + F.when(rf.isNull(), 1).otherwise(0)).alias("ur"),
            (
                acc["dw"]
                + F.log(
                    (F.coalesce(tf, F.lit(0)) + F.lit(alpha))
                    / F.lit(t_denom)
                )
                - F.log(
                    (F.coalesce(rf, F.lit(0)) + F.lit(alpha))
                    / F.lit(r_denom)
                )
            ).alias("dw"),
        )

    agg = F.aggregate(lookups, init, step)
    return df.select(
        *[F.col(c) for c in df.columns],
        F.coalesce(agg["n"], F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce(agg["st"], F.lit(0)).cast("long").alias(
            "sum_target_freq"
        ),
        F.coalesce(agg["sr"], F.lit(0)).cast("long").alias("sum_raw_freq"),
        F.coalesce(agg["ut"], F.lit(0)).cast("long").alias(
            "n_unseen_target"
        ),
        F.coalesce(agg["ur"], F.lit(0)).cast("long").alias("n_unseen_raw"),
        F.coalesce(agg["dw"], F.lit(0.0)).alias(out_col),
    )


def dsir_weights(
    df: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    seed: str = "dsir",
    out_col: str = "log_weight",
    tokens_col: str | None = None,
    row_local: bool = False,
    max_literal_cells: int = 65_536,
    features: DataFrame | None = None,
) -> DataFrame:
    """Score every document's DSIR log importance weight under fitted
    target/raw bucket models, appending ``out_col`` plus the
    EXACT-INTEGER per-doc diagnostics that pin every model lookup for
    hash verification (the ``lm_perplexity`` split: the float is a
    sum of ln() terms — neither order-stable nor libm-portable — so a
    driver row hashes the integers and the float is unit-tested
    against a literal reference):

    * ``n_feats``           — unigram + bigram features in the doc
    * ``sum_target_freq``   / ``sum_raw_freq`` — summed bucket counts
      the doc's features looked up in each model
    * ``n_unseen_target``   / ``n_unseen_raw`` — features hashing to
      buckets absent from each model

    Semantics (replayable in SQL): with bucket count ``B = 10000``
    and Laplace ``alpha``, each feature ``f`` with bucket counts
    ``t_f`` (target) and ``r_f`` (raw) contributes

        log w += log((t_f + alpha) / (T + alpha·B))
                - log((r_f + alpha) / (R + alpha·B))

    where ``T``/``R`` are the models' total counts (two scalar
    subqueries of the scoring plan over the ≤ 10,000-row models).  High
    ``log_weight`` = the document looks like the target domain.  A
    document with no features scores 0.0 (an empty product ratio).

    Scale shape: row-local feature explode → ONE broadcast join
    against each ≤ 10,000-row bucket model → one doc-grain hash
    aggregation (map-side partials) → id join-back; never a Python
    UDF, never a per-feature shuffle — the audited nb_apply /
    lm_perplexity shape.  The join tier is fully lazy: building it
    runs no Spark job and caches nothing.

    ``row_local=True`` is the STREAMING tier (the
    ``nb_apply``/``lm_perplexity`` row_local contract): both fitted
    models embed as plan-literal ``bucket → freq`` maps (each
    ≤ 10,000 entries by construction) and the whole score is ONE
    ``F.aggregate`` fold per row — zero Exchange, zero join, legal
    over unbounded ``readStream`` frames; guarded by
    ``max_literal_cells``.  Identical output to the join tier
    (integer diagnostics exactly, the float to summation-order
    precision — equality-tested).

    ``features``: a :func:`dsir_features` table built from THIS ``df``
    with the same ``seed`` — the scoring pass then reads the same
    pre-bucketed plan as the fit (a lazy plan, so it still explodes the
    corpus itself; ignored by the ``row_local`` tier, which embeds
    models in expressions).
    """
    from python_dtl_spark.operators.sampling import _BUCKETS, hash_bucket

    for emitted in (
        out_col, "n_feats", "sum_target_freq", "sum_raw_freq",
        "n_unseen_target", "n_unseen_raw",
    ):
        if emitted in df.columns:
            raise ValueError(
                f"dsir_weights emits column {emitted!r} which already "
                "exists on the input; rename or drop it first"
            )
    for internal in ("__ds_id", "__dw"):
        if internal in df.columns:
            raise ValueError(
                f"dsir_weights uses internal working column "
                f"{internal!r} which already exists on the input; "
                "rename or drop it first"
            )
    if not alpha > 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    if row_local:
        return _dsir_weights_row_local(
            df,
            target_counts,
            raw_counts,
            (
                F.col(tokens_col)
                if tokens_col is not None
                else tokens(F.lower(F.col(text_col)))
            ),
            alpha,
            seed,
            out_col,
            max_literal_cells,
        )
    # Model totals T/R as scalar subqueries: the scoring plan computes
    # them, with no driver round trip; the denominator stays the double
    # ``total + alpha·B``.
    def _denom(model):
        total = model.agg(F.coalesce(F.sum("freq"), F.lit(0))).scalar()
        return total + F.lit(alpha * _BUCKETS)

    t_denom = _denom(target_counts)
    r_denom = _denom(raw_counts)
    if features is not None:
        feats = features.select("__ds_id", "bucket")
    else:
        toks_expr = (
            F.col(tokens_col)
            if tokens_col is not None
            else tokens(F.lower(F.col(text_col)))
        )
        feats = df.select(
            F.col(id_col).alias("__ds_id"),
            F.explode(_dsir_features(toks_expr)).alias("__feat"),
        ).select(
            "__ds_id", hash_bucket(F.col("__feat"), seed=seed).alias("bucket")
        )
    tgt = target_counts.select("bucket", F.col("freq").alias("__tf"))
    raw = raw_counts.select("bucket", F.col("freq").alias("__rf"))
    joined = (
        feats.join(F.broadcast(tgt), on="bucket", how="left")
        .join(F.broadcast(raw), on="bucket", how="left")
        .select(
            "__ds_id",
            "__tf",
            "__rf",
            (
                F.log((F.coalesce("__tf", F.lit(0)) + F.lit(alpha)) / t_denom)
                - F.log(
                    (F.coalesce("__rf", F.lit(0)) + F.lit(alpha)) / r_denom
                )
            ).alias("__lw"),
        )
    )
    sums = joined.groupBy("__ds_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_feats"),
        F.sum(F.coalesce("__tf", F.lit(0))).cast("long").alias(
            "sum_target_freq"
        ),
        F.sum(F.coalesce("__rf", F.lit(0))).cast("long").alias(
            "sum_raw_freq"
        ),
        F.sum(F.when(F.col("__tf").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen_target"),
        F.sum(F.when(F.col("__rf").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_unseen_raw"),
        F.sum("__lw").alias("__dw"),
    )
    scored = df.join(
        sums, on=df[id_col] == sums["__ds_id"], how="left"
    ).drop("__ds_id")
    return scored.select(
        *[F.col(c) for c in df.columns],
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        F.coalesce("sum_target_freq", F.lit(0))
        .cast("long")
        .alias("sum_target_freq"),
        F.coalesce("sum_raw_freq", F.lit(0))
        .cast("long")
        .alias("sum_raw_freq"),
        F.coalesce("n_unseen_target", F.lit(0))
        .cast("long")
        .alias("n_unseen_target"),
        F.coalesce("n_unseen_raw", F.lit(0))
        .cast("long")
        .alias("n_unseen_raw"),
        F.coalesce("__dw", F.lit(0.0)).alias(out_col),
    )
