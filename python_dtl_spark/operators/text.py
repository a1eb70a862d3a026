"""Text-analysis operators over document tables.

All operators are built exclusively from ``pyspark.sql.functions`` —
no Python UDFs — so they run inside whole-stage codegen and scale
linearly with partitions.  Each has a matching ANSI-SQL oracle in
``__spark_entry__.oracle_sql`` where the semantics are SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from python_dtl_spark.operators.partitioning import spread

# Marker stopwords per language for the n-gram/keyword language-ID
# heuristic.  Deterministic and intentionally simple: the score is the
# number of marker-token occurrences; ties break by language code order.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "das"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "les", "des", "est", "une"],
    "zh": ["de", "shi", "bu", "le", "wo"],
}

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "by", "at", "from",
]


def tokens(text_col: Column) -> Column:
    """Whitespace tokenization → array<string> without empty tokens."""
    return F.filter(
        F.split(F.trim(text_col), r"\s+"), lambda t: t != F.lit("")
    )


def token_count(
    df: DataFrame, text_col: str = "text", tokens_col: str | None = None
) -> DataFrame:
    """Whitespace token count per document.  Pass ``tokens_col`` to
    count a pre-tokenized array instead of re-splitting ``text_col`` —
    pipelines that tokenize once and thread the array through several
    stages avoid one full regex pass per stage."""
    src = F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    return df.withColumn("n_tokens", F.size(src).cast("long"))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sub-word token-count estimate: words (runs of alphanumerics) plus
    standalone punctuation marks, scaled by the usual ~1.3 BPE fertility
    factor — a deterministic stand-in for a real BPE tokenizer."""
    words = F.size(
        F.filter(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != F.lit("")
        )
    ).cast("long")
    punct = F.length(F.regexp_replace(F.col(text_col), r"[a-zA-Z0-9\s]", "")).cast("long")
    return df.withColumn(
        "n_tokens_bpe", F.ceil(words.cast("double") * F.lit(1.3)).cast("long") + punct
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality-scoring features: lengths, word stats,
    punctuation/stopword ratios and a composite score in [0, 1].

    Every feature is exact integer/float arithmetic over counts, so a
    SQL oracle reproduces it bit-for-bit.

    The token array is staged as a temporary column: inlined, every
    n_words/n_stop reference would re-run the split (once per
    downstream expression mentioning it).
    """
    text = F.col(text_col)
    df = df.withColumn("__toks_q", tokens(text))
    toks = F.col("__toks_q")
    n_chars = F.length(text).cast("long")
    n_words = F.size(toks).cast("long")
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).cast("long")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    n_stop = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t)))
    ).cast("long")
    # exact mean token length (sum of token lengths / count): the
    # closed form (n_chars - (n_words-1)) / n_words assumes single-
    # space-joined trimmed text and inflates on ragged whitespace
    # ('  hi  ' would read 6.0 instead of 2.0); gopher_quality_flags
    # computes the same-named column exactly, so this must too
    sum_wlen = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = F.when(n_words > 0, sum_wlen / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    # composite: reward stopword presence and moderate length; penalize
    # heavy punctuation.  Clamped to [0, 1].
    raw = (
        F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.2)
    )
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("n_punct", n_punct)
        .withColumn("n_stopwords", n_stop)
        .withColumn("mean_word_len", mean_word_len)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn("quality_score", raw)
        .drop("__toks_q")
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language identification via marker-token counting.

    Scores each candidate language by total occurrences of its marker
    tokens; the argmax wins, ties broken by language-code order, zero
    evidence → 'und'.  A crude n-gram-free heuristic, but fully
    deterministic and whole-stage-codegen friendly.

    Tokens and per-language scores are staged as temporary columns:
    inlined, the argmax when-chain references each score twice and each
    score references the token array once, so every row would
    re-tokenize ~3x per candidate language.
    """
    df = df.withColumn(
        "__ltoks", F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    )
    langs = sorted(LANG_MARKERS)
    for lang in langs:
        markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
        df = df.withColumn(
            f"__score_{lang}",
            F.size(F.filter(F.col("__ltoks"), lambda t: F.array_contains(markers, t))),
        )
    scores = [(lang, F.col(f"__score_{lang}")) for lang in langs]
    best_score = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    for lang, score in reversed(scores):
        pred = F.when(score == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score > 0, pred).otherwise(F.lit("und"))
    return df.withColumn("pred_lang", pred).drop(
        "__ltoks", *[f"__score_{lang}" for lang in langs]
    )


def fingerprint_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-content fingerprint: md5 over the normalized text
    (lowercased, whitespace collapsed)."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(normalized.cast("binary")))


def rolling_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling fingerprint over the token stream:
    polynomial rolling hash mod 2^31-1, base 31; per-token hash is the
    first 8 hex digits of md5 (< 2^32).

    The modulus keeps every intermediate below 2^36, so the fold is
    safe under Spark's default ANSI overflow checking.  md5 (rather
    than the faster xxhash64) makes the whole fingerprint
    engine-portable: DuckDB replays it exactly with list_reduce over
    the same per-token hash, so the operator carries a full value
    oracle instead of a rows-only check.
    """
    p = F.lit((1 << 31) - 1).cast("long")
    toks = tokens(F.col(text_col))
    tok_hash = lambda t: F.conv(  # noqa: E731
        F.substring(F.md5(t.cast("binary")), 1, 8), 16, 10
    ).cast("long") % p
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(31).cast("long") + tok_hash(t)) % p,
    )
    return df.withColumn("rolling_fp", fp)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the standard context-window preparation step of a training-data
    pipeline.

    Chunk starts are ``1, 1+stride, 1+2*stride, ...`` (stride =
    chunk_size - overlap) up to ``max(len - overlap, 1)``, so every
    chunk except possibly the last is full-size, consecutive chunks
    share ``overlap`` characters, and a short (or empty) document still
    yields exactly one chunk.  Entirely JVM-side: ``sequence`` +
    ``posexplode`` + ``substring`` — the 1:N fan-out happens inside
    whole-stage codegen, no Python, no shuffle.

    Output: id, chunk_index (0-based), chunk_start (1-based),
    chunk_text.
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    if not 0 <= overlap < chunk_size:
        # a negative overlap would silently skip stride-chunk_size
        # characters between consecutive chunks
        raise ValueError(
            f"overlap ({overlap}) must be in [0, chunk_size ({chunk_size}))"
        )
    stride = chunk_size - overlap
    length = F.length(F.col(text_col))
    starts = F.sequence(
        F.lit(1), F.greatest(length - F.lit(overlap), F.lit(1)), F.lit(stride)
    )
    exploded = df.select(
        F.col(id_col),
        F.col(text_col).alias("__text"),
        F.posexplode(starts).alias("chunk_index", "chunk_start"),
    )
    return exploded.select(
        id_col,
        F.col("chunk_index").cast("long").alias("chunk_index"),
        F.col("chunk_start").cast("long").alias("chunk_start"),
        F.substring(
            F.col("__text"), F.col("chunk_start"), F.lit(chunk_size)
        ).alias("chunk_text"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    Classic shape: explode tokens → term frequency per (doc, term) →
    document frequency per term → idf = ln((N+1)/(df+1)) with N joined
    in as a broadcast single-row aggregate (no driver action) → rank
    per doc by score with deterministic (score DESC, term ASC)
    tie-breaking.  Three shuffles — the (doc, term) aggregation, the
    per-term repartition, and the per-doc ranking window: document
    frequency is corpus-wide, so it cannot stay co-partitioned with
    the per-doc data.

    Document frequency is an unordered ``count(*) OVER (PARTITION BY
    term)`` on the tf rows rather than a ``groupBy(term)`` + join back
    (r21): the grouped form re-derived tf on its aggregate branch —
    Catalyst prunes the count column there, so the two tf subtrees are
    canonically different and the exchange is NOT reused (probed r20:
    forcing ``count(tf)`` produced no ReusedExchange, and persisting
    tf measured as a loss) — which ran the corpus tokenize+explode+
    aggregate TWICE per query.  The window computes the identical df
    on the single tf pass (count over an unordered partition, no
    join): one fewer corpus pass and one fewer exchange.  It is not
    sort-free — ``WindowExec`` still sorts each partition on ``term``
    — and it has no map-side partial count: every tf row of a term
    lands in one window task, so a hot (stopword-class) term that
    occurs in nearly every document makes that task corpus-sized
    (single-task skew, spill).  Where hot terms are realistic, a
    salted two-level count or the ``groupBy`` form avoids the skew.

    Deliberately NOT ``spread()`` (round-6 tried it, round-7 probed
    it): unlike the census, whose md5-per-window map stage dominates
    and parallelizes 2.6× under spread, tfidf's pre-shuffle work is a
    light tokenize+explode and the (doc, term) aggregation's own
    Exchange already redistributes everything after one narrow scan —
    measured at sf0.1 (1.51s→0.95s) AND 8× (3.40s→1.49s), dropping
    the spread wins at both.  At real scale (files >> cores) spread
    is a no-op either way, so this only affects narrow local scans.
    """
    from pyspark.sql.functions import broadcast

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("__n")
    )
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .join(broadcast(n_docs), how="cross")
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log((F.col("__n") + 1).cast("double") / (F.col("df") + 1)),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "rank", F.round("tfidf", 6).alias("tfidf"))
    )


def pack_token_budget(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 2048,
    num_groups: int = 1024,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Assign documents to fixed-budget training sequences
    (concat-and-chunk packing).

    Documents are spread across ``num_groups`` hash groups (the unit of
    parallelism — at 100 TB each group packs independently on its own
    partition); within a group they are ordered by id and packed by
    cumulative token count: a document starting before a budget
    boundary joins that bin, so bins can overrun by at most one
    document — exactly the concatenate-then-cut scheme most LLM data
    pipelines use, and unlike greedy first-fit it is a pure window
    expression (no sequential state, no Python).

    Deterministic under any input partitioning: group assignment is an
    md5 hash of the id (engine-portable, same scheme as
    ``sampling.hash_bucket``), order within the group is by id.
    Output: id, pack_group, seq_index (bin within group), seq_offset
    (token offset of this doc within its bin's stream), plus any
    ``keep_cols`` threaded through unchanged (so emission can carry
    the text without a re-join against the source — a join back would
    trip Spark's ambiguous-self-join detection and re-shuffle).
    """
    # keep_cols also re-exposes token_col (emission sums it); with no
    # keeps the output schema is unchanged from the original contract.
    # id_col/token_col are already in the output, so listing them again
    # would emit duplicate columns and make every downstream by-name
    # reference AMBIGUOUS_REFERENCE — reject rather than dedupe
    # silently.
    if keep_cols:
        overlap = {id_col, token_col} & set(keep_cols)
        if overlap:
            raise ValueError(
                f"keep_cols {sorted(overlap)} already in the output "
                "(id/token columns are always emitted)"
            )
    extra = [token_col, *keep_cols] if keep_cols else []
    h = F.md5(F.col(id_col).cast("string").cast("binary"))
    grp = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % num_groups
    ).alias("pack_group")
    w = (
        Window.partitionBy("pack_group")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum(F.col(token_col)).over(w)
    start = (cum - F.col(token_col)).cast("long")
    return df.select(
        F.col(id_col),
        F.col(token_col),
        grp,
        *[F.col(c) for c in (keep_cols or [])],
    ).select(
        id_col,
        "pack_group",
        F.floor(start / F.lit(budget)).cast("long").alias("seq_index"),
        F.pmod(start, F.lit(budget)).cast("long").alias("seq_offset"),
        *[F.col(c) for c in extra],
    )


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_type_token_ratio: float = 0.3,
    max_top_word_frac: float = 0.12,
    min_stopword_hits: int = 1,
    tokens_col: str | None = None,
    append: bool = False,
) -> DataFrame:
    """Gopher-style per-document quality rules (Rae et al. 2021, "Scaling
    Language Models: ... Gopher" §A1.1), restricted to the word-shape
    subset that is meaningful for whitespace corpora: word-count bounds,
    mean word length, type-token ratio, most-frequent-word dominance and
    stopword presence.  Every feature is an exact integer ratio (int/int
    in double), so rule thresholds compare bit-identically across
    engines — no float-summation hazard anywhere.

    All whole-stage-codegen built-ins (split/filter/transform/aggregate
    over the token array); per-row cost is O(distinct_words x n_words)
    for the dominance rule, row-local, no shuffle.  At 100 TB this is a
    pure map stage that pipelines with whatever scan precedes it.

    The token and distinct-token arrays are materialized as their own
    projection first: inlined, every lambda reference would re-run
    split+regex (the dominance rule alone references the token array
    once per distinct word).  CollapseProject keeps the stages apart
    because the aliases are expensive and multiply referenced.

    ``tokens_col`` names a pre-tokenized array column to use instead of
    splitting ``text_col`` — the shared-tokenization path for pipelines
    that run several token-consuming stages over one projection.
    ``append`` returns ALL input columns plus the feature/rule columns
    (instead of id + features), so a pipeline can filter on ``keep``
    and continue with its staged columns without a join back.
    """
    toks = F.col("__gq_toks")
    distinct_toks = F.col("__gq_dtoks")
    if append:
        base_cols = [F.col(c) for c in df.columns]
    else:
        base_cols = [F.col(id_col)]
    toks_src = (
        F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    )
    staged = df.select(*base_cols, toks_src.alias("__gq_toks")).select(
        *base_cols, toks, F.array_distinct(toks).alias("__gq_dtoks")
    )
    n_words = F.size(toks).cast("long")
    mean_wlen = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
        .cast("double")
        / F.greatest(n_words, F.lit(1)).cast("double")
    )
    ttr = F.size(distinct_toks).cast("double") / F.greatest(n_words, F.lit(1)).cast(
        "double"
    )
    # top-word count = longest run of equal values in the SORTED token
    # array — one O(n log n) sort + one O(n) fold, replacing the r3
    # O(distinct × n) transform(distinct, w -> size(filter(toks, ==w)))
    # (higher-order lambdas are interpreted per element, so the
    # quadratic form dominated every gopher pass; measured r20 at
    # sf0.1: 0.90 s -> 0.52 s for this column alone, value-identical
    # corpus-wide).  NULL/empty arrays keep the old NULL result (the
    # emitted top_word_frac must stay NULL, not 0.0).
    sorted_toks = F.array_sort(toks)
    _run0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def _run_step(acc, t):
        run = F.when(
            acc["prev"].eqNullSafe(t), acc["run"] + F.lit(1).cast("long")
        ).otherwise(F.lit(1).cast("long"))
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.when(
        F.size(toks) > 0,
        F.aggregate(sorted_toks, _run0, _run_step, lambda acc: acc["best"]),
    )
    top_frac = top_count.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stop_hits = F.size(
        F.filter(distinct_toks, lambda t: F.array_contains(stop_arr, F.lower(t)))
    ).cast("long")

    # every rule coalesces to false for NULL text: size(NULL)=NULL
    # would otherwise make every feature, rule and ``keep`` NULL, and a
    # pipeline splitting on filter(keep) / filter(NOT keep) would lose
    # the doc from BOTH branches (the same hazard blocklist_flags
    # guards).  A NULL doc is REJECTED, auditable, never invisible.
    rule_words = F.coalesce(
        (n_words >= min_words) & (n_words <= max_words), F.lit(False)
    )
    rule_wlen = F.coalesce(
        (mean_wlen >= min_mean_word_len) & (mean_wlen <= max_mean_word_len),
        F.lit(False),
    )
    rule_ttr = F.coalesce(ttr >= min_type_token_ratio, F.lit(False))
    rule_top = F.coalesce(top_frac <= max_top_word_frac, F.lit(False))
    rule_stop = F.coalesce(stop_hits >= min_stopword_hits, F.lit(False))
    return staged.select(
        *base_cols,
        n_words.alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        ttr.alias("type_token_ratio"),
        top_frac.alias("top_word_frac"),
        stop_hits.alias("stopword_hits"),
        rule_words.alias("rule_word_count"),
        rule_wlen.alias("rule_word_len"),
        rule_ttr.alias("rule_ttr"),
        rule_top.alias("rule_top_word"),
        rule_stop.alias("rule_stopwords"),
        (rule_words & rule_wlen & rule_ttr & rule_top & rule_stop).alias("keep"),
    )


def repetition_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    append: bool = False,
) -> DataFrame:
    """WITHIN-document repetition rules — the other half of Gopher's
    §A1.1 repetition battery (Rae et al. 2021) beside
    :func:`ngram_dominance`'s top-n-gram share: the fraction of a
    document's lines / paragraphs that are duplicates of an earlier
    instance, and the fraction of its characters inside those
    duplicate instances.  Boilerplate listings, scraper loops and
    template spam repeat whole lines; Gopher drops documents past
    30% duplicate lines/paragraphs or 20% duplicate characters
    (the defaults here).

    Definitions (each an exact integer ratio — instances beyond the
    FIRST occurrence of a value are its duplicates, the Dolma /
    NeMo-Curator reading of the Gopher rules):

    * ``dup_line_frac``  = (n_lines − n_distinct_lines) / n_lines
    * ``dup_line_char_frac`` = Σ_{line values v with count>1}
      (count(v)−1)·len(v) / Σ len(line) — characters in the duplicate
      instances over all line characters
    * ``dup_para_frac`` / ``dup_para_char_frac`` — the same over
      paragraphs (``\\n{2,}`` blocks; lines split on single
      newlines).  Whitespace-only lines/paragraphs are structural
      separators, not content — excluded from every count.
      "Whitespace" is the explicit set space/tab/LF/CR, tested with
      the regex class ``[^ \\t\\n\\r]`` on BOTH engines (``trim``
      strips spaces only in Spark and DuckDB alike, which silently
      counted a paragraph like ``"\\n "`` — whitespace-only but with
      an interior newline — as content; hypothesis found the case,
      r16 fix.  ``\\S`` is avoided because Java and RE2 disagree on
      vertical tab).

    ``keep`` is true iff all four ratios pass their thresholds; a
    NULL/empty/newline-free doc has one paragraph and one line —
    nothing repeats, all ratios 0, keep=true (a SINGLE-line doc
    cannot trip a within-doc repetition rule by definition; route
    NULL-text rejection through :func:`gopher_quality_flags`, whose
    word rules already reject it).  ``append`` mirrors
    :func:`gopher_quality_flags`: all input columns plus the
    feature/rule columns.

    Scale shape: ENTIRELY row-local — two array splits + per-value
    count folds (O(distinct × n) per doc, the
    :func:`gopher_quality_flags` dominance-rule idiom) inside
    whole-stage codegen; zero exchanges, zero Python.  At 100 TB this
    is a pure map stage that pipelines with the scan."""
    if append:
        base_cols = [F.col(c) for c in df.columns]
    else:
        base_cols = [F.col(id_col)]

    def _metrics(arr):
        n = F.size(arr).cast("long")
        dist = F.array_distinct(arr)
        n_dist = F.size(dist).cast("long")
        dup_frac = F.when(
            n > 0, (n - n_dist).cast("double") / n.cast("double")
        ).otherwise(F.lit(0.0))
        total_chars = F.aggregate(
            arr, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        )
        dup_chars = F.aggregate(
            dist,
            F.lit(0).cast("long"),
            lambda a, v: a
            + F.when(
                F.size(F.filter(arr, lambda x: x == v)) > 1,
                (F.size(F.filter(arr, lambda x: x == v)) - 1).cast("long")
                * F.length(v).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        dup_char_frac = F.when(
            total_chars > 0,
            dup_chars.cast("double") / total_chars.cast("double"),
        ).otherwise(F.lit(0.0))
        return n, dup_frac, dup_char_frac

    content = "[^ \t\n\r]"
    paras_src = F.filter(
        F.split(F.col(text_col), r"\n{2,}"), lambda p: p.rlike(content)
    )
    lines_src = F.filter(
        F.split(F.col(text_col), r"\n"), lambda l: l.rlike(content)
    )
    staged = df.select(
        *base_cols,
        F.coalesce(lines_src, F.array().cast("array<string>")).alias("__rl_lines"),
        F.coalesce(paras_src, F.array().cast("array<string>")).alias("__rl_paras"),
    )
    n_lines, dlf, dlcf = _metrics(F.col("__rl_lines"))
    n_paras, dpf, dpcf = _metrics(F.col("__rl_paras"))
    rule_l = F.coalesce(dlf <= max_dup_line_frac, F.lit(False))
    rule_p = F.coalesce(dpf <= max_dup_para_frac, F.lit(False))
    rule_lc = F.coalesce(dlcf <= max_dup_line_char_frac, F.lit(False))
    rule_pc = F.coalesce(dpcf <= max_dup_para_char_frac, F.lit(False))
    return staged.select(
        *base_cols,
        n_lines.alias("n_lines"),
        dlf.alias("dup_line_frac"),
        dlcf.alias("dup_line_char_frac"),
        n_paras.alias("n_paras"),
        dpf.alias("dup_para_frac"),
        dpcf.alias("dup_para_char_frac"),
        (rule_l & rule_p & rule_lc & rule_pc).alias("keep"),
    )


def char_concentration_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_simpson_x1000: int = 100,
    max_top_char_x1000: int = 250,
    min_chars: int = 20,
    append: bool = False,
) -> DataFrame:
    """Character-distribution junk-blob filter (registered r16 as
    ``doc_char_concentration``): flag documents whose CHARACTER
    distribution is pathologically concentrated — repeated-character
    runs, base64/hex blobs with one dominant glyph, scraper padding,
    binary junk that survived text extraction.  The CCNet/RefinedWeb
    recipes use character-entropy cuts for this; entropy is a log-sum
    whose last-ULP rounding differs between engines, so this operator
    uses the EXACT-RATIONAL equivalent the r15 staging note designed:
    **Simpson concentration** ``Σ c·(c−1) / (n·(n−1))`` (the
    probability two randomly drawn characters are equal — the
    Gini–Simpson / Herfindahl index, monotone against Rényi-2 entropy
    ``H₂ = −log Σ pᵢ²``), computed entirely in BIGINT arithmetic.

    Emitted metrics, every one an exact integer (no floats anywhere —
    a threshold like 0.10 is carried as the permille integer 100 and
    compared as ``1000·num ≤ thr·n·(n−1)``):

    * ``n_chars``          — character count after dropping the
      empty-string split artifacts (Spark ``split('','')`` yields
      ``[]``, DuckDB ``['']`` — both sides filter ``''``).
    * ``n_distinct_chars`` — alphabet size of the document.
    * ``simpson_num``      — ``Σ_chars c·(c−1)``; divide by
      ``n·(n−1)`` to read the concentration.
    * ``top_char_count``   — the modal character's count (single-glyph
      dominance, the other classic blob signature).
    * ``keep``             — true iff ``n_chars < min_chars`` (too
      short to judge — route short-doc rejection through
      :func:`gopher_quality_flags`) or BOTH
      ``1000·simpson_num ≤ max_simpson_x1000·n·(n−1)`` and
      ``1000·top_char_count ≤ max_top_char_x1000·n``.

    Defaults: English prose (spaces included) has Simpson ≈ 0.06–0.08
    and top char (space) ≈ 15–18%, so 0.100 / 0.250 pass clean text
    and fail ``repeat('z')`` (Simpson 1), ``repeat('ab ')``
    (Simpson → 1/3, top 1/3) and friends.  NULL text counts as empty
    (n=0 → keep, the :func:`repetition_flags` convention).

    Scale shape: ENTIRELY row-local — sort the char array once and
    fold a 5-field struct (prev glyph, run length, Σ run·(run−1), max
    run, distinct-run count) over it: O(n log n) per document, one
    pass (the distinct count rides the same fold — no separate
    array_distinct build), inside
    whole-stage codegen; zero exchanges, zero Python.  At 100 TB this
    is a pure map stage that pipelines with the scan; the permille
    cross-multiplications (``1000·simpson_num`` vs ``100·n·(n−1)``)
    stay inside BIGINT for docs up to ``√(2⁶³/1000) ≈ 9.6·10⁷``
    chars — i.e. overflow-safe to ~10⁸-char documents, far past any
    real web page; pathological multi-hundred-MB blobs should be
    length-capped upstream (``gopher_quality_flags`` max length)
    before this filter."""
    if append:
        base_cols = [F.col(c) for c in df.columns]
    else:
        base_cols = [F.col(id_col)]

    chars = F.coalesce(
        F.filter(F.split(F.col(text_col), ""), lambda c: c != ""),
        F.array().cast("array<string>"),
    )
    staged = df.select(*base_cols, F.array_sort(chars).alias("__cc_chars"))
    arr = F.col("__cc_chars")
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        zero.alias("run"),
        zero.alias("s"),
        zero.alias("mx"),
        zero.alias("nd"),
    )

    def _step(a, x):
        same = x.eqNullSafe(a["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, a["run"] + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.when(same, a["s"])
            .otherwise(a["s"] + a["run"] * (a["run"] - 1))
            .alias("s"),
            F.when(same, a["mx"]).otherwise(F.greatest(a["mx"], a["run"])).alias("mx"),
            # distinct count = number of run starts, free in the same pass
            F.when(same, a["nd"]).otherwise(a["nd"] + 1).alias("nd"),
        )

    folded = F.aggregate(
        arr,
        init,
        _step,
        lambda a: F.struct(
            (a["s"] + a["run"] * (a["run"] - 1)).alias("s"),
            F.greatest(a["mx"], a["run"]).alias("mx"),
            a["nd"].alias("nd"),
        ),
    )
    n = F.size(arr).cast("long")
    n_distinct = folded["nd"]
    num = folded["s"]
    top = folded["mx"]
    keep = (n < F.lit(min_chars).cast("long")) | (
        (num * 1000 <= F.lit(max_simpson_x1000).cast("long") * n * (n - 1))
        & (top * 1000 <= F.lit(max_top_char_x1000).cast("long") * n)
    )
    return staged.select(
        *base_cols,
        n.alias("n_chars"),
        n_distinct.alias("n_distinct_chars"),
        num.alias("simpson_num"),
        top.alias("top_char_count"),
        keep.alias("keep"),
    )


def c4_clean_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
    terminal_punct: tuple[str, ...] = (".", "!", "?", '"'),
    line_blocklist: tuple[str, ...] = ("javascript",),
    doc_blocklist: tuple[str, ...] = ("lorem ipsum", "{"),
    min_kept_lines: int = 5,
    dedup_lines: bool = False,
    append: bool = False,
) -> DataFrame:
    """The C4 line-level cleaning recipe (Raffel et al. 2020 §2.2,
    "Colossal Clean Crawled Corpus"): keep only lines that end in a
    terminal punctuation mark, have at least ``min_line_words`` words
    and mention no ``line_blocklist`` term (C4 drops any line with the
    word "javascript"); then drop whole documents with fewer than
    ``min_kept_lines`` surviving lines or containing a
    ``doc_blocklist`` term anywhere ("lorem ipsum", a curly brace).
    ``dedup_lines=True`` additionally keeps only the FIRST instance of
    each repeated line within the document (the RefinedWeb/C4
    three-sentence-span in-page dedup, at line grain).

    All predicates evaluate on the TRIMMED line; kept lines are
    emitted trimmed and single-newline-rejoined.  Every rule is exact
    string/integer work — substring membership, terminal character,
    whitespace word count — so a SQL engine replays the cleaned text
    byte-identically.

    Output: id (+ input columns with ``append``), ``text_col`` (the
    cleaned text; empty string when nothing survives — named
    ``clean_<text_col>`` under ``append`` so the original column
    survives alongside), ``n_lines``, ``n_lines_kept``, ``keep``.
    NULL text → 0 lines, empty text, keep=false (C4 drops empty
    pages by the min-lines rule).

    Scale shape: entirely row-local — line split + per-line predicate
    filters + (for ``dedup_lines``) a first-occurrence index filter,
    all inside whole-stage codegen; zero exchanges, zero Python.  At
    100 TB this is a pure map stage that pipelines with the scan —
    the same shape the C4 reference implementation runs as a Beam
    ParDo."""
    if append:
        base_cols = [F.col(c) for c in df.columns]
    else:
        base_cols = [F.col(id_col)]

    def _line_ok(line):
        t = F.trim(line)
        ends = None
        for p in terminal_punct:
            e = t.endswith(p)
            ends = e if ends is None else (ends | e)
        words = F.size(
            F.filter(F.split(t, r"\s+"), lambda w: w != "")
        ) >= min_line_words
        ok = ends & words
        low = F.lower(t)
        for b in line_blocklist:
            ok = ok & ~low.contains(b.lower())
        return ok

    lines = F.filter(
        F.split(F.col(text_col), r"\n"), lambda l: F.trim(l) != ""
    )
    staged = df.select(
        *base_cols,
        F.coalesce(lines, F.array().cast("array<string>")).alias("__c4_lines"),
        F.coalesce(F.lower(F.col(text_col)), F.lit("")).alias("__c4_low"),
    )
    kept = F.transform(
        F.filter(F.col("__c4_lines"), _line_ok), lambda l: F.trim(l)
    )
    staged = staged.select(*base_cols, "__c4_lines", "__c4_low", kept.alias("__c4_kept"))
    if dedup_lines:
        arr = F.col("__c4_kept")
        first_only = F.filter(
            arr, lambda x, i: F.array_position(arr, x) == i + 1
        )
        staged = staged.select(
            *base_cols, "__c4_lines", "__c4_low", first_only.alias("__c4_kept")
        )
    n_lines = F.size("__c4_lines").cast("long")
    n_kept = F.size("__c4_kept").cast("long")
    doc_ok = n_kept >= min_kept_lines
    for b in doc_blocklist:
        doc_ok = doc_ok & ~F.col("__c4_low").contains(b.lower())
    return staged.select(
        *base_cols,
        F.array_join("__c4_kept", "\n").alias(text_col if not append else f"clean_{text_col}"),
        n_lines.alias("n_lines"),
        n_kept.alias("n_lines_kept"),
        F.coalesce(doc_ok, F.lit(False)).alias("keep"),
    )


def split_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    explode: bool = False,
) -> DataFrame:
    """Terminal-punctuation sentence segmentation — the unit behind
    C4's "pages with fewer than 3 sentences are removed" gate and
    RefinedWeb's three-sentence-span in-page dedup: a sentence ends at
    ``[.!?]`` followed by whitespace (newlines included, so sentences
    flow across soft-wrapped lines); a trailing fragment without
    terminal punctuation counts as a final sentence.

    RE2 (the oracle engine's regex) has no lookbehind, so the split
    keeps its delimiter via replace-then-split: ``([.!?])(\\s+)`` →
    punct + ``\\x01``, then split on ``\\x01`` — byte-identical in
    Java regex and RE2 (the whitespace after the punctuation is
    consumed; interior whitespace stays inside its sentence).
    Sentences are emitted TRIMMED; whitespace-only fragments drop.

    Output: ``(id, sentences array<string>, n_sentences)``, or with
    ``explode=True`` one row per sentence ``(id, sent_index 0-based,
    sentence, n_words)``.

    Scale shape: row-local split/replace (+ a row-local posexplode in
    exploded form) — zero exchanges, zero Python; a pure map stage
    that pipelines with the scan."""
    sents = F.filter(
        F.split(
            F.regexp_replace(F.col(text_col), r"([.!?])(\s+)", "$1\x01"),
            "\x01",
        ),
        lambda s: F.trim(s) != "",
    )
    sents = F.transform(sents, lambda s: F.trim(s))
    staged = df.select(
        F.col(id_col),
        F.coalesce(sents, F.array().cast("array<string>")).alias("__ss"),
    )
    if not explode:
        return staged.select(
            id_col,
            F.col("__ss").alias("sentences"),
            F.size("__ss").cast("long").alias("n_sentences"),
        )
    ex = staged.select(
        F.col(id_col), F.posexplode("__ss").alias("sent_index", "sentence")
    )
    return ex.select(
        id_col,
        F.col("sent_index").cast("long").alias("sent_index"),
        "sentence",
        F.size(F.filter(F.split(F.col("sentence"), r"\s+"), lambda w: w != ""))
        .cast("long")
        .alias("n_words"),
    )


def _window_fingerprints(tk: Column, k: Column) -> Column:
    """Array of 60-bit fingerprints, one per ``k``-token sliding window
    of the token array ``tk``: md5 of the space-joined window, first 15
    hex digits as a long.

    The aggregation/join key is 8 bytes instead of a 32-char string —
    ~4x narrower shuffle rows; collisions at 2^60 are immaterial for a
    duplication census (Lee et al. 2022 use 64-bit Rabin-Karp the same
    way) and DuckDB replays the truncation exactly.  sequence(0, n-k)
    with n-k clamped to 0, then the i <= n-k filter drops the spurious
    0 for docs shorter than the window (a bare sequence(0, negative)
    is NOT empty — Spark infers step -1).

    ONE shared definition for both halves of the Lee et al. scheme —
    the census (:func:`duplicated_token_windows`) and the cutter
    (:func:`remove_duplicated_spans`) silently disagree about which
    windows are duplicated if their fingerprints ever diverge.
    """
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size(tk) - k, F.lit(0))),
        lambda i: i <= F.size(tk) - k,
    )
    return F.transform(
        starts,
        lambda i: F.conv(
            F.substring(
                F.md5(F.array_join(F.slice(tk, i + 1, k), " ").cast("binary")),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )


def duplicated_token_windows(
    df: DataFrame,
    window_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Exact-substring duplication census (the detection half of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every ``window_tokens``-token sliding window is md5
    fingerprinted; windows whose fingerprint occurs in more than one
    document are duplicated cross-document content.  Returns per
    document the total window count, the number of windows shared with
    another document, and the duplicated fraction — the inputs a
    pipeline uses to drop or trim documents.

    Scale shape: windows explode to ~n_tokens rows per doc, then ONE
    hash aggregation on the fingerprint (partial map-side count first)
    and one grouped rollup back to documents.  Fingerprints are md5 of
    the space-joined window, so the operator is engine-portable (DuckDB
    replays it exactly); no all-pairs comparison anywhere.

    The token array is materialized as its own projection before the
    window transform: inlining ``tokens(text)`` into the lambda makes
    Spark re-run split+regex once per window element (O(n_tokens²) per
    doc) — CollapseProject keeps the two projections separate because
    the alias is expensive and multiply referenced.  Measured 5×
    end-to-end on the sf0.1 documents table.  ``tokens_col`` names a
    pre-tokenized array to window over instead (shared-tokenization
    pipelines).
    """
    k = F.lit(window_tokens)
    tk = F.col("__dw_toks")
    windows = _window_fingerprints(tk, k)
    toks_src = (
        F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    )
    # raw-text path: spread a narrow scan before the CPU-heavy
    # tokenize+fingerprint map stage (no-op at real scale; a caller
    # passing tokens_col has already chosen its partitioning)
    src_df = df if tokens_col is not None else spread(df)
    # explode_OUTER: a doc with fewer tokens than the window (or NULL
    # text) has an empty window array — a plain explode would drop it
    # from the census entirely, and a consumer inner-joining the
    # census back (or averaging dup_frac) would silently lose every
    # short doc.  The NULL w_hash row becomes an n_windows=0 record.
    per_window = src_df.select(
        F.col(id_col), toks_src.alias("__dw_toks")
    ).select(F.col(id_col), F.explode_outer(windows).alias("w_hash"))
    # fingerprint -> #distinct docs containing it (two-level agg keeps
    # the shuffle key narrow: hash string only).  Deliberately a
    # count-aggregate + join-back rather than a single-scan
    # collect_list round-trip (~30% faster at test scale): boilerplate
    # windows shared by millions of documents — the very content this
    # operator exists to find — would materialize million-element doc
    # lists on single keys, while counts and 1:1 join rows stay flat
    # under any skew.
    counts = (
        per_window.filter(F.col("w_hash").isNotNull())
        .groupBy("w_hash")
        .agg(F.count_distinct(id_col).alias("n_docs"))
    )
    flagged = per_window.join(counts, on="w_hash", how="left").select(
        id_col,
        F.col("w_hash"),
        F.coalesce(F.col("n_docs") > 1, F.lit(False)).alias("dup"),
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            # count(w_hash) skips the NULL sentinel row: 0 for short docs
            F.count(F.col("w_hash")).alias("n_windows"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0)).alias("n_dup_windows"),
        )
        .select(
            id_col,
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
            F.when(
                F.col("n_windows") > 0,
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    window_tokens: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    against: DataFrame | None = None,
    against_text_col: str | None = None,
    against_tokens_col: str | None = None,
) -> DataFrame:
    """Exact-substring duplicate REMOVAL — the cut half of Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"),
    composing with the census (:func:`duplicated_token_windows`, the
    detection half): every ``window_tokens``-token sliding window whose
    fingerprint occurs in more than one document marks its token range
    as duplicated; overlapping/adjacent flagged ranges merge into
    maximal spans, and the spans are cut from the token stream.  Like
    the reference tool for the paper, removal is symmetric — EVERY
    occurrence of duplicated content is cut (a keep-one-copy variant
    composes by exact-deduping window owners first; symmetric removal
    needs no canonical-owner election and stays join-free per doc).

    Output: id, ``text_col`` (the cut text, single-space rejoined —
    original whitespace inside kept spans was already normalized by
    tokenization), ``n_tokens`` (before), ``n_tokens_kept`` (after),
    ``n_spans_removed``.  Documents with no duplicated window pass
    through whole.

    With ``against`` (registered r15 as ``doc_decontaminate_spans``),
    the duplication test flips to CROSS-CORPUS: cut every window whose fingerprint appears
    ANYWHERE in ``against`` (an eval/benchmark corpus) — span-level
    decontamination that removes the leaked passage while keeping the
    rest of the training document, where the
    :func:`~python_dtl_spark.operators.dedup.contamination_pairs`
    route drops whole documents.  ``against=None`` (the default) is
    byte-identical to the pre-r15 within-corpus behavior.

    Scale shape: the census's explode + ONE fingerprint count
    aggregation and skew-safe count-join-back (counts, never
    collect_list — a boilerplate window shared by millions of docs
    stays a flat 1:N join), then two linear per-doc stages: a window
    function merges flagged starts into disjoint islands
    (gaps-and-islands on running max-end — islands per doc ≤
    n_tokens / window_tokens because islands are disjoint spans of
    ≥ window_tokens tokens), and a groupBy collects the island list
    per doc (bounded by the same ratio, never corpus-wide).  The cut
    itself is a row-local complement splice: the kept text is the
    concatenation of the gaps BETWEEN islands — ``O(n_tokens)`` array
    slices, no per-token join, no Python.
    """
    if against is None and (
        against_text_col is not None or against_tokens_col is not None
    ):
        raise ValueError(
            "against_text_col/against_tokens_col require against=<eval "
            "corpus DataFrame>; without it the operator runs "
            "within-corpus semantics and those arguments are meaningless"
        )
    k = F.lit(window_tokens)
    tk = F.col("__ds_toks")
    windows = _window_fingerprints(tk, k)
    toks_src = (
        F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    )
    src_df = df if tokens_col is not None else spread(df)
    staged = src_df.select(F.col(id_col), toks_src.alias("__ds_toks"))
    # (doc, window start, fingerprint): posexplode's position IS the
    # start index because starts are consecutive from 0
    per_window = staged.select(
        F.col(id_col), F.posexplode(windows).alias("__i", "__w_hash")
    )
    if against is None:
        # within-corpus (Lee et al. symmetric removal): a window is
        # duplicated iff its fingerprint occurs in more than one doc
        counts = per_window.groupBy("__w_hash").agg(
            F.count_distinct(id_col).alias("__n_docs")
        )
        flagged = (
            per_window.join(counts, on="__w_hash", how="inner")
            .filter(F.col("__n_docs") > 1)
            .select(
                F.col(id_col), F.col("__i"),
                (F.col("__i") + k - 1).alias("__end"),
            )
        )
    else:
        # CROSS-CORPUS span decontamination: cut
        # from df every window whose fingerprint appears ANYWHERE in
        # ``against`` (the eval/benchmark corpus) — span-level eval
        # hygiene (drop the leaked passage, keep the rest of the doc)
        # where contamination_pairs-based dropping removes whole docs.
        # The eval side reduces to its DISTINCT 8-byte fingerprints
        # (one hash agg, tiny relative to train), then ONE fp-keyed
        # LEFT SEMI join flags train windows — hot boilerplate fps are
        # AQE-skew-splittable (semi-join build side = 1 row/fp).
        a_toks = (
            F.col(against_tokens_col)
            if against_tokens_col is not None
            else tokens(F.col(against_text_col or text_col))
        )
        a_src = against if against_tokens_col is not None else spread(against)
        # stage the eval token array exactly like the train side
        eval_fps = (
            a_src.select(a_toks.alias("__ds_a"))
            .select(
                F.explode(
                    _window_fingerprints(F.col("__ds_a"), k)
                ).alias("__w_hash")
            )
            .distinct()
        )
        flagged = per_window.join(
            eval_fps, on="__w_hash", how="left_semi"
        ).select(
            F.col(id_col), F.col("__i"),
            (F.col("__i") + k - 1).alias("__end"),
        )
    # merge overlapping/contiguous flagged windows into maximal islands:
    # a window starts a new island iff its start exceeds (running max
    # end of earlier windows) + 1 — i.e. there is at least one
    # uncovered token before it
    w_ord = Window.partitionBy(id_col).orderBy("__i")
    prev_max_end = F.max("__end").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    with_isl = flagged.withColumn(
        "__brk",
        (F.col("__i") > F.coalesce(prev_max_end, F.lit(-2)) + 1).cast("int"),
    ).withColumn(
        "__island",
        F.sum("__brk").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)),
    )
    merged = with_isl.groupBy(id_col, "__island").agg(
        F.min("__i").alias("__lo"), F.max("__end").alias("__hi")
    )
    per_doc = merged.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__lo"), F.col("__hi")))
        ).alias("__islands"),
        F.count(F.lit(1)).alias("__n_spans"),
    )
    joined = staged.join(per_doc, on=id_col, how="left")
    isl = F.col("__islands")
    n = F.size(tk)
    # complement splice: kept text = concat of the gaps between islands
    gap_starts = F.concat(
        F.array(F.lit(0)), F.transform(isl, lambda s: s["__hi"] + 1)
    )
    gap_ends = F.concat(
        F.transform(isl, lambda s: s["__lo"] - 1), F.array(n - 1)
    )
    segs = F.filter(
        F.zip_with(
            gap_starts, gap_ends, lambda a, b: F.struct(a.alias("a"), b.alias("b"))
        ),
        lambda s: s["a"] <= s["b"],
    )
    spliced = F.flatten(
        F.transform(segs, lambda s: F.slice(tk, s["a"] + 1, s["b"] - s["a"] + 1))
    )
    kept = F.when(isl.isNull(), tk).otherwise(spliced)
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias(text_col),
        n.cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        F.coalesce(F.col("__n_spans"), F.lit(0)).cast("long").alias(
            "n_spans_removed"
        ),
    )


def ngram_dominance(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-document top n-gram dominance (the Gopher repetition signal,
    Rae et al. 2021 §A1.1 "fraction of characters in most common
    n-gram", measured here in n-gram occurrences): the share of a
    document's n-gram instances held by its single most frequent
    n-gram.  Boilerplate and machine-generated spam repeat short
    phrases; a curation pipeline drops documents past a dominance
    threshold.

    Output: (doc_id, n_grams, top_count, top_share).

    Scale shape: n-grams are built row-locally from a staged token
    array (same clamp-and-filter sequence idiom as
    :func:`duplicated_token_windows` — no O(n²) re-tokenization), then
    TWO hash aggregations, both with map-side partials: (doc, gram) →
    count, then doc → max/sum.  The shuffle key is (doc_id, gram) so
    hot grams in ONE document do not skew a global key the way a
    corpus-wide gram count would; nothing is collected.
    """
    k = F.lit(n)
    tk = F.col("__ng_toks")
    starts = F.filter(
        F.sequence(F.lit(0), F.greatest(F.size(tk) - k, F.lit(0))),
        lambda i: i <= F.size(tk) - k,
    )
    grams = F.transform(starts, lambda i: F.array_join(F.slice(tk, i + 1, k), " "))
    toks_src = (
        F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    )
    src_df = df if tokens_col is not None else spread(df)
    # explode_outer: docs with fewer than n tokens (or NULL text) keep
    # an n_grams=0 row instead of vanishing from the report — same
    # short-doc contract as duplicated_token_windows
    per_gram = src_df.select(F.col(id_col), toks_src.alias("__ng_toks")).select(
        F.col(id_col), F.explode_outer(grams).alias("__gram")
    )
    gram_counts = per_gram.groupBy(id_col, "__gram").agg(
        # count(__gram) is 0 for the NULL sentinel row
        F.count(F.col("__gram")).alias("__cnt")
    )
    return (
        gram_counts.groupBy(id_col)
        .agg(
            F.sum("__cnt").cast("long").alias("n_grams"),
            F.max("__cnt").cast("long").alias("top_count"),
        )
        .withColumn(
            "top_share",
            F.when(
                F.col("n_grams") > 0,
                F.col("top_count").cast("double") / F.col("n_grams").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


#: scrub patterns chosen from the common subset of Java regex (Spark)
#: and RE2 (DuckDB): character classes, alternation, bounded repeats,
#: and the (?i) case-insensitivity flag — no backreferences or
#: lookaround, so the oracle replays them exactly.  (?i) rather than
#: widened character classes so 'John.Doe@Example.COM' redacts the
#: same as its lowercase form.
PII_EMAIL_RE = r"(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\b555-[0-9]{3,10}\b"

#: Card-number CANDIDATE runs: 13-16 digits, optionally grouped by
#: single spaces or dashes, word-bounded (``\b`` is the ASCII word
#: boundary in BOTH Java and RE2 — engine-common like the rest of the
#: pii_scrub regex convention; digit runs embedded in identifiers
#: never match).  Candidates are only the cheap half: a run is
#: redacted by :func:`card_scrub` ONLY if its Luhn checksum verifies,
#: so order numbers and timestamps survive.
PII_CARD_RE = r"\b[0-9](?:[ -]?[0-9]){12,15}\b"


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    email_token: str = "<EMAIL>",
    phone_token: str = "<PHONE>",
) -> DataFrame:
    """Redact email addresses and (NANP test-prefix) phone numbers,
    recording how many of each were found.

    Adds ``n_emails`` / ``n_phones`` and replaces ``text_col`` with the
    scrubbed text.  Pure ``regexp_extract_all`` + ``regexp_replace`` —
    JVM-side, row-local, zero shuffle; pipelines into any scan.

    Counts mirror the redaction ORDER (emails first, then phones on
    the email-redacted text): a phone-shaped run inside an email local
    part ('555-1234@example.com') is redacted as part of the <EMAIL>
    token, so counting phones on the original would report a phone
    with no <PHONE> token in the output.  Each count equals exactly
    the number of tokens of its kind inserted.
    """
    t = F.col(text_col)
    email_scrubbed = F.regexp_replace(t, PII_EMAIL_RE, email_token)
    scrubbed = F.regexp_replace(email_scrubbed, PII_PHONE_RE, phone_token)
    return df.select(
        *[c for c in df.columns if c != text_col],
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(
            F.regexp_extract_all(email_scrubbed, F.lit(PII_PHONE_RE), F.lit(0))
        )
        .cast("long")
        .alias("n_phones"),
        scrubbed.alias(text_col),
    )


def _luhn_valid(cand):
    """Luhn checksum over a candidate card run (separators stripped),
    as pure JVM column arithmetic: from the RIGHT, double every second
    digit (subtracting 9 when the double exceeds 9) and require the
    sum ≡ 0 (mod 10).  Exact integers end to end, so DuckDB replays
    the fold bit-for-bit."""
    clean = F.regexp_replace(cand, "[ -]", "")
    n = F.length(clean)
    digit = lambda i: clean.substr(i, F.lit(1)).cast("int")  # noqa: E731
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when((n - i) % 2 == 0, digit(i)).otherwise(
            digit(i) * 2 - F.when(digit(i) >= 5, 9).otherwise(0)
        ),
    )
    return total % 10 == 0


def _card_site_scrub(cand, token: str):
    """Rebuild ONE extractor-matched candidate site: redact the
    leftmost-longest Luhn-valid separator-bounded digit run of 13–16
    digits inside it (the full run included), or return the site
    unchanged.  Returns ``struct(site string, hit int)``.

    Scanning sub-runs closes the r18-advisor false-negative class: a
    real PAN immediately followed by a separator and more digits (e.g.
    ``4111111111119 000``) forms a single maximal Luhn-INVALID
    candidate under greedy extraction, so whole-candidate verification
    let the PAN escape.  Sub-runs are spans of whole separator-bounded
    digit GROUPS — at most one span can verify per site (two
    non-overlapping 13-digit runs need ≥26 digits, candidates have
    ≤16), so "leftmost, then longest" is a total choice rule shared
    bit-for-bit with the DuckDB replay.
    """
    groups = F.split(cand, "[ -]")
    k = F.size(groups)

    def dsum(i, j):  # total digits in groups i..j (empty slice -> 0)
        return F.aggregate(
            F.slice(groups, i, j - i + 1),
            F.lit(0),
            lambda a, g: a + F.length(g),
        )

    def span(i, j):
        # struct field order IS the choice rule: array_sort compares
        # lexicographically, so (i ASC, neg_dl ASC) = leftmost-longest
        dl = dsum(i, j)
        return F.struct(
            i.alias("i"),
            (-dl).alias("neg_dl"),
            (i + dsum(F.lit(1), i - 1)).alias("start"),
            (dl + (j - i)).alias("clen"),
            dl.alias("dl"),
        )

    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.transform(F.sequence(i, k), lambda j: span(i, j)),
        )
    )
    valid = F.filter(
        spans,
        lambda s: (s["dl"] >= 13)
        & (s["dl"] <= 16)
        & _luhn_valid(cand.substr(s["start"], s["clen"])),
    )
    # F.get: 0-based and NULL on out-of-bounds (ANSI-safe on the empty
    # no-valid-span array, unlike element_at)
    pick = F.get(F.array_sort(valid), F.lit(0))
    site = F.when(pick.isNull(), cand).otherwise(
        F.concat(
            cand.substr(F.lit(1), pick["start"] - 1),
            F.lit(token),
            cand.substr(pick["start"] + pick["clen"], F.length(cand)),
        )
    )
    hit = F.when(pick.isNull(), F.lit(0)).otherwise(F.lit(1))
    return F.struct(site.alias("site"), hit.alias("hit"))


def card_scrub(
    df: DataFrame,
    text_col: str = "text",
    card_token: str = "<CARD>",
) -> DataFrame:
    """Redact Luhn-valid payment-card numbers (13–16 digits, optional
    single space/dash grouping), recording how many were found — the
    PAN leg of the PII battery (every privacy-compliant curation stack
    scrubs card numbers; C4/CCNet-era pipelines drop or mask them).

    Candidate SITES come from :data:`PII_CARD_RE` (maximal greedy
    13–16-digit runs; runs longer than 16 digits never match, so
    digit runs embedded in identifiers survive).  Within each site the
    leftmost-longest Luhn-valid separator-bounded sub-run of 13–16
    digits is redacted (the full site included); sites with no valid
    run — 16-digit order ids, timestamps — pass through unchanged.
    Adds ``n_cards`` (redacted sites — duplicates of the same number
    each count) and replaces ``text_col`` with the scrubbed text; NULL
    text stays NULL with ``n_cards`` NULL (the pii_scrub convention is
    followed except counts: pii_scrub counts regex matches, this
    counts LUHN-VERIFIED sites only).

    The output text is REBUILT by splitting on the candidate regex and
    folding scrubbed sites back between the segments, so replacement
    happens exactly at extractor-matched sites and nowhere else.  Two
    r18-advisor classes are closed by this structure, both pinned in
    ``test_card_scrub_semantics``: (1) an anchored-alternation replace
    re-matched verified values at OTHER sites because separators
    create internal ``\\b`` boundaries (``ref 4111111111119 000``
    contains ``\\b4111111111119\\b``), double-redacting and breaking
    the count invariant; (2) a real PAN absorbed into a longer
    Luhn-invalid maximal candidate escaped whole-candidate
    verification — the sub-run scan in :func:`_card_site_scrub`
    catches it.  Invariant: every inserted token is exactly one
    counted Luhn-verified run at one extractor-matched site.

    Scale shape: ``regexp_extract_all`` + ``split`` + per-site
    higher-order-function folds (≤ C(k+1,2) ≤ 136 span checks of a
    ≤16-digit integer fold per site) — pure map, zero Exchange, zero
    Python (``test_card_scrub_is_pure_map``); all arithmetic is exact
    integers, so the whole operator is DuckDB-replayable
    (``test_card_scrub_matches_duckdb_replay``).

    Extension operator (SURVEY §2.5 scalar library); no reference
    counterpart.
    """
    t = F.col(text_col)
    cands = F.regexp_extract_all(t, F.lit(PII_CARD_RE), F.lit(0))
    # n candidates split the text into exactly n+1 segments (the
    # pattern cannot match empty); Java split(limit=-1) and DuckDB
    # regexp_split_to_array both keep trailing empty segments
    parts = F.split(t, PII_CARD_RE)
    sites = F.transform(cands, lambda c: _card_site_scrub(c, card_token))
    n_cards = F.aggregate(
        sites, F.lit(0), lambda a, s: a + s["hit"]
    ).cast("long")
    rebuilt = F.concat(
        F.element_at(parts, 1),
        F.array_join(
            F.zip_with(
                sites,
                F.slice(parts, 2, F.size(cands)),
                lambda s, p: F.concat(s["site"], p),
            ),
            "",
        ),
    )
    return df.select(
        *[c for c in df.columns if c != text_col],
        n_cards.alias("n_cards"),
        rebuilt.alias(text_col),
    )


#: DuckDB replay of card_scrub, kept NEXT TO the operator so the
#: catalog registration (r20) and the test suite share one source of
#: oracle SQL.  Pure string building - no duckdb import here.
_CARD_LUHN_SQL = """
    list_sum(list_transform(
        range(1, length(regexp_replace({x}, '[ -]', '', 'g')) + 1),
        li -> CASE WHEN (length(regexp_replace({x}, '[ -]', '', 'g')) - li)
                       % 2 = 0
                  THEN CAST(substr(regexp_replace({x}, '[ -]', '', 'g'),
                                   li, 1) AS INTEGER)
                  ELSE 2 * CAST(substr(regexp_replace({x}, '[ -]', '', 'g'),
                                       li, 1) AS INTEGER)
                       - CASE WHEN CAST(substr(regexp_replace({x}, '[ -]',
                                                              '', 'g'),
                                              li, 1) AS INTEGER) >= 5
                              THEN 9 ELSE 0 END
             END)) % 10 = 0
"""


def _card_dsum_sql(g: str, i: str, j: str) -> str:
    """Digits in separator-bounded groups ``i..j`` of group-list ``g``
    (empty slice -> 0; cast because DuckDB list_sum yields HUGEINT)."""
    return (
        f"CAST(coalesce(list_sum(list_transform(({g})[({i}):({j})], "
        f"gx -> length(gx))), 0) AS BIGINT)"
    )


def card_scrub_replay_sql(src: str, token: str = "<CARD>") -> str:
    """DuckDB replay of the ENTIRE card_scrub algorithm over relation
    ``src`` (columns doc_id, text) -> (doc_id, n_cards, text).

    Mirrors :func:`python_dtl_spark.operators.text.card_scrub` leg for
    leg: maximal greedy candidate extraction, split-rebuild at
    extractor-matched sites only, and per-site leftmost-longest
    Luhn-valid separator-bounded sub-run scan (struct field order
    (i, neg_dl, ...) + list_sort IS the shared choice rule).  This is
    the staged doc_card_scrub row's oracle — r20's registration block
    reuses this builder verbatim.

    Cross-engine pins: DuckDB array_to_string([], '') is NULL where
    Spark array_join([], '') is '' (coalesced); list_sum([]) is NULL
    where Spark aggregate init 0 holds (coalesced in _card_dsum_sql);
    both engines keep trailing empty split segments.
    """
    g = "grp[ix]"
    span = (
        "struct_pack(i := i, neg_dl := -(" + _card_dsum_sql(g, "i", "j") + "), "
        "start := i + " + _card_dsum_sql(g, "1", "i - 1") + ", "
        "clen := " + _card_dsum_sql(g, "i", "j") + " + (j - i), "
        "dl := " + _card_dsum_sql(g, "i", "j") + ")"
    )
    luhn = _CARD_LUHN_SQL.format(x="substr(cands[ix], s.start, s.clen)")
    pick = f"""
        list_sort(list_filter(
            flatten(list_transform(range(1, len({g}) + 1),
                i -> list_transform(range(i, len({g}) + 1),
                    j -> {span}))),
            s -> s.dl BETWEEN 13 AND 16 AND {luhn}
        ))[1]
    """
    # the operator's own candidate pattern, interpolated — not a
    # duplicated literal, so the oracle can never drift from
    # card_scrub if PII_CARD_RE changes (r19 advisor).  The pattern is
    # engine-common (no quotes/escapes beyond \b, safe in a DuckDB
    # single-quoted literal); the fragment fuzz test re-checks the
    # replay against the operator on every run either way.
    card_re = PII_CARD_RE
    return f"""
    WITH card_d AS (
        SELECT doc_id, text,
               regexp_extract_all(text, '{card_re}') AS cands,
               regexp_split_to_array(text, '{card_re}') AS parts
        FROM {src}
    ), card_g AS (
        SELECT doc_id, text, cands, parts,
               list_transform(cands,
                              c -> string_split_regex(c, '[ -]')) AS grp
        FROM card_d
    ), card_p AS (
        SELECT doc_id, text, cands, parts,
               list_transform(range(1, len(cands) + 1),
                              ix -> {pick}) AS picks
        FROM card_g
    ), card_s AS (
        SELECT doc_id, text, parts,
               len(list_filter(picks, x -> x IS NOT NULL)) AS n_valid,
               list_transform(range(1, len(cands) + 1),
                   ix -> CASE WHEN picks[ix] IS NULL THEN cands[ix]
                              ELSE substr(cands[ix], 1,
                                          picks[ix].start - 1)
                                   || '{token}'
                                   || substr(cands[ix],
                                             picks[ix].start
                                             + picks[ix].clen)
                         END) AS sites
        FROM card_p
    )
    SELECT doc_id,
           CAST(n_valid AS BIGINT) AS n_cards,
           parts[1] || coalesce(array_to_string(
               list_transform(range(1, len(sites) + 1),
                              ix -> sites[ix] || parts[ix + 1]), ''),
               '') AS text
    FROM card_s
    """


def vocabulary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    max_size: int = 10_000,
    tokens_col: str | None = None,
) -> DataFrame:
    """Corpus vocabulary builder: the top-``max_size`` tokens with at
    least ``min_count`` occurrences, assigned dense ids by (frequency
    DESC, token ASC) — the deterministic word-level analogue of a
    tokenizer-vocab fit, plus the coverage statistic every vocab-size
    decision is made from.

    Output per token: ``freq`` (corpus occurrences), ``doc_freq``
    (documents containing it), ``token_id`` (0-based dense rank), and
    ``cum_share`` (cumulative fraction of ALL corpus tokens — including
    out-of-vocab ones — covered by ids 0..token_id, i.e. the
    "top-32k tokens cover 97.3% of the stream" curve).

    Scale shape: one explode + one (token) aggregation with map-side
    partials; corpus-total tokens join in as a broadcast single-row
    aggregate (no driver action, same pattern as
    :func:`tfidf_top_terms`).  The global ``row_number() <= max_size``
    rank prunes map-side — Catalyst pushes the limit through the
    window as a ``TakeOrderedAndProject``, each task forwarding at
    most ``max_size`` candidate tokens, so the final merge sees
    ≤ max_size × n_partitions rows, never the full vocabulary.  The cumulative sum runs AFTER that filter, on
    ≤ max_size rows — ordering it before the filter would force a full
    un-pruned global sort of every distinct token.

    Pass ``tokens_col`` to build the vocabulary over a pre-tokenized
    array as-is (no re-split, no lowercasing) — the post-encode vocab
    of a fitted BPE tokenizer (:func:`bpe_encode` output), where
    merged tokens must stay intact.  Same contract as
    :func:`merge_candidates`'s ``tokens_col``.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.col(tokens_col)
            if tokens_col is not None
            else tokens(F.lower(F.col(text_col)))
        ).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("freq"),
        F.countDistinct(F.col(id_col)).alias("doc_freq"),
    )
    total = toks.agg(F.count(F.lit(1)).alias("__total"))
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    top = (
        counts.filter(F.col("freq") >= min_count)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_size)
    )
    wc = Window.orderBy("__rn").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.join(F.broadcast(total), how="cross")
        .withColumn("cum_share", F.sum("freq").over(wc) / F.col("__total"))
        .select(
            "token",
            "freq",
            "doc_freq",
            (F.col("__rn") - 1).cast("long").alias("token_id"),
            "cum_share",
        )
    )


def merge_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    top_n: int = 1_000,
    tokens_col: str | None = None,
    doc_freq: bool = True,
) -> DataFrame:
    """One round of distributed BPE-style merge scoring: count every
    ADJACENT token pair corpus-wide and emit the top-``top_n`` merge
    candidates — the pair-selection step a BPE/WordPiece tokenizer fit
    repeats, here at the word grain :func:`vocabulary` establishes
    (the first genuinely tokenizer-shaped step past unigram counts).

    Output per candidate: ``token_left``/``token_right`` (the pair),
    ``freq`` (adjacent co-occurrences corpus-wide — classic BPE picks
    its merge by exactly this count), ``doc_freq`` (documents
    containing the pair), and ``merge_rank`` (0-based dense rank by
    freq DESC, pair ASC — the deterministic merge order).

    Scale shape: same as the unigram vocabulary path — pairs come from
    zipping each token array with its own tail (row-local, no
    self-join), then ONE hash aggregation with map-side partials and a
    global ``row_number() <= top_n`` rank that Catalyst pushes through
    the window as a ``TakeOrderedAndProject`` (per-partition top-N
    take, then a single merge), so the final pass sees at most
    ``top_n × n_partitions`` candidate rows, never the full pair
    vocabulary — plan-asserted in tests/test_plans.py.  The reference engine has no tokenizer surface at all
    (scalar registry is ``add`` only,
    ``/root/reference/src/dtl/functions.py``); extension per
    SURVEY.md §2.5.

    Pass ``tokens_col`` to score a pre-tokenized array as-is (no
    re-split, no lowercasing) — the later rounds of :func:`bpe_fit`,
    where merged tokens must stay intact.  ``doc_freq=False`` drops
    the distinct-document count, whose two-phase Expand aggregation is
    a second shuffle the BPE frequency criterion doesn't need — the
    valve for fit loops and extreme corpora.
    """
    toks = (
        F.col(tokens_col)
        if tokens_col is not None
        else tokens(F.lower(F.col(text_col)))
    )
    n = F.size(toks)
    zipped = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("l"),
        F.slice(toks, 2, n - 1).alias("r"),
    )
    pairs = (
        df.where(n >= 2)
        .select(F.col(id_col), F.explode(zipped).alias("p"))
        .select(
            id_col,
            F.col("p.l").alias("token_left"),
            F.col("p.r").alias("token_right"),
        )
    )
    # doc_freq=False drops the countDistinct: distinct counting plans
    # as a two-phase Expand aggregation — a second shuffle the pure
    # BPE-frequency criterion never needs (bpe_fit passes False, so
    # each fit round pays one pair-count shuffle, not two)
    aggs = [F.count(F.lit(1)).alias("freq")]
    if doc_freq:
        aggs.append(F.countDistinct(F.col(id_col)).alias("doc_freq"))
    counts = (
        pairs.groupBy("token_left", "token_right")
        .agg(*aggs)
        .filter(F.col("freq") >= min_count)
    )
    w = Window.orderBy(
        F.desc("freq"), F.asc("token_left"), F.asc("token_right")
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_n)
        .select(
            "token_left",
            "token_right",
            "freq",
            *(["doc_freq"] if doc_freq else []),
            (F.col("__rn") - 1).cast("long").alias("merge_rank"),
        )
    )


def apply_merge(
    df: DataFrame,
    left: str,
    right: str,
    text_col: str = "text",
    out_col: str = "tokens_merged",
    sep: str = " ",
    tokens_col: str | None = None,
) -> DataFrame:
    """Apply ONE BPE merge across the corpus: every left-to-right
    non-overlapping adjacent occurrence of ``(left, right)`` in each
    document's token stream is replaced by the single merged token
    ``left + sep + right`` — the application half of the
    :func:`merge_candidates` scoring step, so the pair
    (score → apply → rescore) is a full tokenizer-fit round.

    Greedy non-overlap is the BPE rule: in ``a a a`` the pair
    ``(a, a)`` merges positions 0-1 only — position 1 is consumed, so
    1-2 cannot merge.  Formally a match position is TAKEN iff it is at
    an odd offset within its maximal run of consecutive match
    positions; an ANSI-SQL oracle replays exactly that via
    gaps-and-islands.

    Appends ``out_col`` (the merged token array) and ``n_merges``.

    Scale shape: entirely ROW-LOCAL — match positions, the greedy
    take/consume resolution, and the splice are array expressions over
    each document's own tokens, zero shuffle, pipelined into the scan.
    The take/consume fold runs over MATCH POSITIONS only (sparse in
    real corpora), never the full token array; the splice is
    O(tokens × taken merges) per document — bounded, like every
    per-doc cost here, by chunking pathological documents upstream
    (:func:`chunk_documents`).  The token and
    merge-start arrays materialize as intermediate columns — inlining
    them into every ``element_at``/``array_contains`` site would
    re-tokenize the document per position (measured 500×: 65 s → 1 s
    at sf0.01); Catalyst's CollapseProject keeps the projections
    separate because the aliases are non-cheap and multiply
    referenced.
    """
    for emitted in (out_col, "n_merges"):
        if emitted in df.columns:
            raise ValueError(
                f"apply_merge emits column {emitted!r} which already exists "
                "on the input; rename or drop it first"
            )
    if not left or not right:
        raise ValueError("merge pair tokens must be non-empty")
    for tmp in ("__am_t", "__am_s"):
        if tmp in df.columns:
            raise ValueError(f"apply_merge uses reserved column {tmp!r}")
    # tokens_col: merge a pre-tokenized array as-is (bpe_fit rounds >= 2,
    # where merged tokens must not be re-split or re-lowercased)
    stage1 = df.withColumn(
        "__am_t",
        F.col(tokens_col)
        if tokens_col is not None
        else tokens(F.lower(F.col(text_col))),
    )
    toks = F.col("__am_t")
    n = F.size(toks)
    l_lit, r_lit = F.lit(left), F.lit(right)
    merged_tok = F.lit(left + sep + right)
    # 0-based positions i where (t[i], t[i+1]) == (left, right)
    mp = F.when(
        n >= 2,
        F.filter(
            F.sequence(F.lit(0), n - 2),
            lambda i: (F.element_at(toks, i + 1) == l_lit)
            & (F.element_at(toks, i + 2) == r_lit),
        ),
    ).otherwise(F.array().cast("array<int>"))
    # greedy take/consume over the (sorted) match positions: take p
    # unless the previous match is p-1 AND was itself taken
    init = F.struct(
        F.array().cast("array<int>").alias("taken"),
        F.lit(-2).cast("int").alias("prev"),
        F.lit(False).alias("ptk"),
    )

    def step(acc, p):
        blocked = (p == acc["prev"] + 1) & acc["ptk"]
        return F.when(
            blocked,
            F.struct(
                acc["taken"].alias("taken"),
                p.cast("int").alias("prev"),
                F.lit(False).alias("ptk"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["taken"], F.array(p.cast("int"))).alias("taken"),
                p.cast("int").alias("prev"),
                F.lit(True).alias("ptk"),
            )
        )

    stage2 = stage1.withColumn(
        "__am_s", F.aggregate(mp, init, step, lambda acc: acc["taken"])
    )
    starts = F.col("__am_s")
    # splice: position i emits the merged token when i starts a taken
    # merge, nothing when it was consumed by one, its own token else
    out = F.when(
        n >= 1,
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.when(
                    F.array_contains(starts, i.cast("int")),
                    F.array(merged_tok),
                )
                .when(
                    F.array_contains(starts, (i - 1).cast("int")),
                    F.array().cast("array<string>"),
                )
                .otherwise(F.array(F.element_at(toks, i + 1))),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        stage2.withColumn(out_col, out)
        .withColumn("n_merges", F.size(starts).cast("long"))
        .drop("__am_t", "__am_s")
    )


def _bpe_encode_broadcast(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    text_col: str,
    out_col: str,
    sep: str,
    tokens_col: str | None,
) -> DataFrame:
    """:func:`bpe_encode`'s big-table tier: Arrow-batched
    ``mapInPandas`` with the merge-rank table in a broadcast variable
    (see the caller's docstring for the tier contract and the
    no-reappearance equivalence argument).  Per document: the classic
    min-rank-first loop — find the lowest-ranked adjacent pair present
    (one dict probe per adjacency), sweep-merge its occurrences
    greedy-left non-overlapping, repeat until no table pair remains —
    O(tokens × merges applied), independent of table size.

    Tokenization happens JVM-SIDE (advisor r12): when the caller gave
    raw text, the token array is projected with the same
    ``tokens(lower(text))`` expression the plan-literal tier uses
    BEFORE the Arrow hop, so both tiers share byte-identical
    tokenization — a Python ``str.lower()`` + ``re.ASCII \\s+`` split
    only *mirrors* the JVM ``lower() + \\s+`` and can diverge on
    non-ASCII case mapping (e.g. ``İ``, ``ß``)."""
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    tmp_toks: str | None = None
    if tokens_col is None:
        tmp_toks = "__bpe_toks"
        # must dodge out_col too: a caller using out_col="__bpe_toks"
        # would otherwise put two same-named fields in the mapInPandas
        # schema (review r13)
        while tmp_toks in df.columns or tmp_toks == out_col:
            tmp_toks += "_"
        df = df.withColumn(tmp_toks, tokens(F.lower(F.col(text_col))))
        tokens_col = tmp_toks

    # first occurrence wins on duplicate pairs: after rank i applies,
    # no later duplicate can ever match again (its adjacencies are
    # gone and, by the no-reappearance argument, stay gone).  The map
    # value carries the merged token so NOTHING table-sized is
    # captured in the task closure — the table ships ONCE per executor
    # via the broadcast, not once per task via pickled closures.
    ranks: dict[tuple[str, str], tuple[int, str]] = {}
    for i, (left, right) in enumerate(pairs):
        ranks.setdefault((left, right), (i, left + sep + right))
    b_ranks = df.sparkSession.sparkContext.broadcast(ranks)
    # fresh StructType: StructType.add would MUTATE df's cached schema.
    # The temp token column crosses Arrow INBOUND only — shipping the
    # (unmodified) arrays back just to drop them would roughly double
    # the tier's Arrow output traffic (review r13)
    schema = StructType(
        [f for f in df.schema.fields if f.name != tmp_toks]
        + [StructField(out_col, ArrayType(StringType()))]
    )

    def _encode(toks: list[str], rk: dict) -> list[str]:
        while True:
            best = None  # (rank, merged, left, right)
            for j in range(len(toks) - 1):
                hit = rk.get((toks[j], toks[j + 1]))
                if hit is not None and (best is None or hit[0] < best[0]):
                    best = (hit[0], hit[1], toks[j], toks[j + 1])
            if best is None:
                return toks
            _, merged, left, right = best
            out: list[str] = []
            j = 0
            while j < len(toks):
                if (
                    j < len(toks) - 1
                    and toks[j] == left
                    and toks[j + 1] == right
                ):
                    out.append(merged)
                    j += 2
                else:
                    out.append(toks[j])
                    j += 1
            toks = out

    def _batches(it):
        rk = b_ranks.value
        for pdf in it:
            encoded = [
                None if t is None else _encode(list(t), rk)
                for t in pdf[tokens_col]
            ]
            out = (
                pdf.drop(columns=[tokens_col])
                if tmp_toks is not None
                else pdf.copy()
            )
            out[out_col] = encoded
            yield out

    return df.mapInPandas(_batches, schema)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    out_col: str = "tokens_bpe",
    sep: str = " ",
    tokens_col: str | None = None,
    max_literal_entries: int = 128,
) -> DataFrame:
    """Single-pass BPE tokenizer INFERENCE: apply a learned merge
    table (``[(left, right), ...]`` or :func:`bpe_fit`'s
    ``[(left, right, freq), ...]``, already in merge-rank order) to
    every document in ONE row-local fold — the missing half that turns
    a fitted merge table into a usable tokenizer.

    Chaining :func:`apply_merge` n times would stack n projections
    (Catalyst re-analyzes an O(n)-deep plan, and each merge is its own
    codegen stage); here the WHOLE table compiles into a single
    ``F.aggregate`` over the merge list — the token array is the
    accumulator, each step replays :func:`apply_merge`'s greedy
    non-overlap recipe (take a match position unless the previous
    position was taken) — one expression, one codegen stage, zero
    shuffle, zero per-merge re-planning.

    Per step the greedy resolution and the splice fuse into one pass
    over MATCH POSITIONS (sparse): the accumulator carries the rebuilt
    prefix plus a copy cursor, each taken match appends the untouched
    gap (``slice``) and the merged token, and the finish clause flushes
    the tail — O(matches + output) per merge per document, never a
    full-length transform.  Equivalence with the chained
    :func:`apply_merge` path is property-tested against a literal
    greedy reference (tests/test_property.py).

    Scale shape: entirely row-local (pipelines into the scan; the plan
    is a single Project — plan-asserted in tests/test_plans.py), zero
    Python, streaming-legal.  But its cost is O(n_tokens × n_merges)
    per document — every table entry's match-filter evaluates against
    every document whether it matches or not — so the fold is the
    SMALL-TABLE tier only.

    Tables past ``max_literal_entries`` (default 128) switch to the
    BIG-TABLE TIER: an Arrow-batched ``mapInPandas`` encoder with the
    rank table in a Spark BROADCAST variable — plan size stays O(1) in
    the vocabulary, and the per-document algorithm flips to the
    classic min-rank-first loop (repeatedly merge the lowest-ranked
    pair present), whose cost is O(tokens × merges APPLIED in the
    doc), independent of table size.  The default is MEASURED, not
    guessed (SCALING.md "bpe_encode tier crossover", 5000-doc probe
    corpus, identical output hashes): the fold costs ~0.05 s per
    table entry on that corpus (≈7–8 s at 128 entries, ≈55–60 s at
    1k, ≈210–230 s at 4k across reruns; unfinished in 10 min at 65k)
    while the broadcast tier is flat ~0.5–2 s from 8 to 65,536
    entries — output-
    insensitive expression evaluation loses to output-sensitive dict
    probes two orders of magnitude before a real vocabulary size, so
    a classic 32k-merge table always takes the broadcast tier.  For tables a real ``bpe_fit``
    produces the two algorithms are EQUIVALENT: merge k's output token
    concatenates tokens built by merges < k, so applying k can never
    re-create an earlier pair (no earlier-rank pair ever re-appears) —
    equality is property-tested on fit-produced tables
    (tests/test_property.py) and the tier is forced in unit tests via
    ``max_literal_entries``.

    SEMANTIC CAVEAT of the measured default (advisor r13): the two
    tiers agree ONLY under that no-reappearance property.  A
    HAND-BUILT table that violates it (e.g. a merge whose output
    token recreates an earlier-ranked pair with a neighbour) can
    encode differently under the ordered fold (strict rank-order
    single pass) vs the min-rank loop (revisits earlier ranks), and
    the r13 default drop 65,536 → 128 re-routes synthetic tables of
    129–65,536 entries from the fold to the loop — a BEHAVIOR change
    for such tables, not just a performance one.  Callers with
    non-``bpe_fit`` tables in that range who depend on fold semantics
    must pass ``max_literal_entries`` explicitly (and accept the
    measured ~0.05 s/entry fold cost).  Raw text is tokenized JVM-SIDE before
    the Arrow hop (the same ``tokens(lower(text))`` expression as the
    plan-literal tier — byte-identical tokenization across tiers,
    advisor r12), so only the merge fold itself runs in Python — the
    deliberate Pandas-UDF exception: a 100k-entry table genuinely
    cannot ship as plan literals, and a join cannot express the
    ordered fold.

    The reference engine has no tokenizer surface (scalar registry is
    ``add`` only, /root/reference/src/dtl/functions.py); extension per
    SURVEY.md §2.5.
    """
    if out_col in df.columns:
        raise ValueError(
            f"bpe_encode emits column {out_col!r} which already exists "
            "on the input; rename or drop it first"
        )
    pairs = [(m[0], m[1]) for m in merges]
    for left, right in pairs:
        if not left or not right:
            raise ValueError("merge pair tokens must be non-empty")
    if len(pairs) > max_literal_entries:
        return _bpe_encode_broadcast(
            df, pairs, text_col, out_col, sep, tokens_col
        )
    base = (
        F.col(tokens_col)
        if tokens_col is not None
        else tokens(F.lower(F.col(text_col)))
    )
    if not pairs:  # empty table = plain tokenization (a 0-merge fit)
        return df.withColumn(out_col, base)
    merge_arr = F.array(
        *[
            F.struct(
                F.lit(left).alias("l"),
                F.lit(right).alias("r"),
                F.lit(left + sep + right).alias("m"),
            )
            for left, right in pairs
        ]
    )

    def _one_merge(toks, mg):
        n = F.size(toks)
        # 0-based positions i where (t[i], t[i+1]) == (l, r)
        mp = F.filter(
            F.sequence(F.lit(0), n - 2),
            lambda i: (F.element_at(toks, i + 1) == mg["l"])
            & (F.element_at(toks, i + 2) == mg["r"]),
        )
        # fused greedy-take + splice over match positions: acc is the
        # rebuilt prefix, pos the 0-based copy cursor, (prev, ptk) the
        # take-unless-previous-taken state from apply_merge
        init = F.struct(
            F.array().cast("array<string>").alias("acc"),
            F.lit(0).cast("int").alias("pos"),
            F.lit(-2).cast("int").alias("prev"),
            F.lit(False).alias("ptk"),
        )

        def step(a, p):
            blocked = (p == a["prev"] + 1) & a["ptk"]
            return F.when(
                blocked,
                F.struct(
                    a["acc"].alias("acc"),
                    a["pos"].alias("pos"),
                    p.cast("int").alias("prev"),
                    F.lit(False).alias("ptk"),
                ),
            ).otherwise(
                F.struct(
                    F.concat(
                        a["acc"],
                        F.slice(toks, a["pos"] + 1, p - a["pos"]),
                        F.array(mg["m"]),
                    ).alias("acc"),
                    (p + 2).cast("int").alias("pos"),
                    p.cast("int").alias("prev"),
                    F.lit(True).alias("ptk"),
                )
            )

        def fin(a):
            return F.concat(
                a["acc"], F.slice(toks, a["pos"] + 1, n - a["pos"])
            )

        return F.when(n >= 2, F.aggregate(mp, init, step, fin)).otherwise(
            toks
        )

    return df.withColumn(out_col, F.aggregate(merge_arr, base, _one_merge))


def bpe_fit(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    sep: str = " ",
    sample_fraction: float | None = None,
    sample_seed: str = "bpefit",
    checkpoint_every: int = 16,
) -> tuple[DataFrame, list[tuple[str, str, int]]]:
    """Iterative BPE fit at the word grain: ``n_merges`` rounds of
    score → apply → rescore (:func:`merge_candidates` +
    :func:`apply_merge`), returning ``(tokenized_df, merges)`` where
    ``merges`` is the learned merge table ``[(left, right, freq), ...]``
    in application order and ``tokenized_df`` carries the final
    ``tokens_merged`` array.

    The merge table IS the model being fit — O(n_merges) driver-side
    bytes by definition (like KMeans centroids), so the one-row
    top-pair collect per round is the algorithm's irreducible driver
    state, not a data collect; each round launches exactly one scoring
    job (hash agg + TakeOrdered(1)).  Stops early when no pair reaches
    ``min_count``.

    ``sample_fraction`` is the 100 TB valve (the repo's sampled-KMeans
    pattern, :func:`~python_dtl_spark.operators.dedup.semdedup`): the
    merge table fits on a deterministic md5-hash sample of documents
    (``md5(seed || id)`` bucketing — exactly
    :func:`~python_dtl_spark.operators.sampling.hash_bucket`, so a SQL
    oracle replays the sample bit-for-bit and reruns/retries see the
    same docs), then applies to the FULL corpus in ONE row-local pass
    via :func:`bpe_encode`.  Total cost drops from O(n_merges) ×
    full-corpus passes to O(n_merges) × sample passes + ONE corpus
    pass — the only fit shape that survives a realistic merge count at
    scale.  Production tokenizers fit on bounded samples for the same
    reason; pair statistics concentrate fast, and the deterministic
    sample keeps the fit reproducible.

    Scale shape per round: the scoring job is the audited
    merge_candidates shape (map-side partials, TakeOrdered prune) and
    each application is a zero-shuffle row-local map stage.  Each
    round's token arrays PERSIST before scoring (the previous round's
    cache freed once the next materializes), so total work is
    O(n_merges) corpus passes — without the cache, round r's lineage
    would replay all r-1 prior applications from the raw scan,
    O(n_merges²) in total.  Caching bounds the DATA cost but not the
    PLAN depth — round r's logical plan stacks r merge projections, so
    Catalyst re-analysis is O(r) per round and a cache eviction would
    replay every prior apply — so every ``checkpoint_every`` rounds
    the loop cuts lineage with ``localCheckpoint(eager=True)``
    (checkpoint blocks are reclaimed by Spark's ContextCleaner when
    the plan that references them is garbage-collected).  The returned
    frame reads the last round's cache; free it via
    ``release_cached()`` / ``dedup.release_all_cached`` like every
    other operator cache.  Tie-breaks are deterministic (freq DESC,
    pair ASC) — rerunning the fit reproduces the same merge table
    bit-for-bit.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    for col in ("tokens_merged", "n_merges", "__bpe_next"):
        if col in df.columns:
            raise ValueError(
                f"bpe_fit emits/uses column {col!r} which already exists "
                "on the input; rename or drop it first"
            )
    # local import: dedup imports text's tokenizer, so the cache
    # registry can't be a module-level import here
    from python_dtl_spark.operators.dedup import _release_after

    if sample_fraction is not None:
        from python_dtl_spark.operators.sampling import hash_sample

        fit_df = hash_sample(df, id_col, sample_fraction, seed=sample_seed)
        _, merges, last_cache = _bpe_fit_loop(
            fit_df, n_merges, text_col, id_col, min_count, sep,
            checkpoint_every,
        )
        # the sample frame is scaffolding — the model (merge table) is
        # extracted, so its cache frees immediately, not at release time
        if last_cache is not None:
            last_cache.unpersist()
        encoded = bpe_encode(
            df, merges, text_col=text_col, out_col="tokens_merged", sep=sep
        )
        return encoded, merges

    cur, merges, last_cache = _bpe_fit_loop(
        df, n_merges, text_col, id_col, min_count, sep, checkpoint_every
    )
    # the returned frame reads the LAST round's cache (one row-local
    # projection on top); the session-level release registry frees it
    # like every other operator cache (release_all_cached)
    if last_cache is not None:
        cur = _release_after(cur, last_cache)
    return cur, merges


def _bpe_fit_loop(
    df: DataFrame,
    n_merges: int,
    text_col: str,
    id_col: str,
    min_count: int,
    sep: str,
    checkpoint_every: int,
) -> tuple[DataFrame, list[tuple[str, str, int]], DataFrame | None]:
    """The score → apply loop shared by both :func:`bpe_fit` modes.

    Returns ``(final_df, merges, last_cached)`` where ``last_cached``
    is the still-persisted round the final frame reads from (``None``
    when the last materialization was a lineage-truncating local
    checkpoint, whose blocks Spark's ContextCleaner reclaims on GC).
    """
    cur = df.withColumn("tokens_merged", tokens(F.lower(F.col(text_col))))
    merges: list[tuple[str, str, int]] = []
    prev_cached: DataFrame | None = None
    for rnd in range(n_merges):
        # persist each round's token arrays: round r's scoring job
        # otherwise replays tokenization plus all r-1 prior merge
        # applications from the raw scan — O(n_merges²) corpus passes
        # in total.  The previous round's cache frees as soon as this
        # round's is materialized by the scoring collect (eviction
        # falls back to lineage recompute, never to wrong results).
        # Every ``checkpoint_every`` rounds the plain persist becomes
        # an eager localCheckpoint: same blocks, but the lineage (and
        # with it Catalyst's O(r) per-round re-analysis cost, plus the
        # eviction-replays-everything hazard) truncates to the stored
        # partitions.
        if checkpoint_every and rnd > 0 and rnd % checkpoint_every == 0:
            cur = cur.localCheckpoint(eager=True)
            cached: DataFrame | None = None
        else:
            cur = cur.persist()
            cached = cur
        top = merge_candidates(
            cur,
            id_col=id_col,
            min_count=min_count,
            top_n=1,
            tokens_col="tokens_merged",
            doc_freq=False,  # BPE scores by pair frequency alone —
            # skipping countDistinct halves the per-round shuffles
        ).collect()  # 1 row: the merge table is the model (see docstring)
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = cached
        if not top:
            break
        left, right, freq = (
            top[0]["token_left"],
            top[0]["token_right"],
            int(top[0]["freq"]),
        )
        merges.append((left, right, freq))
        cur = (
            apply_merge(
                cur,
                left,
                right,
                out_col="__bpe_next",
                sep=sep,
                tokens_col="tokens_merged",
            )
            .drop("tokens_merged", "n_merges")
            .withColumnRenamed("__bpe_next", "tokens_merged")
        )
    return cur, merges, prev_cached


def blocklist_flags(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    max_terms: int = 4096,
) -> DataFrame:
    """Blocklisted-term screening (the C4 "bad words" filter): per
    document, how many token instances match a curated term list, and
    whether any did.

    Matching is exact on lowercased whitespace tokens — the same
    tokenization every other text operator here uses — so "class"
    never matches a blocklisted "ass" (the classic substring-filter
    false positive this design avoids).

    Adds ``n_blocked`` (matching token instances) and ``blocked``
    (any match); callers drop or route flagged docs themselves, the
    flags stay inspectable for audit.

    Scale shape: the term list compiles into the plan as a literal
    array and matching is a row-local ``filter``/``array_contains``
    pass — zero shuffle, pipelines into the scan.  Cost is
    O(|terms|) per token with no index, so the list is capped at
    ``max_terms`` (real badword lists are a few hundred entries per
    language); a list beyond that belongs in a broadcast-join
    pipeline, and the guard says so rather than silently degrading
    the scan.
    """
    if not terms:
        raise ValueError("blocklist is empty")
    if len(terms) > max_terms:
        raise ValueError(
            f"blocklist has {len(terms)} terms (> {max_terms}); at that "
            "size use an explode + broadcast-join pipeline instead of a "
            "literal in-plan array"
        )
    lowered = sorted({t.lower() for t in terms})
    blk = F.array(*[F.lit(t) for t in lowered])
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(F.filter(toks, lambda t: F.array_contains(blk, t))).cast("long")
    # NULL text carries nothing blockable: report 0/false rather than
    # letting the null propagate into the flags (a null `blocked`
    # silently slips through a `WHERE NOT blocked` curation filter)
    n = F.coalesce(n, F.lit(0).cast("long"))
    return df.withColumn("n_blocked", n).withColumn(
        "blocked", F.col("n_blocked") > 0
    )


def pack_emit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str = "n_tokens",
    budget: int = 2048,
    num_groups: int = 1024,
    sep: str = "\n",
) -> DataFrame:
    """Materialize the packed training sequences that
    :func:`pack_token_budget` assigns: one row per (pack_group,
    seq_index) with the member documents' text concatenated in id
    order — the emission half of concat-and-chunk packing, the actual
    "write the training shards" step.

    Output: pack_group, seq_index, n_docs, seq_tokens (sum of member
    token counts — can overrun ``budget`` by at most one document, by
    the packing rule), and seq_text (members joined with ``sep``).

    Determinism: member order inside a sequence is id order, enforced
    with ``array_sort`` over (id, text) structs — ``collect_list``
    alone is arrival-ordered and not reproducible across retries, the
    classic silent nondeterminism in packing jobs.

    Scale shape: the assignment window and this aggregation share the
    pack_group partitioning (one shuffle total); per-sequence state is
    bounded by ``budget`` tokens plus one overrun document, so no
    group ever accumulates unbounded text.
    """
    a = pack_token_budget(
        df,
        id_col=id_col,
        token_col=token_col,
        budget=budget,
        num_groups=num_groups,
        keep_cols=[text_col],
    )
    seqs = a.groupBy("pack_group", "seq_index").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col(token_col)).cast("long").alias("seq_tokens"),
        F.array_sort(
            F.collect_list(
                F.struct(F.col(id_col).alias("k"), F.col(text_col).alias("t"))
            )
        ).alias("__members"),
    )
    return seqs.select(
        "pack_group",
        "seq_index",
        "n_docs",
        "seq_tokens",
        F.array_join(
            F.transform(F.col("__members"), lambda s: s["t"]), sep
        ).alias("seq_text"),
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    with_lineage: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Paragraph-grain exact dedup — the C4 / RefinedWeb step: split
    each document on ``sep``, drop every repeat of a paragraph seen
    anywhere in the corpus (boilerplate, cookie banners, syndicated
    intros), keep first occurrences, and reassemble the documents.

    "First occurrence" is global and deterministic: the instance with
    the smallest ``(doc id, paragraph position)`` wins — so reruns and
    stage retries keep identical paragraphs, and a SQL oracle replays
    the choice exactly.  Empty paragraphs (consecutive separators,
    leading/trailing ``sep``) are dropped as structure, not content —
    C4 does the same at the line grain.  A document whose every
    paragraph was dropped (or whose text was empty) survives as a row
    with ``text = ''`` and ``n_kept = 0`` — dropping documents is a
    separate policy decision left to the caller.

    Output: ``(id_col, text, n_paras, n_kept)`` with ``n_paras`` the
    document's non-empty paragraph count before dedup.  With
    ``with_lineage=True`` returns ``(result, mapping)`` where
    ``mapping`` is a ManyToOne provenance table — one row per
    non-empty input paragraph instance, ``(src_id, src_pos, kept_id,
    kept_pos, fp)``, mapping it to the kept first occurrence (identity
    row = survivor); the Where/Pick rid-mapping idea from the DTL
    trace subsystem (lineage.py), extended to the pipeline stack.

    The dedup key is the same 60-bit truncated-md5 fingerprint as the
    duplication census (:func:`_window_fingerprints` rationale: 8-byte
    shuffle key, collisions immaterial at 2^60 and replayed exactly by
    the oracle).

    Scale shape: two linear exchanges and nothing pairwise — (1) hash
    by fingerprint for the first-occurrence choice, (2) hash by doc id
    to reassemble.  The first-occurrence choice is a
    ``min(struct(id, pos, text))`` aggregation, NOT a per-fingerprint
    ``row_number`` window: min is partial-aggregable, so a hot
    boilerplate paragraph (cookie banner repeated millions of times —
    the exact key this operator exists for) combines down to ONE
    candidate row per map task before the shuffle, instead of funneling
    every instance's full text into a single reducer's sort.  Reducer
    state per fingerprint is one struct, independent of the duplicate
    count.  Paragraph rows are a bounded fan-out of the corpus (the
    text split once), and no step holds more than a document's
    paragraphs in one aggregation buffer.
    """
    import re as _re

    # sep is a literal separator, not a regex — escape it for split()
    paras_arr = F.filter(
        F.split(F.col(text_col), _re.escape(sep), -1), lambda x: x != ""
    )
    docs = df.select(
        F.col(id_col),
        paras_arr.alias("__paras"),
        F.size(paras_arr).cast("long").alias("n_paras"),
    )
    exploded = docs.select(
        id_col,
        F.posexplode("__paras").alias("__pos", "__para"),
    ).withColumn(
        "__fp",
        F.conv(F.substring(F.md5(F.col("__para")), 1, 15), 16, 10).cast("long"),
    )
    # min(struct) picks the smallest (id, pos) instance exactly like
    # the window's rank-1 row would (struct comparison is field-major,
    # NULLS FIRST — the same NULL order row_number's default ascending
    # sort used), but partial-aggregates map-side: the skew-safe shape
    # for a key that is hot by construction.
    first = exploded.groupBy("__fp").agg(
        F.min(
            F.struct(
                F.col(id_col).alias("i"),
                F.col("__pos").alias("p"),
                F.col("__para").alias("t"),
            )
        ).alias("__first")
    )
    kept = first.select(
        F.col("__first.i").alias(id_col),
        F.col("__first.p").alias("__pos"),
        F.col("__first.t").alias("__para"),
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("__pos").alias("p"), F.col("__para").alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            sep,
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    result = (
        docs.select(id_col, "n_paras")
        .join(reassembled, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_paras",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )
    if not with_lineage:
        return result
    # ManyToOne provenance (the reference's Where/Pick mapping shape,
    # /root/reference/src/dtl/mappings.py — extended here to the
    # LLM-pipeline stack): every non-empty input paragraph instance
    # maps to the kept instance that represents it after dedup;
    # identity rows (src == kept) mark survivors, the rest are the
    # drop audit trail.  Scale shape: one fp-keyed equi-join between
    # the instance rows and the ONE-row-per-fingerprint first table —
    # linear, nothing pairwise, and because the build side holds
    # exactly one row per key, a hot boilerplate fingerprint is
    # AQE-skew-splittable (the probe partition splits across tasks,
    # each pairing with the same single build row) — unlike a window,
    # which would force single-task processing of the hot key.
    mapping = exploded.join(first, on="__fp").select(
        F.col(id_col).alias("src_id"),
        F.col("__pos").cast("long").alias("src_pos"),
        F.col("__first.i").alias("kept_id"),
        F.col("__first.p").cast("long").alias("kept_pos"),
        F.col("__fp").alias("fp"),
    )
    return result, mapping


#: html_to_text regexes — the Java-regex/RE2-common subset (the
#: pii_scrub convention): (?is) flags, non-greedy block bodies, no
#: backreferences/lookaround, so DuckDB replays byte-for-byte.
#: Whitespace in the closing tags is the EXPLICIT class, never ``\s``
#: (Java's ``\s`` includes ``\x0B``, RE2's does not — the same VT
#: divergence fixed in URL_RE; ``</script\x0B>`` must close the block
#: in both engines or neither).
HTML_SCRIPT_RE = r"(?is)<script\b[^>]*>.*?</script[ \t\n\r\f\x0B]*>"
HTML_STYLE_RE = r"(?is)<style\b[^>]*>.*?</style[ \t\n\r\f\x0B]*>"
HTML_COMMENT_RE = r"(?s)<!--.*?-->"
HTML_TAG_RE = r"(?s)<[^>]*>"

#: Named entities decoded (amp LAST so '&amp;lt;' yields the literal
#: '&lt;' instead of double-decoding into '<').  Numeric character
#: references stay as-is: decoding them needs per-codepoint chr(), a
#: different cost class than a fixed replace chain — documented scope.
HTML_ENTITIES = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&amp;", "&"),
]


def html_to_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Crawl-front HTML → text extraction (the WET step): drop
    script/style blocks and comments, strip every remaining tag to a
    space, decode the common named entities, collapse whitespace to
    the single-space normal form and trim.

    Deliberately a FIXED REGEX PIPELINE, not a parser: the patterns
    are the Java-regex/RE2-common subset (the ``pii_scrub``
    convention) so the whole stage is engine-exact and DuckDB-
    replayable — the honest scope of tagged-text cleanup, not a
    browser (malformed nesting degrades to extra whitespace, never an
    error; numeric character references pass through undecoded —
    ``HTML_ENTITIES`` documents the decode table, amp-last so
    double-escaped entities single-decode like a real parser).  NULL
    text stays NULL.

    Scale shape: pure row-local map — chained ``regexp_replace`` +
    ``replace`` in one codegen'd stage, zero Exchange, zero Python
    (``test_html_to_text_is_pure_map``); fuses into the ingest scan.
    """
    t = df["`{}`".format(text_col.replace("`", "``"))]
    out = F.regexp_replace(t, HTML_SCRIPT_RE, " ")
    out = F.regexp_replace(out, HTML_STYLE_RE, " ")
    out = F.regexp_replace(out, HTML_COMMENT_RE, " ")
    out = F.regexp_replace(out, HTML_TAG_RE, " ")
    for entity, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(entity), F.lit(ch))
    # explicit whitespace class, never \s: Java and RE2 disagree on
    # vertical tab inside \s (the repetition_flags r16 lesson) — hex
    # escapes mean the same thing in both engines
    out = F.trim(F.regexp_replace(out, "[ \\t\\n\\r\\f\\x0B]+", " "))
    name = out_col or text_col
    return df.select(
        *[c for c in df.columns if c != name],
        out.alias(name),
    )
