"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
and embedding-cosine near-dup.

Scale design notes (the point of this module — SURVEY.md §6 / M6):

* Exact dedup is a hash aggregation — one shuffle on the dedup key, no
  driver involvement, AQE handles skew.
* Candidate generation for near-dup is always *inverted-index shaped*:
  explode to (feature, doc) pairs, self-join on feature, aggregate.
  The join key is the feature hash, so Catalyst picks a shuffled hash
  join; frequency capping (``max_feature_freq``) bounds the quadratic
  blowup of hot features, which is the classic skew killer at 100 TB.
* MinHash signatures use xxhash64 (JVM, vectorized), never Python.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from python_dtl_spark.operators.embeddings import _dot as _vec_dot
from python_dtl_spark.operators.partitioning import spread as _spread
from python_dtl_spark.operators.text import tokens

# last checkpoint dir requested via lsh_dedup_keep, per applicationId —
# lets repeat calls skip redundant setCheckpointDir (each call mints a
# fresh UUID subdir) while still honoring a caller's changed dir
_LAST_CHECKPOINT_DIR: dict[str, str] = {}


# every persisted intermediate registered by _release_after, keyed by
# applicationId — the bulk-release valve for long-lived sessions (see
# release_all_cached)
_SESSION_CACHES: dict[str, list[DataFrame]] = {}


def _release_after(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Attach a ``release_cached()`` handle freeing the operator's
    persisted intermediates.

    The intermediates must stay cached until the caller has run its
    action(s) on ``result``, so they cannot be unpersisted inside the
    operator — and no automatic hook is safe either: a GC finalizer on
    ``result`` fires the moment the caller derives a new DataFrame
    from it (``op(df).select(...)`` drops the wrapper immediately),
    unpersisting the cache before the job runs and silently reverting
    to full recompute.  So cleanup is explicit: long-lived sessions
    issuing many operator calls should invoke ``release_cached()``
    after consuming the result — or, since deriving a new DataFrame
    drops the handle, call :func:`release_all_cached` between queries
    (the bench and oracle harnesses do).  Unreleased caches are
    persisted at the default MEMORY_AND_DISK level, so under memory
    pressure Spark evicts them rather than failing.
    """
    try:
        app = result.sparkSession.sparkContext.applicationId
        _SESSION_CACHES.setdefault(app, []).extend(cached)
    except Exception:
        pass

    def _release():
        for c in cached:
            try:
                c.unpersist()
            except Exception:
                pass

    result.release_cached = _release
    return result


def release_all_cached(spark=None) -> int:
    """Unpersist every operator-persisted intermediate registered in
    this process — scoped to one session when ``spark`` is given.

    The per-result ``release_cached()`` handle disappears as soon as a
    caller derives a new DataFrame from the result, so a harness
    looping many catalog queries in one session (bench, the oracle
    gate, a notebook) calls this between queries instead.  Safe at any
    point AFTER the query's action: unpersist on an already-released
    or evicted cache is a no-op.  Returns the number of frames
    released.
    """
    n = 0
    for app in list(_SESSION_CACHES):
        if spark is not None:
            try:
                if app != spark.sparkContext.applicationId:
                    continue
            except Exception:
                continue
        for c in _SESSION_CACHES.pop(app, []):
            try:
                c.unpersist()
                n += 1
            except Exception:
                pass
    return n


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Drop duplicate rows over ``cols`` (all columns when None)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dedup_canonical(
    df: DataFrame,
    key_col: str,
    content_cols: list[str],
    with_lineage: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Exact dedup keeping the canonical (minimum-key) row per content
    group — deterministic, unlike ``dropDuplicates``'s arbitrary pick.

    With ``with_lineage=True`` returns ``(result, mapping)`` where
    ``mapping`` is the ManyToOne provenance table ``(src_<key>,
    kept_<key>)`` — one row per input row, mapping it to the canonical
    survivor of its content group (identity row = survivor); the same
    Where/Pick rid-mapping shape as
    :func:`~python_dtl_spark.operators.text.dedup_paragraphs`'s
    lineage.  Scale shape: ONE content-keyed equi-join (null-safe, so
    NULL-content groups map like any other) against the
    one-row-per-group canonical table — linear, and a hot content key
    (the empty document, a boilerplate page) is AQE-skew-splittable
    because the build side holds exactly one row per group.
    """
    result = df.groupBy(*[F.col(c) for c in content_cols]).agg(
        F.min(F.col(key_col)).alias(key_col)
    )
    if not with_lineage:
        return result
    kept = result.withColumnRenamed(key_col, "__edc_kept")
    cond = None
    for c in content_cols:
        clause = df[c].eqNullSafe(kept[c])
        cond = clause if cond is None else (cond & clause)
    mapping = df.join(kept, on=cond).select(
        df[key_col].alias(f"src_{key_col}"),
        F.col("__edc_kept").alias(f"kept_{key_col}"),
    )
    return result, mapping


def keep_newest_canonical(
    df: DataFrame,
    key_col: str,
    content_cols: list[str],
    time_col: str,
) -> DataFrame:
    """Recrawl refresh (registered r16 as ``pipeline_recrawl_refresh``):
    keep the NEWEST row per content group — the SCD-style sibling of
    :func:`exact_dedup_canonical` (which keeps the minimum key, i.e.
    the FIRST crawl).  A crawl pipeline that re-fetches known URLs
    wants the latest snapshot of each page plus its crawl history, not
    the first: group on the canonical key (canonical URL, content
    hash, …), elect ``max(struct(time, key))`` — newest fetch wins,
    exact ties (same ``time_col``) break to the larger ``key_col``,
    so the election is deterministic with no float or ordering
    ambiguity — and summarize the group's crawl history.

    Returns one row per content group: the ``content_cols``, the
    elected ``key_col`` and ``time_col`` values, and the exact-integer
    history summary ``n_crawls`` / ``first_fetch`` / ``last_fetch``
    (``last_fetch`` always equals the elected time by construction —
    emitted anyway so downstream SCD consumers get the familiar
    validity-interval pair).

    Scale shape: ONE content-keyed hash aggregation whose every
    measure (max-struct, count, min, max) is partial-aggregable —
    map-side combine absorbs a hot URL (a hub page recrawled hourly)
    before the exchange; no window, no join
    (``test_recrawl_refresh_is_map_side_max_agg``)."""
    missing = [c for c in content_cols + [key_col, time_col]
               if c not in df.columns]
    if not content_cols or missing:
        raise ValueError(
            f"content_cols/key_col/time_col must name existing columns; "
            f"missing {missing} (columns: {df.columns})"
        )
    if key_col == time_col:
        raise ValueError(
            f"key_col and time_col must be distinct columns, got "
            f"{key_col!r} for both (the election struct needs two "
            "fields; an identical pair also makes the tie-break "
            "meaningless)"
        )
    if "__kn" in df.columns or "__kn" in (key_col, time_col, *content_cols):
        raise ValueError(
            "keep_newest_canonical uses internal working column '__kn' "
            "which already exists on the input; rename or drop it first"
        )
    # Fixed internal field names (__kn_t/__kn_k): getField then targets
    # known names, and a dotted key/time column can't misparse inside
    # the struct constructor (refs are backtick-quoted like
    # sampling._ref).
    def _q(name: str):
        return df["`{}`".format(name.replace("`", "``"))]

    kept = F.max(
        F.struct(_q(time_col).alias("__kn_t"), _q(key_col).alias("__kn_k"))
    ).alias("__kn")
    out = df.groupBy(*[F.col(c) for c in content_cols]).agg(
        kept,
        F.count(F.lit(1)).alias("n_crawls"),
        F.min(_q(time_col)).alias("first_fetch"),
        F.max(_q(time_col)).alias("last_fetch"),
    )
    # getField on the fixed internal names, output re-aliased to the
    # caller's (possibly dotted) key/time names
    return out.select(
        *content_cols,
        F.col("__kn").getField("__kn_k").alias(key_col),
        F.col("__kn").getField("__kn_t").alias(time_col),
        "n_crawls",
        "first_fetch",
        "last_fetch",
    )


def soft_dedup_weights(
    df: DataFrame,
    content_cols: list[str],
    count_col: str = "dup_count",
    weight_col: str = "sample_weight",
) -> DataFrame:
    """SOFT deduplication (registered r15 as ``doc_softdedup_weights``):
    instead of DROPPING duplicated documents, DOWN-WEIGHT them — every
    row gains its exact-content group size (``count_col``, an exact
    integer) and the training weight ``1 / group_size``
    (``weight_col``, ONE exactly-rounded IEEE division both engines
    compute bit-identically).  Training on the weighted corpus then
    sees each distinct content exactly once in expectation — the soft
    counterpart of :func:`exact_dedup_canonical` (SlimPajama-class
    pipelines drop; soft-dedup recipes reweight so rare phrasings
    inside duplicated boilerplate still contribute gradient signal).
    Compose with ``sampling.weighted_sample`` (probabilistic) or
    ``sampling.importance_resample`` (via ``ln(weight)``) to realize
    the weights as a sample.

    NULL content groups like any other value (null-safe grouping —
    the ``exact_dedup_canonical`` lineage convention): all-NULL docs
    are mutual duplicates.

    Scale shape: ONE content-keyed hash aggregation (map-side partial
    counts) + ONE content-keyed equi-join back — linear; a hot
    content key (the empty document, a boilerplate page) is
    AQE-skew-splittable because the build side holds exactly one row
    per group.  No window (a count-over-content-partition window
    would funnel each group through one task's sort).  Extension
    operator (SURVEY §2.5)."""
    internals = ["__sd_n"] + [f"__sd_c{i}" for i in range(len(content_cols))]
    for internal in internals:
        if internal in df.columns:
            raise ValueError(
                f"soft_dedup_weights uses internal working column "
                f"{internal!r} which already exists on the input; "
                "rename or drop it first"
            )
    for c in (count_col, weight_col):
        if c in df.columns:
            raise ValueError(
                f"output column {c!r} already exists on the input; "
                "pass a different count_col/weight_col"
            )
    missing = [c for c in content_cols if c not in df.columns]
    if not content_cols or missing:
        raise ValueError(
            f"content_cols must name existing columns; missing "
            f"{missing} (columns: {df.columns})"
        )
    # internal names on the group side: both join inputs descend from
    # df, and same-named content refs trip the ambiguous-self-join
    # analyzer check
    groups = (
        df.groupBy(*[F.col(c).alias(f"__sd_c{i}") for i, c in
                     enumerate(content_cols)])
        .agg(F.count(F.lit(1)).alias("__sd_n"))
    )
    cond = None
    for i, c in enumerate(content_cols):
        clause = df[c].eqNullSafe(F.col(f"__sd_c{i}"))
        cond = clause if cond is None else (cond & clause)
    joined = df.join(groups, on=cond)
    return joined.select(
        *[df[c] for c in df.columns],
        F.col("__sd_n").alias(count_col),
        (F.lit(1.0) / F.col("__sd_n")).alias(weight_col),
    )


def _shingles(text_col, n: int):
    """Word n-gram shingles (distinct), built JVM-side.

    Sliding window via ``arrays_zip`` of n shifted slices — O(tokens)
    per document, unlike the naive per-index ``slice`` construction
    which is O(tokens²) and measurably 5× slower at sf0.1.
    """
    toks = tokens(F.lower(text_col))
    if n == 1:
        # same empty-doc fallback as the n>=2 path: an empty/NULL text
        # yields the [""] shingle rather than an empty array, so such
        # docs survive the explode (all empty docs are mutual
        # duplicates, which is what byte-identical means here)
        return F.array_distinct(
            F.when(F.size(toks) >= 1, toks).otherwise(F.array(F.lit("")))
        )
    sz = F.size(toks)
    window_len = F.greatest(sz - (n - 1), F.lit(0))
    shifted = [
        F.slice(toks, i + 1, window_len).alias(f"t{i}") for i in range(n)
    ]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[f"t{i}"] for i in range(n)]),
    )
    return F.array_distinct(
        F.when(sz >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_feature_freq: int | None = None,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Inverted-index plan: explode shingles → self-join on shingle →
    count common shingles per pair → Jaccard from exact set sizes.
    ``max_feature_freq`` drops shingles present in more than that many
    documents before the join — at scale, hot shingles (boilerplate)
    otherwise contribute O(freq²) candidate pairs while carrying no
    discriminating signal.

    Output: (id_a, id_b, common, size_a, size_b, jaccard), id_a < id_b.
    The Jaccard value is a single division of exact integers, so the
    DuckDB oracle matches it bit-for-bit.
    """
    # one row per id (see minhash_lsh_pairs): duplicate ids would
    # re-expand every output pair through the sizes join-backs.  The
    # dedupe is one extra exchange; callers who guarantee unique ids
    # (the common case at scale) skip it with assume_unique_ids=True.
    base = _spread(df).select(
        F.col(id_col).alias("__id"), _shingles(F.col(text_col), n).alias("__sh")
    )
    if not assume_unique_ids:
        base = base.dropDuplicates(["__id"])
    sizes = base.select(F.col("__id"), F.size("__sh").cast("long").alias("__sz"))
    exploded = base.select(F.col("__id"), F.explode("__sh").alias("__f"))
    if max_feature_freq is not None:
        freq_ok = (
            exploded.groupBy("__f")
            .count()
            .filter(F.col("count") <= max_feature_freq)
            .select("__f")
        )
        exploded = exploded.join(freq_ok, on="__f", how="inner")
    left = exploded.select(F.col("__id").alias("id_a"), F.col("__f"))
    right = exploded.select(F.col("__id").alias("id_b"), F.col("__f"))
    common = (
        left.join(right, on="__f", how="inner")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(
            sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("size_a")),
            on="id_a",
        )
        .join(
            sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("size_b")),
            on="id_b",
        )
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "common", "size_a", "size_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
) -> DataFrame:
    """MinHash signatures: per permutation i, min over shingles of a
    derived hash h_i(shingle).

    Classic two-level construction: hash each shingle STRING once
    (``xxhash64``), then derive the ``num_hashes`` permutations by
    re-hashing the resulting 8-byte long with the permutation index as
    seed — long re-hashing is far cheaper than re-hashing a ~300-char
    string per permutation, and the whole pipeline (explode → hash →
    N min-aggregates) stays inside whole-stage codegen.  (A per-row
    ``array_min(transform(...))`` variant avoids the shuffle but
    higher-order functions are interpreted per element — measured
    slower end-to-end.)

    Scale shape: the only shuffle carries map-side-combined partial
    mins — num_docs × num_hashes longs, independent of shingle count."""
    base = _spread(df).select(
        F.col(id_col).alias("__id"), _shingles(F.col(text_col), n).alias("__sh")
    )
    hashed = base.select(F.col("__id"), F.explode("__sh").alias("__f")).select(
        F.col("__id"), F.xxhash64("__f").alias("__h")
    )
    aggs = [
        F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy("__id").agg(*aggs).withColumnRenamed("__id", id_col)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    prefilter_margin: float | None = 0.25,
    assume_unique_ids: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    shingle → minhash signature → hash each band of rows → bucket-join
    on (band, bucket) → candidate pairs → verify with exact Jaccard.
    Candidate generation is a self-join on band buckets, so cost is
    bounded by bucket occupancy rather than O(N²); the exact-Jaccard
    verification only runs on candidates.

    Scale valves (both measured necessary on a 16× replica stress set
    where duplicate clusters of ~50 docs produced 10M candidate slots):

    * ``prefilter_margin`` — before the (expensive) exact array
      intersection, estimate Jaccard from the signatures themselves
      (fraction of equal minhash positions, 32 long compares) and drop
      candidates estimated below ``threshold - margin``.  The estimate's
      std is ~sqrt(J(1-J)/num_hashes) ≈ 0.09, so the default 0.25
      margin is ~3σ — prunes bucket-collision junk, keeps borderline
      true pairs.  ``None`` disables.
    * ``max_bucket_size`` — skip buckets larger than this before the
      self-join; web-scale mega-buckets are boilerplate clusters whose
      *pair list* is rarely the artifact you want (use
      :func:`lsh_dedup_keep` for linear-output clustering instead).
      ``None`` (default) keeps everything.

    Output: (id_a, id_b, jaccard) with jaccard ≥ threshold, id_a < id_b.

    ``checkpoint_dir``: the shingle / signature / bucket intermediates
    below are each referenced 2-3× by the downstream plan; embedding
    the ~500-expression signature subtree 5-7× into the final DAG made
    Catalyst analysis itself the dominant cost of the composed
    pipelines (measured r20 — guide §3.3: very wide plans make
    planning the bottleneck; truncate with a materialised
    intermediate).  They are therefore materialised through
    :func:`_plan_truncator`: reliable ``checkpoint()`` when a dir is
    given (survives executor loss — pass it on a real cluster),
    ``localCheckpoint`` otherwise (fine single-node / test scale, same
    compute-once semantics the previous ``persist()`` had).
    """
    rows_per_band = num_hashes // bands
    _truncate = _plan_truncator(df.sparkSession, checkpoint_dir)
    # single materialised shingle projection feeds BOTH signature
    # generation and the exact-Jaccard verification — shingling (the
    # priciest per-row step) runs once per pipeline
    # dropDuplicates on the id: a duplicated doc_id would otherwise
    # blend BOTH rows' shingles into one chimera signature (min over
    # the union) at the groupBy AND re-expand every verified pair
    # through the shingle join-backs below.  One deterministic-enough
    # row per id feeds signature and verify alike.  The dedupe costs
    # one exchange of (id, shingles) rows; callers who guarantee
    # unique ids skip it with assume_unique_ids=True.
    sh = _spread(df).select(
        F.col(id_col).alias("__sid"), _shingles(F.col(text_col), n).alias("__sh")
    )
    if not assume_unique_ids:
        sh = sh.dropDuplicates(["__sid"])
    sh = _truncate(sh)
    hashed = sh.select(F.col("__sid"), F.explode("__sh").alias("__f")).select(
        F.col("__sid"), F.xxhash64("__f").alias("__h")
    )
    # materialised: consumed up to three times (banding + both prefilter
    # sides), each of which would otherwise replay the explode + hash +
    # 64-way min aggregation
    sigs = _truncate(
        hashed.groupBy("__sid")
        .agg(
            *[
                F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"mh_{i}")
                for i in range(num_hashes)
            ]
        )
        .withColumnRenamed("__sid", id_col)
    )
    band_cols = []
    for b in range(bands):
        members = [
            F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        band_cols.append(F.xxhash64(*members).alias(f"band_{b}"))
    banded = sigs.select(F.col(id_col).alias("__id"), *band_cols)
    buckets = banded.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("__id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # the self-join below references `buckets` twice — materialise the
    # narrow (id, band, bucket) projection so shingling + signatures
    # run once
    buckets = _truncate(buckets)
    if max_bucket_size is not None:
        ok = (
            buckets.groupBy("band", "bucket")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band", "bucket")
        )
        buckets = buckets.join(ok, on=["band", "bucket"], how="inner")
    cand = (
        buckets.alias("l")
        .join(buckets.alias("r"), on=["band", "bucket"], how="inner")
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .dropDuplicates()
    )
    if prefilter_margin is not None:
        sig_arr = F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)])
        sa = sigs.select(F.col(id_col).alias("id_a"), sig_arr.alias("__sa"))
        sb = sigs.select(F.col(id_col).alias("id_b"), sig_arr.alias("__sb"))
        eq = F.zip_with("__sa", "__sb", lambda x, y: (x == y).cast("int"))
        est = F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes)
        cand = (
            cand.join(sa, on="id_a")
            .join(sb, on="id_b")
            .filter(est >= F.lit(max(0.0, threshold - prefilter_margin)))
            .select("id_a", "id_b")
        )
    # Exact-Jaccard verification on candidates only: join the shingle
    # sets back onto the (small) candidate pair set and intersect the
    # arrays directly — cost is O(candidates), not the O(Σ df²) of the
    # full all-pairs inverted-index join.  The intersection (the
    # expensive part: a hash set per row) is computed exactly ONCE per
    # pair; array sizes are O(1) lookups.
    verified = (
        cand.join(sh.select(F.col("__sid").alias("id_a"), F.col("__sh").alias("sh_a")), on="id_a")
        .join(sh.select(F.col("__sid").alias("id_b"), F.col("__sh").alias("sh_b")), on="id_b")
        .withColumn(
            "__common", F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("__common")
            / (
                F.size("sh_a").cast("long")
                + F.size("sh_b").cast("long")
                - F.col("__common")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


def minhash_band_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """The STORABLE MinHash-LSH index: one ``(id, band, bucket)`` row
    per document per band, with exactly the hash construction of
    :func:`minhash_lsh_pairs` (xxhash64 shingle → seeded re-hash mins
    → per-band xxhash64), so an index written today joins correctly
    against signatures computed tomorrow.

    This is the artifact an INCREMENTAL pipeline persists between
    crawls: write it partitioned/bucketed by ``(band, bucket)`` once,
    and every future delta (:func:`crawl_delta_pairs`) probes it
    without re-reading — let alone re-shingling — the corpus text.

    Scale shape: identical to the signature stage of
    :func:`minhash_lsh_pairs` — ONE shuffle of map-side-combined
    partial mins (num_docs × num_hashes longs), then a row-local
    band-hash explode (bands rows/doc, no exchange)."""
    rows_per_band = num_hashes // bands
    sh = _spread(df).select(
        F.col(id_col).alias("__id"), _shingles(F.col(text_col), n).alias("__sh")
    )
    hashed = sh.select(F.col("__id"), F.explode("__sh").alias("__f")).select(
        F.col("__id"), F.xxhash64("__f").alias("__h")
    )
    sigs = hashed.groupBy("__id").agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )
    band_cols = [
        F.xxhash64(
            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select(F.col("__id"), *band_cols)
    return banded.select(
        F.col("__id").alias(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bb"),
    ).select(
        id_col,
        F.col("__bb.band").alias("band"),
        F.col("__bb.bucket").alias("bucket"),
    )


def merge_crawl_into_index(
    corpus_buckets: DataFrame,
    crawl: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    crawl_buckets: DataFrame | None = None,
) -> DataFrame:
    """Index MAINTENANCE (registered r17 via
    ``pipeline_index_maintenance``): append an accepted crawl's band
    buckets to a stored :func:`minhash_band_buckets` index — the last
    leg of the incremental-crawl loop a 100 TB pipeline runs daily
    (probe the index with :func:`crawl_delta_pairs`, drop the dups,
    merge the survivors, repeat tomorrow) without ever rebuilding the
    index from the full corpus.

    Bucket construction is strictly per-document, so the merge is
    EQUIVALENT to a from-scratch rebuild over corpus ∪ crawl —
    asserted row-for-row by
    ``test_merge_crawl_into_index_equals_rebuild`` — provided both
    sides were built with the same ``(n, num_hashes, bands)`` (an
    index row only ever joins against signatures computed with its
    own parameters; see :func:`minhash_band_buckets`).  Caller
    contract, matching the index's: ``crawl`` ids are unique and
    disjoint from the ids already indexed (dedupe upstream — an id
    collision would chimera two documents at probe time).

    Scale shape: the stored index passes through UNTOUCHED (a union
    is narrow — zero exchange on the corpus branch, plan-asserted by
    ``test_merge_index_touches_only_crawl``); the only shuffle is the
    crawl's own signature aggregation, i.e. the append costs
    crawl-sized work however large the corpus is.  At 100 TB the
    merged output is written back partitioned/bucketed by
    ``(band, bucket)``, which is also crawl-sized when the store
    supports partition append.

    ``crawl_buckets`` (r21, guide §1.2 "don't compute things twice"):
    the daily loop's probe (:func:`crawl_delta_pairs` with
    ``return_crawl_buckets=True``) has ALREADY banded the crawl; pass
    those rows (restricted to the accepted ids) and the merge skips
    the redundant crawl-sized shingle+hash+aggregate pass entirely —
    the append becomes a pure union.  Caller contract: the rows must
    be a :func:`minhash_band_buckets`-equivalent banding of exactly
    ``crawl``'s rows under the same ``(n, num_hashes, bands)``
    (bucket construction is strictly per-document, so the probe's
    banding of the same text IS that — pinned by
    ``test_crawl_delta_returned_buckets_equal_band_index``).  A row
    whose ``band`` lies outside ``[0, bands)`` fails the merge when it
    runs (``raise_error`` in the plan, no extra job): the buckets were
    banded under other parameters.  A banding with the same ``bands``
    but another ``n``/``num_hashes`` cannot be told apart this way."""
    expected = {id_col, "band", "bucket"}
    if not expected.issubset(set(corpus_buckets.columns)):
        raise ValueError(
            f"corpus_buckets must carry columns {sorted(expected)} (a "
            f"minhash_band_buckets output); got {corpus_buckets.columns}"
        )
    if crawl_buckets is None:
        crawl_buckets = minhash_band_buckets(
            crawl,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
        )
    else:
        if not expected.issubset(set(crawl_buckets.columns)):
            raise ValueError(
                f"crawl_buckets must carry columns {sorted(expected)} (a "
                f"minhash_band_buckets output); got {crawl_buckets.columns}"
            )
        # a banding under another ``bands`` shows as an out-of-range
        # band; the check rides the union's projection (no extra job)
        band = F.col("band")
        crawl_buckets = crawl_buckets.select(
            id_col,
            F.when(band.between(0, bands - 1), band)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(f"crawl_buckets band outside [0, {bands}): "),
                        F.coalesce(band.cast("string"), F.lit("NULL")),
                    )
                )
            )
            .alias("band"),
            "bucket",
        )
    return corpus_buckets.select(id_col, "band", "bucket").unionByName(
        crawl_buckets.select(id_col, "band", "bucket")
    )


def crawl_delta_pairs(
    corpus: DataFrame,
    crawl: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
    corpus_buckets: DataFrame | None = None,
    prefilter_buckets: int | None = 1 << 16,
    max_bucket_size: int | None = None,
    assume_unique_ids: bool = False,
    checkpoint_dir: str | None = None,
    return_crawl_buckets: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """INCREMENTAL near-dup dedup: which documents of a NEW crawl
    near-duplicate (MinHash grain, exact-Jaccard verified) a document
    already in the corpus — the delta sibling of
    :func:`minhash_lsh_pairs`, asymmetric like
    :func:`contamination_pairs` so the 100 TB corpus never pays for
    the arrival of a 100 GB crawl.

    The corpus side is an LSH INDEX — pass ``corpus_buckets`` (the
    stored :func:`minhash_band_buckets` output, written bucketed by
    ``(band, bucket)`` at index-build time) and the corpus TEXT is
    touched only for verification of the (tiny) candidate set; when
    ``corpus_buckets`` is None it is derived inline (one-shot mode).
    Asymmetry valves, mirroring ``contamination_pairs``:

    * ``prefilter_buckets`` — Bloom-style: the crawl's DISTINCT
      ``xxhash64(band, bucket) % m`` ids (≤ m longs) broadcast as a
      LEFT SEMI join over the corpus index, so an index row colliding
      with no crawl bucket never reaches the equi-join exchange.
      False positives die in the exact ``(band, bucket)`` equi-join —
      output is bit-identical with the prefilter on or off.
    * ``max_bucket_size`` — measured on the CORPUS index: skip
      mega-buckets (web boilerplate clusters) before candidate
      generation; ``None`` keeps everything.

    Verification re-shingles only corpus docs that appear in a
    candidate pair (broadcast semi-join on candidate ids — at scale
    this is a pushed-down id filter over the corpus store), then one
    exact array intersection per pair.  Output:
    ``(crawl_id, corpus_id, jaccard)`` with jaccard ≥ ``threshold`` —
    drop those crawl docs (or route to :func:`soft_dedup_weights`)
    before appending the crawl.

    Scale shape: the only corpus-wide work is reading the stored
    index (and not even that, under partition pruning by the Bloom
    prefilter); every shuffle is crawl-sized or candidate-sized.
    Extension operator (SURVEY §2.5) — the reference has no
    incremental path (full re-run per crawl, `eval.py`).

    Duplicate ids: as in :func:`minhash_lsh_pairs`, a duplicated
    crawl ``id_col`` would blend both rows' shingles into one chimera
    signature at the min-aggregate AND fan out every verified pair
    through the shingle join-back — so the crawl shingle projection
    is deduplicated by id unless ``assume_unique_ids=True`` skips
    that exchange.  The corpus side's contract is the INDEX's: build
    ``corpus_buckets`` from a unique-id corpus (the inline derivation
    inherits whatever the corpus contains).

    ``checkpoint_dir``: the crawl-side intermediates below are each
    referenced 2-3× downstream; as in :func:`minhash_lsh_pairs` they
    are materialised through :func:`_plan_truncator` so the composed
    daily-loop plans (probe → merge → probe) stay analysis-cheap —
    reliable ``checkpoint()`` when a dir is given (real cluster),
    ``localCheckpoint`` otherwise.

    ``return_crawl_buckets=True`` (r21) additionally returns the
    already-materialised crawl banding as ``(id_col, band, bucket)``,
    so the daily loop's merge step
    (:func:`merge_crawl_into_index`) can append the accepted ids'
    buckets WITHOUT re-shingling the crawl — one fewer crawl-sized
    pass per day.  The rows are exactly
    ``minhash_band_buckets(crawl)`` for a unique-id crawl (pinned by
    ``test_crawl_delta_returned_buckets_equal_band_index``); under
    ``assume_unique_ids=False`` they follow the internally
    id-deduplicated crawl, matching the index's unique-id contract."""
    _truncate = _plan_truncator(crawl.sparkSession, checkpoint_dir)
    # crawl shingles materialised: feed bucket generation AND
    # verification
    c_sh = _spread(crawl).select(
        F.col(id_col).alias("__cid"), _shingles(F.col(text_col), n).alias("__csh")
    )
    if not assume_unique_ids:
        c_sh = c_sh.dropDuplicates(["__cid"])
    c_sh = _truncate(c_sh)
    # crawl buckets from the persisted shingles (minhash_band_buckets
    # would re-tokenize; this replays only its hash algebra on __csh)
    rows_per_band = num_hashes // bands
    c_hashed = c_sh.select(
        F.col("__cid"), F.explode("__csh").alias("__f")
    ).select(F.col("__cid"), F.xxhash64("__f").alias("__h"))
    c_sigs = c_hashed.groupBy("__cid").agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )
    c_band_cols = [
        F.xxhash64(
            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    crawl_buckets = (
        c_sigs.select(F.col("__cid"), *c_band_cols)
        .select(
            F.col("__cid"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.col(f"band_{b}").alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("__bb"),
        )
        .select(
            F.col("__cid"),
            F.col("__bb.band").alias("band"),
            F.col("__bb.bucket").alias("bucket"),
        )
    )
    crawl_buckets = _truncate(crawl_buckets)
    if corpus_buckets is None:
        corpus_buckets = minhash_band_buckets(
            corpus,
            id_col=id_col,
            text_col=text_col,
            n=n,
            num_hashes=num_hashes,
            bands=bands,
        )
    k_buckets = corpus_buckets.select(
        F.col(id_col).alias("__kid"), F.col("band"), F.col("bucket")
    )
    if max_bucket_size is not None:
        ok = (
            k_buckets.groupBy("band", "bucket")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("band", "bucket")
        )
        k_buckets = k_buckets.join(ok, on=["band", "bucket"], how="inner")
    if prefilter_buckets is not None:
        m = F.lit(prefilter_buckets)
        probe = crawl_buckets.select(
            F.pmod(F.xxhash64(F.col("band"), F.col("bucket")), m).alias("__pb")
        ).dropDuplicates(["__pb"])
        k_buckets = k_buckets.join(
            F.broadcast(probe),
            F.pmod(
                F.xxhash64(k_buckets["band"], k_buckets["bucket"]), m
            )
            == F.col("__pb"),
            "left_semi",
        )
    # cand stays a persist() (not a checkpoint): its subtree is already
    # small once c_sh / crawl_buckets are truncated, and truncating it
    # would hide the stored-index FileScan from the final plan — the
    # incremental contract (corpus text never re-bucketed) is asserted
    # against that plan by test_crawl_delta_corpus_side_never_rebuckets
    cand = (
        crawl_buckets.join(k_buckets, on=["band", "bucket"], how="inner")
        .select(F.col("__cid"), F.col("__kid"))
        .dropDuplicates()
        .persist()
    )
    # verify: re-shingle ONLY corpus docs in a candidate pair
    hit_ids = cand.select(F.col("__kid").alias(id_col)).dropDuplicates()
    k_hit = _spread(corpus).join(F.broadcast(hit_ids), on=id_col, how="left_semi")
    k_sh = k_hit.select(
        F.col(id_col).alias("__kid"), _shingles(F.col(text_col), n).alias("__ksh")
    )
    verified = (
        cand.join(c_sh, on="__cid")
        .join(k_sh, on="__kid")
        .withColumn(
            "__common", F.size(F.array_intersect("__csh", "__ksh")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("__common")
            / (
                F.size("__csh").cast("long")
                + F.size("__ksh").cast("long")
                - F.col("__common")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("__cid").alias("crawl_id"),
            F.col("__kid").alias("corpus_id"),
            "jaccard",
        )
    )
    verified = _release_after(verified, cand)
    if return_crawl_buckets:
        return verified, crawl_buckets.select(
            F.col("__cid").alias(id_col), "band", "bucket"
        )
    return verified


def crawl_delta_pairs_stream(
    crawl: DataFrame,
    corpus_buckets: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """STREAMING-LEGAL tier of :func:`crawl_delta_pairs`: flag
    near-duplicates of the existing corpus on a LIVE crawl feed
    (readStream) — the row_local precedent applied to MinHash.

    The batch operator's signature stage is an explode + groupBy
    min-aggregate (stateful on a stream); here the whole signature +
    banding computation is ROW-LOCAL (``array_min`` over interpreted
    higher-order transforms — slower per row than the codegen'd batch
    aggregation, the measured trade documented at
    :func:`minhash_signatures`), so the only non-map operators are two
    STREAM-STATIC inner joins (both legal in append mode): crawl band
    rows × the stored ``corpus_buckets`` index, then candidates × the
    static corpus text for the exact-Jaccard verify.  Same hash
    algebra as the batch path — a pair flagged here is flagged there.

    Output: (crawl_id, corpus_id, jaccard ≥ threshold).  A pair may
    repeat once per colliding band (≤ ``bands`` duplicates, identical
    values): batch consumers ``dropDuplicates``, stream consumers
    ``dropDuplicatesWithinWatermark`` — statefully deduping here would
    force a watermark contract onto every caller.

    Scale note: each band row carries its document's shingle array to
    the verify join (~``bands``× fan-out of the crawl payload) — fine
    for a live feed's incremental volume; BULK re-processing should
    use the batch operator, whose exchanges are candidate-sized."""
    rows_per_band = num_hashes // bands
    sh = _shingles(F.col(text_col), n)
    staged = crawl.select(
        F.col(id_col).alias("__cid"), sh.alias("__csh")
    ).select(
        "__cid",
        "__csh",
        F.transform("__csh", lambda s: F.xxhash64(s)).alias("__ch"),
    )
    sig_cols = [
        F.array_min(
            F.transform("__ch", lambda h: F.xxhash64(h, F.lit(i)))
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    sigs = staged.select("__cid", "__csh", *sig_cols)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.col(f"mh_{b * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "__cid", "__csh", F.explode(band_structs).alias("__bb")
    ).select(
        "__cid",
        "__csh",
        F.col("__bb.band").alias("band"),
        F.col("__bb.bucket").alias("bucket"),
    )
    k_buckets = corpus_buckets.select(
        F.col(id_col).alias("__kid"), F.col("band"), F.col("bucket")
    )
    cand = banded.join(k_buckets, on=["band", "bucket"], how="inner")
    k_sh = _spread(corpus).select(
        F.col(id_col).alias("__kid"), _shingles(F.col(text_col), n).alias("__ksh")
    )
    return (
        cand.join(k_sh, on="__kid", how="inner")
        .withColumn(
            "__common", F.size(F.array_intersect("__csh", "__ksh")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("__common")
            / (
                F.size("__csh").cast("long")
                + F.size("__ksh").cast("long")
                - F.col("__common")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("__cid").alias("crawl_id"),
            F.col("__kid").alias("corpus_id"),
            "jaccard",
        )
    )


# Candidate-graph size valve for the driver union-find tier of
# keep_one_from_pairs / lsh_dedup_keep (the MAX_LITERAL_CENTROIDS
# pattern, r20): at or below this many edge rows the near-duplicate
# candidate graph is collected (guarded by an explicit count FIRST)
# and its connected components solved in one pass on the driver — two
# small jobs instead of O(diameter) iterative join+checkpoint rounds.
# Above the valve the distributed min-label propagation loop runs
# unchanged.  Candidate edges are a tiny fraction of the corpus by
# construction (banded LSH / pigeonhole blocking), but the valve keeps
# the collect bounded no matter what the data does.
#
# SIZING (r20 verdict item 4 — the cap and the driver heap are a
# PAIR): at the cap the collect holds ≤ 1M edge Rows plus ≤ 2M node
# ids as Python objects — ~0.5–1 GiB of driver RSS on top of the JVM.
# The default assumes the default SPARK_GRAFT_DRIVER_MEM=8g (session.py)
# and a similarly-sized Python driver budget; if you shrink the driver
# (or embed in a memory-tight service), scale ``max_driver_edges`` down
# proportionally — e.g. ≤100_000 edges for a 1g driver.  Setting
# ``max_driver_edges=0`` disables the driver tier entirely (pure
# distributed path).
MAX_DRIVER_COMPONENT_EDGES = 1_000_000


def _component_minima(edges, skip_nodes=frozenset()):
    """Union-find with path compression over an edge iterable; returns
    ``{node: component_minimum}`` for every non-skipped node seen.
    ``component_minimum`` is the min over the component's nodes that
    are comparable (all ids — bucket tuple nodes are filtered by the
    caller).  Nodes in ``skip_nodes`` (and None) relay nothing, exactly
    like a node with no label row in the distributed loop."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a is None or b is None or a in skip_nodes or b in skip_nodes:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return parent, find


def _plan_truncator(spark, checkpoint_dir: str | None):
    """Return a function that truncates a DataFrame's logical plan.

    With ``checkpoint_dir`` set, uses fault-tolerant reliable
    ``checkpoint()`` (survives executor loss — required on a real
    cluster, where a lost executor invalidates ``localCheckpoint``
    blocks mid-iteration and kills the job); otherwise
    ``localCheckpoint`` (fine single-node / test scale).

    Always honors the caller's directory — silently keeping a
    previously-set dir would land checkpoints in a location the caller
    may be about to delete.  The call is skipped only when this exact
    dir was the last one WE requested: comparing against
    ``getCheckpointDir()`` never matches, because Spark stores a
    fully-qualified path with a random UUID subdir, so that "guard"
    would mint a fresh UUID subdir per invocation.
    """
    if checkpoint_dir is not None:
        ctx_key = spark.sparkContext.applicationId
        if _LAST_CHECKPOINT_DIR.get(ctx_key) != checkpoint_dir:
            spark.sparkContext.setCheckpointDir(checkpoint_dir)
            _LAST_CHECKPOINT_DIR[ctx_key] = checkpoint_dir

        def _truncate(d: DataFrame) -> DataFrame:
            # reliable checkpoint must stay EAGER: a lazy checkpoint()
            # writes its files in a separate job that re-runs the whole
            # lineage, doubling the compute it is meant to save
            return d.checkpoint(eager=True)

    else:

        def _truncate(d: DataFrame) -> DataFrame:
            # lazy: the plan is truncated immediately (LogicalRDD), the
            # blocks are computed and cached by the caller's next action
            # (the convergence count) — one job per round, not two (r20)
            return d.localCheckpoint(eager=False)

    return _truncate


def keep_one_from_pairs(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    with_lineage: bool = False,
    max_driver_edges: int | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Connected components over an explicit near-duplicate edge list:
    (id, cluster_id, keep) with ``keep`` true for each cluster's
    minimum id.

    Generic keep-one reducer for any pair-producing near-dup operator
    (:func:`embedding_near_dup_pairs`, :func:`simhash_near_pairs`,
    :func:`ngram_jaccard_pairs` …): min-label propagation along edges
    until fixpoint, plan-truncated per round (see
    :func:`_plan_truncator`).  ``ids`` supplies the full id universe so
    rows with no near-duplicate come out as singleton keepers.

    With ``with_lineage=True`` returns ``(result, mapping)`` where
    ``mapping`` is the ManyToOne provenance table ``(src_<id_col>,
    kept_<id_col>)`` answering "why was this document dropped": every
    input id maps to its cluster's surviving minimum id (identity row
    = survivor).  The converged ``cluster_id`` IS that survivor (min-
    label propagation fixes every label to the component minimum, the
    one row with ``keep``), so the mapping is a zero-cost PROJECTION
    of the result — no extra join, shuffle, or pass; the same
    Where/Pick shape as :func:`exact_dedup_canonical`, bridgeable via
    :func:`~python_dtl_spark.lineage.record_pipeline_step`.

    Scale shape: each iteration is one grouped join on the edge list
    (edges ≈ near-dup pairs, a tiny fraction of the corpus) plus a
    left join back to the labels.  The min label travels ONE hop per
    round (O(component diameter) rounds to fixpoint); near-dup
    components are overwhelmingly small and dense, so 2-3 rounds in
    practice — but a chain longer than ``max_iter`` raises rather than
    silently emitting inconsistent clusters (labels that are not any
    keeper's id).  No driver-side graph materializes.
    """
    edges = (
        pairs.select(F.col(a_col).alias("__src"), F.col(b_col).alias("__dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("__src"), F.col(a_col).alias("__dst"))
        )
        .persist()
    )
    _truncate = _plan_truncator(ids.sparkSession, checkpoint_dir)
    universe = _truncate(ids.select(F.col(id_col).alias("__id")).distinct())
    # The candidate graph (edge-incident nodes) is the only place a
    # label can move: everything else is a singleton spliced back at
    # the end (r20).  At or below the valve, solve its components in
    # one union-find pass on the driver — the count() guard runs
    # BEFORE the collect, the r11/r14 bounded-collect discipline —
    # replacing O(diameter) join+checkpoint+count rounds with two
    # small jobs.  Above the valve, distributed min-label propagation
    # with pointer jumping (O(log diameter) rounds) over the incident
    # nodes only.
    n_edges = edges.count()
    cap = MAX_DRIVER_COMPONENT_EDGES if max_driver_edges is None else max_driver_edges
    if n_edges <= cap:
        nodes = edges.select("__src").distinct()
        # only in-universe endpoints may relay labels (an
        # out-of-universe node has no label row in the loop tier)
        in_u = universe.join(
            nodes, on=[universe["__id"] == nodes["__src"]], how="left_semi"
        )
        uset = {r["__id"] for r in in_u.collect()}  # bounded: <= 2*cap
        parent, find = _component_minima(
            (r["__src"], r["__dst"])
            for r in edges.collect()  # bounded: <= cap, guarded above
            if r["__src"] in uset and r["__dst"] in uset
        )
        best: dict = {}
        for x in uset:
            r = find(x)
            if r not in best or x < best[r]:
                best[r] = x
        id_type = universe.schema["__id"].dataType
        labels = ids.sparkSession.createDataFrame(
            [(x, best[find(x)]) for x in uset],
            StructType(
                [StructField("__id", id_type), StructField("__lbl", id_type)]
            ),
        )
        # splice: broadcast is exact here (valve-bounded), so the
        # corpus-sized universe is never shuffled
        full = universe.join(F.broadcast(labels), on="__id", how="left").select(
            "__id", F.coalesce("__lbl", F.col("__id")).alias("__lbl")
        )
        out = full.select(
            F.col("__id").alias(id_col),
            F.col("__lbl").alias("cluster_id"),
            (F.col("__id") == F.col("__lbl")).alias("keep"),
        )
        if with_lineage:
            mapping = full.select(
                F.col("__id").alias(f"src_{id_col}"),
                F.col("__lbl").alias(f"kept_{id_col}"),
            )
            return _release_after(out, edges), mapping
        return _release_after(out, edges)
    labels = _truncate(
        edges.select(F.col("__src").alias("__id"))
        .distinct()
        .join(universe, on="__id", how="left_semi")
        .withColumn("__lbl", F.col("__id"))
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, on=[edges["__src"] == labels["__id"]])
            .groupBy("__dst")
            .agg(F.min("__lbl").alias("__nmin"))
        )
        # one-hop propagation, truncated so the self-join below reads
        # cached blocks instead of recomputing the join+agg twice
        hop = _truncate(
            labels.join(nbr_min, on=[labels["__id"] == nbr_min["__dst"]], how="left")
            .select(
                "__id",
                F.col("__lbl").alias("__old"),
                F.least(F.col("__lbl"), F.coalesce("__nmin", "__lbl")).alias(
                    "__mid"
                ),
            )
        )
        # pointer-jumping shortcut (r20): follow the label one more
        # step through the label table itself (label := label(label)).
        # Labels are monotonically non-increasing and always stay
        # inside the component, so the fixpoint (component minimum) is
        # unchanged while the distance to it roughly HALVES per round
        # — O(log diameter) rounds instead of O(diameter).  The carried
        # changed flag keeps the convergence check a filter+count on
        # the truncated frame: final <= mid <= old, so changed iff
        # final < old.
        jump = hop.select(
            F.col("__id").alias("__jid"), F.col("__mid").alias("__jlbl")
        )
        final = F.least(F.col("__mid"), F.coalesce("__jlbl", F.col("__mid")))
        new_labels = _truncate(
            hop.join(jump, on=[F.col("__mid") == F.col("__jid")], how="left")
            .select(
                "__id",
                final.alias("__lbl"),
                (final < F.col("__old")).alias("__chg"),
            )
        )
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.select("__id", "__lbl")
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"keep_one_from_pairs did not converge in {max_iter} rounds "
            f"({changed} labels still changing): a duplicate chain is "
            "longer than max_iter hops — raise max_iter (labels move one "
            "hop per round)"
        )
    # splice the singletons back: every universe id absent from the
    # incident-node labels kept its own label by construction
    full = universe.join(labels, on="__id", how="left").select(
        "__id", F.coalesce("__lbl", F.col("__id")).alias("__lbl")
    )
    out = full.select(
        F.col("__id").alias(id_col),
        F.col("__lbl").alias("cluster_id"),
        (F.col("__id") == F.col("__lbl")).alias("keep"),
    )
    if with_lineage:
        mapping = full.select(
            F.col("__id").alias(f"src_{id_col}"),
            F.col("__lbl").alias(f"kept_{id_col}"),
        )
        return _release_after(out, edges), mapping
    return _release_after(out, edges)


def lsh_dedup_keep(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    max_iter: int = 10,
    checkpoint_dir: str | None = None,
    with_lineage: bool = False,
    max_driver_edges: int | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Near-dup dedup with LINEAR output: (doc_id, cluster_id, keep).

    With ``with_lineage=True`` returns ``(result, mapping)``: the
    ManyToOne ``(src_<id_col>, kept_<id_col>)`` provenance table — the
    converged cluster label IS the surviving minimum id, so the
    mapping is a zero-cost projection of the same converged labels
    (see :func:`keep_one_from_pairs`); bridgeable into the trace
    subsystem via ``record_pipeline_step`` so ``why()`` answers "why
    was this document dropped" across the near-dup flagship.

    The pair-listing operator's output is inherently quadratic in
    duplicate-cluster size (a 50-doc boilerplate cluster is 1,225
    pairs); a training-data pipeline usually wants "keep one per
    cluster".  This computes connected components over the LSH bucket
    graph by alternating min-label propagation (the large-star/
    small-star idea specialized to a bipartite doc↔bucket graph):
    each iteration is two grouped joins — label of a bucket = min label
    of its members, label of a doc = min label of its buckets — and
    converges in O(log(cluster diameter)) iterations, checked by a
    fixpoint count.  No pair list is ever materialized.

    Clustering is candidate-level (bucket co-occurrence, no Jaccard
    verification) — the aggressive setting appropriate for boilerplate
    removal; tune bands/rows for precision.

    Each iteration truncates the logical plan: with ``checkpoint_dir``
    set, via fault-tolerant reliable ``checkpoint()`` (survives executor
    loss — required on a real cluster, where a lost executor invalidates
    ``localCheckpoint`` blocks mid-iteration and kills the job);
    otherwise via ``localCheckpoint`` (fine single-node / test scale).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    band_cols = [
        F.xxhash64(
            *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    banded = sigs.select(F.col(id_col).alias("__id"), *band_cols)
    buckets = (
        banded.select(
            "__id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket")
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(
            "__id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
        .persist()
    )
    # Propagate over MULTI-MEMBER buckets only (r20): a singleton
    # bucket hands its sole member its own label back — a no-op — so
    # restricting the bipartite graph to buckets with ≥ 2 members (and
    # to the docs that touch one) leaves every label trajectory
    # identical while the per-round joins, plan-truncating checkpoints
    # and convergence counts shrink from O(corpus × bands) to
    # O(co-bucketed docs); untouched singletons are spliced back once
    # at the end.  Both frames are served from the buckets cache.
    active = buckets.join(
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("band", "bucket"),
        on=["band", "bucket"],
    ).persist()
    # At or below the valve, solve the candidate graph's components in
    # one union-find pass on the driver (count() guard BEFORE the
    # collect — the keep_one_from_pairs r20 tier); bucket nodes are
    # (band, bucket) tuples, disjoint from doc ids by type.
    n_active = active.count()
    cap = MAX_DRIVER_COMPONENT_EDGES if max_driver_edges is None else max_driver_edges
    if n_active <= cap:
        rows = active.collect()  # bounded: <= cap, guarded above
        # a NULL doc id equi-joins nothing in the loop tier, so it
        # relays nothing here either
        parent, find = _component_minima(
            (r["__id"], (r["band"], r["bucket"]))
            for r in rows
            if r["__id"] is not None
        )
        doc_set = {r["__id"] for r in rows if r["__id"] is not None}
        best: dict = {}
        for x in doc_set:
            rt = find(x)
            if rt not in best or x < best[rt]:
                best[rt] = x
        id_type = buckets.schema["__id"].dataType
        labels = df.sparkSession.createDataFrame(
            [(x, best[find(x)]) for x in doc_set],
            StructType(
                [StructField("__id", id_type), StructField("__lbl", id_type)]
            ),
        )
        full = (
            buckets.select("__id")
            .distinct()
            .join(F.broadcast(labels), on="__id", how="left")
            .select("__id", F.coalesce("__lbl", F.col("__id")).alias("__lbl"))
        )
        out = full.select(
            F.col("__id").alias(id_col),
            F.col("__lbl").alias("cluster_id"),
            (F.col("__id") == F.col("__lbl")).alias("keep"),
        )
        if with_lineage:
            mapping = full.select(
                F.col("__id").alias(f"src_{id_col}"),
                F.col("__lbl").alias(f"kept_{id_col}"),
            )
            return _release_after(out, buckets, active), mapping
        return _release_after(out, buckets, active)
    # iterative label propagation: checkpoint each round to TRUNCATE the
    # logical plan — persist alone caches data but the plan still grows
    # exponentially with iterations
    _truncate = _plan_truncator(df.sparkSession, checkpoint_dir)
    labels = _truncate(
        active.select("__id").distinct().withColumn("__lbl", F.col("__id"))
    )
    for _ in range(max_iter):
        bucket_min = (
            active.join(labels, on="__id")
            .groupBy("band", "bucket")
            .agg(F.min("__lbl").alias("__bmin"))
        )
        doc_min = (
            active.join(bucket_min, on=["band", "bucket"])
            .groupBy("__id")
            .agg(F.min("__bmin").alias("__new"))
        )
        # one-hop (doc -> bucket -> doc) propagation, truncated so the
        # pointer-jumping self-join reads cached blocks; then the
        # shortcut label := label(label) — same O(log diameter) round
        # bound and carried changed flag as keep_one_from_pairs (r20)
        hop = _truncate(
            labels.join(doc_min, on="__id", how="left").select(
                "__id",
                F.col("__lbl").alias("__old"),
                F.least(F.col("__lbl"), F.coalesce("__new", "__lbl")).alias(
                    "__mid"
                ),
            )
        )
        jump = hop.select(
            F.col("__id").alias("__jid"), F.col("__mid").alias("__jlbl")
        )
        final = F.least(F.col("__mid"), F.coalesce("__jlbl", F.col("__mid")))
        new_labels = _truncate(
            hop.join(jump, on=[F.col("__mid") == F.col("__jid")], how="left")
            .select(
                "__id",
                final.alias("__lbl"),
                (final < F.col("__old")).alias("__chg"),
            )
        )
        changed = new_labels.filter(F.col("__chg")).count()
        labels = new_labels.select("__id", "__lbl")
        if changed == 0:
            break
    else:
        buckets.unpersist()
        active.unpersist()
        raise RuntimeError(
            f"lsh_dedup_keep did not converge in {max_iter} rounds "
            f"({changed} labels still changing): a duplicate chain is "
            "longer than max_iter bucket hops — raise max_iter"
        )
    # splice the singletons back: every doc absent from the active
    # labels kept its own label by construction
    full = (
        buckets.select("__id")
        .distinct()
        .join(labels, on="__id", how="left")
        .select("__id", F.coalesce("__lbl", F.col("__id")).alias("__lbl"))
    )
    out = full.select(
        F.col("__id").alias(id_col),
        F.col("__lbl").alias("cluster_id"),
        (F.col("__id") == F.col("__lbl")).alias("keep"),
    )
    if with_lineage:
        mapping = full.select(
            F.col("__id").alias(f"src_{id_col}"),
            F.col("__lbl").alias(f"kept_{id_col}"),
        )
        return _release_after(out, buckets, active), mapping
    return _release_after(out, buckets, active)


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64) -> DataFrame:
    """64-bit SimHash over tokens: per bit, sign of the sum of ±1 votes
    from each token's xxhash64.  Computed JVM-side: explode tokens,
    aggregate per-bit majority via bitwise arithmetic."""
    # explode_OUTER: an empty/NULL doc keeps one NULL-token row (all
    # such docs get the same deterministic signature and stay visible
    # to join-backs) instead of vanishing from the output
    toks = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("__t"),
    ).withColumn("__h", F.xxhash64(F.col("__t")))
    # vote for bit i: +1 if hash bit set else -1; sum > 0 → bit set
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b_{i}")
        for i in range(bits)
    ]
    votes = toks.groupBy("__id").agg(*aggs)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        # bit 63 is the sign bit of a long: 1<<63 as a Python int overflows
        # LongType, but its two's-complement value is -(1<<63)
        weight = (1 << i) if i < 63 else -(1 << 63)
        sim = sim + F.when(F.col(f"b_{i}") > 0, F.lit(weight).cast("long")).otherwise(0)
    return votes.select(F.col("__id").alias(id_col), sim.alias("simhash"))


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs within a Hamming radius over ANY 64-bit
    signature column — the pigeonhole core shared by
    :func:`simhash_near_pairs` (text SimHash) and the image
    perceptual-hash dedup (``multimodal.extract_image_features``'s
    ``phash``), extracted r16 so non-text signatures get the same
    blocked candidate generation instead of an all-pairs join.

    Pigeonhole blocking: split the 64-bit signature into ``blocks``
    chunks.  A pair within Hamming distance ``max_hamming`` must agree
    exactly on at least one chunk **only when** ``blocks >
    max_hamming``, so the block count is derived from the radius by
    default.  Candidates come from equi-joins on chunk values
    (shuffle-friendly), then exact Hamming verification via bit_count.

    Scale shape: candidates are bucket equi-joins on (block, chunk) —
    never all-pairs; a hot chunk (e.g. the all-zero block of
    near-empty payloads) is AQE-skew-splittable.  Emits
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    if blocks is None:
        # smallest feasible count > max_hamming, up to one block per
        # bit of the 64-bit hash (the old cap of 16 made the derived
        # default reject its own max_hamming >= 16)
        blocks = max_hamming + 1
    if not 1 <= blocks <= 64:
        raise ValueError(
            f"blocks must be in [1, 64] over a 64-bit signature, got "
            f"{blocks} (max_hamming={max_hamming} needs blocks > "
            "max_hamming, so radii >= 64 cannot be pigeonhole-blocked)"
        )
    if blocks <= max_hamming:
        raise ValueError(
            f"blocks ({blocks}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    # nearly-equal chunk widths covering all 64 bits
    base_w, extra = divmod(64, blocks)
    bounds = []
    off = 0
    for b in range(blocks):
        w = base_w + (1 if b < extra else 0)
        bounds.append((off, w))
        off += w
    chunks = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(sig_col).alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftrightunsigned(F.col(sig_col), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("chunk"),
                    )
                    for b, (off, w) in enumerate(bounds)
                ]
            )
        ).alias("bc"),
    ).select("__id", "__sig", F.col("bc.blk").alias("blk"), F.col("bc.chunk").alias("chunk"))
    cand = (
        chunks.alias("l")
        .join(chunks.alias("r"), on=["blk", "chunk"], how="inner")
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(
            F.col("l.__id").alias("id_a"),
            F.col("r.__id").alias("id_b"),
            F.col("l.__sig").alias("sh_a"),
            F.col("r.__sig").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    blocks: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    :func:`simhash` signatures fed through the shared
    :func:`hamming_near_pairs` pigeonhole core (r16 refactor — the
    blocked candidate generation and bit_count verification are
    byte-identical to the pre-refactor inline form).
    """
    hashed = simhash(df, id_col=id_col, text_col=text_col)
    return hamming_near_pairs(
        hashed, id_col, "simhash", max_hamming=max_hamming, blocks=blocks
    )


def _vec_norm(col):
    """L2 norm of an array column — sqrt of the ONE shared dot-product
    fold (embeddings._dot); every cosine-verifying operator must use
    the same fold for the cross-engine determinism contract."""
    return F.sqrt(_vec_dot(col, col))


def _plane_signature(hyperplanes):
    """Column builder: sign pattern of the fixed random hyperplanes
    packed into a long — the LSH bucket id shared by
    :func:`embedding_near_dup_pairs` and
    :func:`embedding_similarity_join` (both sides of a join MUST hash
    with the same planes, which is why the planes are seeded data).

    The planes ship as ONE nested-array literal folded with
    higher-order functions (r20): the previous per-element
    ``F.array(*[F.lit(w) ...])`` form built planes×dim Column objects
    through the Python↔JVM bridge and 3 lambda resolutions per plane,
    and Catalyst re-analyzed that ~1,700-node subtree at every
    reference — plan construction, not execution, dominated every
    consumer (measured 11.0 s of dedup_embedding_cosine's 14.4 s wall
    at sf0.1).  In this form the nested literal is built once per
    builder (``F.lit`` of a nested list still expands element-wise
    through py4j, but only HERE, not at every reference) and the
    analyzed tree is one constant-folded nested array consumed by 5
    lambdas, instead of per-plane literal columns with 3 lambda
    resolutions each.  The math is term-for-term identical: same
    zip_with padding, same left-to-right double fold per plane (the
    cross-engine determinism contract), and the bit packing is an
    exact integer sum in either order — asserted corpus-wide by
    ``test_plane_signature_matches_per_plane_literal_form``.
    """
    if len(hyperplanes) < 1:
        # F.lit([]) types as array<null>; lambdas over a NullType
        # variable fail analysis (the old per-plane loop degraded to a
        # constant bucket instead) — and a 0-plane LSH is meaningless
        raise ValueError("hyperplane LSH needs at least 1 plane")
    bits = F.lit([1 << p for p in range(len(hyperplanes))])
    planes_lit = F.lit([[float(w) for w in plane] for plane in hyperplanes])

    def signature(vec):
        dots = F.transform(
            planes_lit,
            lambda plane: F.aggregate(
                F.zip_with(vec, plane, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return F.aggregate(
            F.zip_with(
                dots,
                bits,
                lambda d, b: F.when(d > 0, b).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return signature


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: cosine ≥ threshold.

    Random-hyperplane LSH bucketing (sign pattern of ``planes`` fixed
    pseudo-random projections) generates candidates; exact cosine
    verifies.  High-cosine pairs agree on most hyperplane signs, so one
    bucket join plus neighbor buckets at Hamming distance 1 catches
    nearly all true pairs without the O(N²) cross join.

    Pass ``dim`` (embedding dimensionality) to keep plan construction
    action-free; omitting it runs a single-row inference job per call.
    A ``dim`` that disagrees with the data raises at execution time
    (``zip_with`` would otherwise NULL-pad every hyperplane dot and
    silently collapse all signatures to bucket 0 — correct output, but
    candidate generation degrades to a near full scan).
    """
    import random

    from python_dtl_spark.operators.similarity import _checked_dim, _infer_dim

    rng = random.Random(seed)
    if dim is None:
        dim = _infer_dim(df, vec_col)
    hyperplanes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)
    ]
    signature = _plane_signature(hyperplanes)

    base = _spread(df).select(
        F.col(id_col).alias("__id"),
        signature(_checked_dim(F.col(vec_col), dim)).alias("__sig"),
    )
    # Stage 1 carries ONLY (id, signature) through the probe shuffle:
    # the explode replicates every left row planes+1 times, so dragging
    # the 64-dim vector + norm here would cost 13x their bandwidth
    # before the bucket join.  Vectors rejoin by id at the exact-cosine
    # verify — the same coarse-only stage-1 shape as the quantized/
    # projected top-k paths (round-7 verdict residual).
    # probe own bucket + all Hamming-1 neighbor buckets
    probes = base.select(
        "__id",
        F.explode(
            F.array(
                F.col("__sig"),
                *[F.col("__sig").bitwiseXOR(F.lit(1 << p)) for p in range(planes)],
            )
        ).alias("__bucket"),
    )
    anchors = base.select(
        F.col("__id").alias("id_b"),
        F.col("__sig").alias("__bucket"),
    )
    cand = (
        probes.join(anchors, on="__bucket", how="inner")
        .filter(F.col("__id") < F.col("id_b"))
        .select(F.col("__id").alias("id_a"), F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # exact-cosine verify: full vectors enter the plan here, once per
    # side, keyed by id — bandwidth 1x regardless of planes.  No
    # _spread: the hash join shuffles this branch on id anyway, and the
    # per-row work (one norm) is trivial.  dropDuplicates on the id:
    # with duplicate input ids the deduplicated PAIR would otherwise
    # re-expand through the join (one output row per duplicate); the
    # id-keyed dedup shares the join's hash partitioning, and which
    # duplicate's vector wins matches the old pre-dedup arbitrariness
    # (duplicate ids should carry identical vectors anyway).
    vecs = df.select(
        F.col(id_col).alias("__vid"),
        _checked_dim(F.col(vec_col), dim).alias("__v"),
        _vec_norm(F.col(vec_col)).alias("__n"),
    ).dropDuplicates(["__vid"])
    cand = (
        cand.join(
            vecs.select(
                F.col("__vid").alias("id_a"),
                F.col("__v").alias("v_a"),
                F.col("__n").alias("n_a"),
            ),
            on="id_a",
            how="inner",
        )
        .join(
            vecs.select(
                F.col("__vid").alias("id_b"),
                F.col("__v").alias("v_b"),
                F.col("__n").alias("n_b"),
            ),
            on="id_b",
            how="inner",
        )
    )
    # zero-norm guard: cosine would be NaN and Spark evaluates
    # NaN >= threshold as TRUE, so an unguarded filter emits garbage
    # matches for dead/padding embeddings — a zero vector has no
    # direction and matches nothing
    return (
        cand.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .withColumn(
            "cosine",
            _vec_dot(F.col("v_a"), F.col("v_b"))
            / (F.col("n_a") * F.col("n_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """The STORABLE embedding LSH index (staged r17 → r18): ONE
    ``(id, bucket)`` row per vector, bucket = the sign pattern of the
    same seeded random hyperplanes :func:`embedding_near_dup_pairs`
    uses — an index written today joins correctly against signatures
    computed tomorrow as long as ``(planes, seed, dim)`` match (the
    hyperplanes are seeded data, the
    :func:`embedding_similarity_join` contract).

    The embedding sibling of :func:`minhash_band_buckets`, and
    cheaper: the signature is ROW-LOCAL (no aggregation), so building
    or appending to this index is a pure map — zero exchanges.
    Hamming-1 neighbor probing happens on the QUERY side
    (:func:`embedding_delta_pairs`), so the index stays one row per
    vector.

    Caller contract, like the MinHash index: unique ids (duplicate
    ids would fan out candidate pairs at probe time)."""
    import random

    from python_dtl_spark.operators.similarity import _checked_dim, _infer_dim

    rng = random.Random(seed)
    if dim is None:
        dim = _infer_dim(df, vec_col)
    hyperplanes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)
    ]
    signature = _plane_signature(hyperplanes)
    return _spread(df).select(
        F.col(id_col),
        signature(_checked_dim(F.col(vec_col), dim)).alias("bucket"),
    )


def embedding_delta_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 7,
    dim: int | None = None,
    corpus_buckets: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL embedding near-dup (staged r17 → r18): which vectors
    of a NEW batch (today's crawl's embeddings) near-duplicate a
    vector already in the corpus — the embedding sibling of
    :func:`crawl_delta_pairs`, asymmetric so the corpus never pays for
    the arrival of a delta.

    The corpus side is an LSH INDEX — pass ``corpus_buckets`` (the
    stored :func:`embedding_lsh_buckets` output) and corpus VECTORS
    are read only to verify the (tiny) candidate set (broadcast
    semi-join on candidate ids — a pushed-down id filter over the
    vector store at scale); ``None`` derives the index inline
    (one-shot mode, bit-identical output).

    Candidate rule mirrors :func:`embedding_near_dup_pairs` exactly:
    the delta probes its own bucket plus all Hamming-1 neighbors, the
    index holds anchors — so a cross pair is generated iff the
    self-join operator would generate it, and the exact-cosine verify
    (shared fold, zero-norm guard) makes output equality provable
    (``test_embedding_delta_matches_selfjoin_restriction``).

    Output: ``(delta_id, corpus_id, cosine)`` with cosine ≥
    ``threshold``."""
    import random

    from python_dtl_spark.operators.similarity import _checked_dim, _infer_dim

    rng = random.Random(seed)
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    hyperplanes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)
    ]
    signature = _plane_signature(hyperplanes)

    d_sig = _spread(delta).select(
        F.col(id_col).alias("__did"),
        signature(_checked_dim(F.col(vec_col), dim)).alias("__sig"),
    )
    probes = d_sig.select(
        "__did",
        F.explode(
            F.array(
                F.col("__sig"),
                *[
                    F.col("__sig").bitwiseXOR(F.lit(1 << p))
                    for p in range(planes)
                ],
            )
        ).alias("bucket"),
    )
    if corpus_buckets is None:
        corpus_buckets = embedding_lsh_buckets(
            corpus, id_col=id_col, vec_col=vec_col, planes=planes,
            seed=seed, dim=dim,
        )
    anchors = corpus_buckets.select(
        F.col(id_col).alias("__kid"), F.col("bucket")
    )
    cand = (
        probes.join(anchors, on="bucket", how="inner")
        .select("__did", "__kid")
        .dropDuplicates()
    )
    # verify: vectors enter the plan once per side, keyed by id; the
    # corpus side is semi-filtered to candidate ids FIRST so the
    # vector store scan is candidate-sized, never corpus-sized
    hit_ids = cand.select(F.col("__kid").alias(id_col)).dropDuplicates()
    k_vecs = (
        corpus.join(F.broadcast(hit_ids), on=id_col, how="left_semi")
        .select(
            F.col(id_col).alias("__kid"),
            _checked_dim(F.col(vec_col), dim).alias("__kv"),
            _vec_norm(F.col(vec_col)).alias("__kn"),
        )
        .dropDuplicates(["__kid"])
    )
    d_vecs = delta.select(
        F.col(id_col).alias("__did"),
        _checked_dim(F.col(vec_col), dim).alias("__dv"),
        _vec_norm(F.col(vec_col)).alias("__dn"),
    ).dropDuplicates(["__did"])
    return (
        cand.join(d_vecs, on="__did")
        .join(k_vecs, on="__kid")
        .filter((F.col("__dn") > 0) & (F.col("__kn") > 0))
        .withColumn(
            "cosine",
            _vec_dot(F.col("__dv"), F.col("__kv"))
            / (F.col("__dn") * F.col("__kn")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("__did").alias("delta_id"),
            F.col("__kid").alias("corpus_id"),
            "cosine",
        )
    )


def embedding_delta_pairs_stream(
    delta: DataFrame,
    corpus_buckets: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """STREAMING-LEGAL tier of :func:`embedding_delta_pairs`: flag
    near-duplicates of the existing corpus on a LIVE embedding feed
    (readStream).  The batch operator is ALREADY row-local up to its
    joins — the hyperplane signature is a per-row projection — so this
    tier is the same algebra verbatim: signature + own/Hamming-1 probe
    explode (row-local), then two STREAM-STATIC inner joins (append-
    legal): probes × the stored :func:`embedding_lsh_buckets` index,
    and candidates × the static corpus vectors for the exact-cosine
    verify (shared fold, zero-norm guard).

    Unlike the MinHash tier, a true pair matches through EXACTLY ONE
    probe bucket (either the signatures are equal or they differ in
    exactly one plane), so the output carries no per-band duplicates —
    no dedup contract is pushed onto callers.

    ``dim`` is REQUIRED on a streaming frame (the batch path's
    inference is an action); pass the model's embedding width."""
    import random

    from python_dtl_spark.operators.similarity import _checked_dim

    if dim is None:
        raise ValueError(
            "dim is required for the streaming tier (inferring it "
            "would run an action on an unbounded frame); pass the "
            "embedding width"
        )
    rng = random.Random(seed)
    hyperplanes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)
    ]
    signature = _plane_signature(hyperplanes)
    d_sig = delta.select(
        F.col(id_col).alias("__did"),
        _checked_dim(F.col(vec_col), dim).alias("__dv"),
        _vec_norm(F.col(vec_col)).alias("__dn"),
        signature(_checked_dim(F.col(vec_col), dim)).alias("__sig"),
    )
    probes = d_sig.select(
        "__did",
        "__dv",
        "__dn",
        F.explode(
            F.array(
                F.col("__sig"),
                *[
                    F.col("__sig").bitwiseXOR(F.lit(1 << p))
                    for p in range(planes)
                ],
            )
        ).alias("bucket"),
    )
    anchors = corpus_buckets.select(
        F.col(id_col).alias("__kid"), F.col("bucket")
    )
    cand = probes.join(anchors, on="bucket", how="inner")
    k_vecs = corpus.select(
        F.col(id_col).alias("__kid"),
        _checked_dim(F.col(vec_col), dim).alias("__kv"),
        _vec_norm(F.col(vec_col)).alias("__kn"),
    )
    return (
        cand.join(k_vecs, on="__kid", how="inner")
        .filter((F.col("__dn") > 0) & (F.col("__kn") > 0))
        .withColumn(
            "cosine",
            _vec_dot(F.col("__dv"), F.col("__kv"))
            / (F.col("__dn") * F.col("__kn")),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("__did").alias("delta_id"),
            F.col("__kid").alias("corpus_id"),
            "cosine",
        )
    )


def merge_delta_into_embedding_index(
    corpus_buckets: DataFrame,
    delta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 12,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-index MAINTENANCE (staged r17 → r18): append an
    accepted delta's buckets to a stored
    :func:`embedding_lsh_buckets` index.  Even cheaper than the
    MinHash merge: the signature is row-local, so the append is a
    PURE MAP over the delta — zero exchanges anywhere
    (``test_merge_embedding_index_is_pure_map``) — and merge ==
    from-scratch rebuild holds row-for-row
    (``test_merge_embedding_index_equals_rebuild``) provided both
    sides used the same ``(planes, seed, dim)``.  Same unique-and-
    disjoint id contract as :func:`merge_crawl_into_index`."""
    expected = {id_col, "bucket"}
    if not expected.issubset(set(corpus_buckets.columns)):
        raise ValueError(
            f"corpus_buckets must carry columns {sorted(expected)} (an "
            f"embedding_lsh_buckets output); got {corpus_buckets.columns}"
        )
    return corpus_buckets.select(id_col, "bucket").unionByName(
        embedding_lsh_buckets(
            delta, id_col=id_col, vec_col=vec_col, planes=planes,
            seed=seed, dim=dim,
        )
    )


def contamination_pairs(
    train: DataFrame,
    evals: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_common: int = 5,
    max_feature_freq: int | None = None,
    prefilter_buckets: int | None = None,
) -> DataFrame:
    """Train/eval decontamination: eval documents sharing at least
    ``min_common`` distinct word n-grams with a training document.

    The standard pre-training hygiene check — a benchmark document
    whose shingles leak into the training split inflates downstream
    scores.  Same inverted-index shape as :func:`ngram_jaccard_pairs`
    but asymmetric: shingles explode on both sides, equi-join on the
    shingle string, count distinct collisions per (train, eval) pair.
    ``max_feature_freq`` (measured against the train side) drops
    boilerplate shingles that would contribute O(freq²) candidate rows
    with no signal — the classic skew valve at corpus scale.

    Output: (train_id, eval_id, common, eval_size, overlap) where
    overlap = common / eval_size (fraction of the eval doc's shingles
    found in that train doc) — a single division of exact integers, so
    an SQL oracle matches bit-for-bit.

    ``prefilter_buckets`` turns on a Bloom-style prefilter on the
    TRAIN side before the shuffle join: the eval grams' distinct
    ``xxhash64 % m`` bucket ids (≤ m longs — 8 bytes each, versus
    broadcasting the gram strings themselves) broadcast as a semi
    join, so a train gram that collides with no eval bucket never
    reaches the exchange.  This is a single-hash Bloom filter
    expressed relationally (the dynamic-partition-pruning pattern):
    false-positive rate ≈ distinct_eval_grams / m, and every false
    positive dies in the exact equi-join that follows — output is
    bit-identical with the prefilter on or off.  At 100 TB train ×
    small eval suite this removes ~99% of the train side from the
    decontamination shuffle for the cost of one broadcast.
    """
    t = _spread(train).select(
        F.col(id_col).alias("train_id"), _shingles(F.col(text_col), n).alias("__sh")
    )
    e = _spread(evals).select(
        F.col(id_col).alias("eval_id"), _shingles(F.col(text_col), n).alias("__sh")
    )
    e_sizes = e.select("eval_id", F.size("__sh").cast("long").alias("eval_size"))
    t_ex = t.select("train_id", F.explode("__sh").alias("__f"))
    e_ex = e.select("eval_id", F.explode("__sh").alias("__f"))
    if prefilter_buckets is not None:
        m = F.lit(prefilter_buckets)
        probe = e_ex.select(
            F.pmod(F.xxhash64("__f"), m).alias("__pb")
        ).dropDuplicates(["__pb"])
        t_ex = t_ex.join(
            F.broadcast(probe),
            F.pmod(F.xxhash64(t_ex["__f"]), m) == F.col("__pb"),
            "left_semi",
        )
    if max_feature_freq is not None:
        freq_ok = (
            t_ex.groupBy("__f")
            .count()
            .filter(F.col("count") <= max_feature_freq)
            .select("__f")
        )
        t_ex = t_ex.join(freq_ok, on="__f", how="inner")
    common = (
        t_ex.join(e_ex, on="__f", how="inner")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    return common.join(e_sizes, on="eval_id").select(
        "train_id",
        "eval_id",
        "common",
        "eval_size",
        (F.col("common") / F.col("eval_size")).alias("overlap"),
    )


def contamination_pairs_from_split(
    df: DataFrame,
    split_col: str = "split",
    train_value: str = "train",
    eval_value: str = "test",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_common: int = 5,
    max_feature_freq: int | None = None,
) -> DataFrame:
    """:func:`contamination_pairs` for the common one-table-with-a-
    split-column case, shingling the corpus ONCE.

    The two-DataFrame operator shingles each side separately; when both
    sides are filters of the same table that doubles the tokenize+
    shingle pass — the dominant per-row cost — over the full corpus.
    Here the shingled projection is PERSISTED, so at runtime the first
    side computes it once and every other consumer (the opposite join
    side, the eval-size projection) reads the cache.  Without the
    persist, Catalyst would push the split filters below the
    projection and recompute the shingles per subtree — self-joins
    duplicate unpersisted plans.  Release via ``release_cached()``.
    Same output contract as :func:`contamination_pairs`.
    """
    base = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.col(split_col).alias("__split"),
        _shingles(F.col(text_col), n).alias("__sh"),
    ).persist()
    e_sizes = base.filter(F.col("__split") == eval_value).select(
        F.col("__id").alias("eval_id"),
        F.size("__sh").cast("long").alias("eval_size"),
    )
    ex = base.select("__id", "__split", F.explode("__sh").alias("__f"))
    t_ex = ex.filter(F.col("__split") == train_value).select(
        F.col("__id").alias("train_id"), "__f"
    )
    e_ex = ex.filter(F.col("__split") == eval_value).select(
        F.col("__id").alias("eval_id"), "__f"
    )
    if max_feature_freq is not None:
        freq_ok = (
            t_ex.groupBy("__f")
            .count()
            .filter(F.col("count") <= max_feature_freq)
            .select("__f")
        )
        t_ex = t_ex.join(freq_ok, on="__f", how="inner")
    common = (
        t_ex.join(e_ex, on="__f", how="inner")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= min_common)
    )
    out = common.join(e_sizes, on="eval_id").select(
        "train_id",
        "eval_id",
        "common",
        "eval_size",
        (F.col("common") / F.col("eval_size")).alias("overlap"),
    )
    return _release_after(out, base)


def _auto_centroids(
    corpus_size: int, target_cluster_size: int, fit_sample: int
) -> int:
    """Cluster count ∝ corpus_size / target_cluster_size — the sizing
    rule SCALING.md measured (fixed 16 centroids at 32× data goes
    quadratic, 229×; scaling the count with the corpus restores
    ~linear).  Capped so KMeans always has ≥4 ACTUAL sample points per
    centroid — the fit sample is bounded by the corpus, not just
    ``fit_sample`` — and the broadcast model stays small."""
    import math

    want = math.ceil(max(1, corpus_size) / max(1, target_cluster_size))
    points = min(fit_sample, max(0, corpus_size))
    return max(2, min(want, points // 4, 65_536))


def semdedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    seed: int = 13,
    fit_sample: int = 100_000,
    fit_fraction: float | None = None,
    target_cluster_size: int = 128,
    corpus_size: int | None = None,
) -> DataFrame:
    """Within-cluster embedding near-duplicate pairs — the candidate
    stage of SemDedup (Abbas et al. 2023, "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication"): a sampled
    K-Means coarse quantizer (the IVF machinery,
    ``similarity.fit_centroids``) partitions the corpus into
    ``n_centroids`` clusters, and exact cosine runs ONLY within each
    cluster — never across — via a bucket equi-self-join.

    Output: (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.

    Versus the LSH candidate generator (:func:`embedding_near_dup_pairs`)
    the clusters adapt to the data distribution — the property SemDedup
    relies on for catching *semantic* (not just near-identical)
    duplicates at lower thresholds.

    Scale shape: cluster assignment is the fitted model's native JVM
    ``transform`` (centers live in ONE broadcast model object — the
    IVF-style literal-centroid expression is O(n_centroids × dim) per
    row in codegen and OOMs the driver near ~500 centroids, while
    ``transform`` is flat, so SemDedup-scale cluster counts stay
    cheap); the pair stage shuffles on the cluster id (equi-join,
    plan-asserted no nested loop) so comparisons are n_i²-per-cluster,
    never corpus².  ``n_centroids`` defaults to corpus_size /
    ``target_cluster_size`` (SemDedup uses 50k clusters at web scale)
    so per-cluster work stays bounded — probed in SCALING.md: fixed 16
    centroids at 32× data goes quadratic (229×), scaling the count with
    the corpus restores ~linear.  The derived default needs the corpus
    size: pass ``corpus_size`` (e.g. from table stats) to stay
    action-free, else ONE ``df.count()`` runs at plan-construction time
    — a column-less scan, cheap next to the pair stage, and the fit
    cost itself is independent of corpus size (bounded sample).
    """
    from pyspark.ml.functions import array_to_vector

    from python_dtl_spark.operators.similarity import fit_kmeans

    if n_centroids is None:
        size = corpus_size if corpus_size is not None else df.count()
        n_centroids = _auto_centroids(size, target_cluster_size, fit_sample)

    base = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).withColumn("__n", _vec_norm(F.col("__v")))
    model = fit_kmeans(
        base.select(F.col("__v").alias("__cv")),
        n_centroids=n_centroids,
        seed=seed,
        fit_sample=fit_sample,
        fit_fraction=fit_fraction,
    )
    assigned = (
        model.setFeaturesCol("__fv")
        .setPredictionCol("__bucket")
        .transform(base.withColumn("__fv", array_to_vector("__v")))
        .drop("__fv")
    )
    a = assigned.select(
        F.col("__bucket"),
        F.col("__id").alias("id_a"),
        F.col("__v").alias("v_a"),
        F.col("__n").alias("n_a"),
    )
    b = assigned.select(
        F.col("__bucket"),
        F.col("__id").alias("id_b"),
        F.col("__v").alias("v_b"),
        F.col("__n").alias("n_b"),
    )
    cand = a.join(b, on="__bucket", how="inner").filter(
        F.col("id_a") < F.col("id_b")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # zero-norm guard: NaN >= threshold is TRUE in Spark (see
    # embedding_near_dup_pairs) — zero vectors match nothing
    return (
        cand.filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .withColumn("cosine", dot / (F.col("n_a") * F.col("n_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int | None = None,
    seed: int = 13,
    fit_sample: int = 100_000,
    fit_fraction: float | None = None,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
    target_cluster_size: int = 128,
    corpus_size: int | None = None,
) -> DataFrame:
    """SemDedup as one verb: embedding-cluster near-duplicate groups
    reduced to (id, cluster_id, keep) — keep true for each duplicate
    group's minimum id, singletons keep themselves.

    Composition of :func:`semdedup_pairs` (K-Means cluster + within-
    cluster exact cosine) and :func:`keep_one_from_pairs` (min-label
    connected components, checkpointed per round).  This is the modern
    embedding-space dedup mode for training corpora — near-duplicate
    *semantics*, not near-duplicate *bytes* — exposed with the same
    output contract as :func:`lsh_dedup_keep`.
    """
    pairs = semdedup_pairs(
        df,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        n_centroids=n_centroids,
        seed=seed,
        fit_sample=fit_sample,
        fit_fraction=fit_fraction,
        target_cluster_size=target_cluster_size,
        corpus_size=corpus_size,
    )
    return keep_one_from_pairs(
        df.select(F.col(id_col)),
        pairs,
        id_col=id_col,
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
    )


def embedding_similarity_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes: int = 12,
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Cross-corpus embedding similarity join: every (left, right) pair
    with cosine ≥ threshold — the dataset-alignment / retrieval-overlap
    verb (match a new crawl against an existing corpus, find eval
    questions already answered in the training set, align two
    embedding spaces row-to-row).

    Same random-hyperplane LSH shape as
    :func:`embedding_near_dup_pairs` but asymmetric: BOTH corpora hash
    with the SAME seeded planes (bucket ids are only comparable under
    identical planes), left probes its own bucket plus all Hamming-1
    neighbors, right anchors at its exact signature, and exact cosine
    verifies every candidate — never an all-pairs stage.  Unlike the
    self-join there is no ``id < id`` dedup: a left row may match many
    right rows and vice versa.

    Output: (id_l, id_r, cosine).

    Scale shape: one bucket equi-join (shuffle keyed on the signature);
    candidates per bucket are n_l × n_r PER BUCKET, never corpus²;
    raise ``planes`` to shrink buckets as the corpora grow (the same
    bucket-occupancy rule the self-join probes in SCALING.md).

    Measured (round 8, local[32], sf0.1 corpus ×N with planes scaled
    log2): the coarse-only stage 1 is ~1 s slower warm at 1× (two extra
    verify joins), parity at 8× (2.8 s vs 2.5 s), and 3.2× FASTER at
    32× (8.0 s vs 25.5 s untrimmed) — the 13× probe-bandwidth saving
    dominates exactly where scale begins.
    """
    import random

    from python_dtl_spark.operators.similarity import _checked_dim, _infer_dim

    rng = random.Random(seed)
    if dim is None:
        dim = _infer_dim(left, vec_col)
    hyperplanes = [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)
    ]
    signature = _plane_signature(hyperplanes)

    l_base = _spread(left).select(
        F.col(id_col).alias("id_l"),
        signature(_checked_dim(F.col(vec_col), dim)).alias("__sig"),
    )
    # Stage 1 carries ONLY (id, signature): the left explode replicates
    # every row planes+1 times, so the full vector would pay 13x its
    # bandwidth through the bucket exchange.  Both sides rejoin their
    # vectors by id at the exact-cosine verify (coarse-only stage 1,
    # same shape as the self-join and the two-stage top-k paths).
    probes = l_base.select(
        "id_l",
        F.explode(
            F.array(
                F.col("__sig"),
                *[F.col("__sig").bitwiseXOR(F.lit(1 << p)) for p in range(planes)],
            )
        ).alias("__bucket"),
    )
    anchors = _spread(right).select(
        F.col(id_col).alias("id_r"),
        signature(_checked_dim(F.col(vec_col), dim)).alias("__bucket"),
    )
    cand = (
        probes.join(anchors, on="__bucket", how="inner")
        .dropDuplicates(["id_l", "id_r"])
        .join(
            # no _spread on the verify branches: the hash join shuffles
            # them on id anyway, and per-row work is one norm.
            # dropDuplicates on the id keeps deduplicated PAIRS from
            # re-expanding through the join when an input carries
            # duplicate ids (shares the join's partitioning)
            left.select(
                F.col(id_col).alias("id_l"),
                _checked_dim(F.col(vec_col), dim).alias("v_l"),
                _vec_norm(F.col(vec_col)).alias("n_l"),
            ).dropDuplicates(["id_l"]),
            on="id_l",
            how="inner",
        )
        .join(
            right.select(
                F.col(id_col).alias("id_r"),
                _checked_dim(F.col(vec_col), dim).alias("v_r"),
                _vec_norm(F.col(vec_col)).alias("n_r"),
            ).dropDuplicates(["id_r"]),
            on="id_r",
            how="inner",
        )
    )
    # zero-norm guard: NaN >= threshold is TRUE in Spark — a zero
    # vector (dead embedding, padding row) would otherwise "match"
    # every bucket-mate with cosine NaN
    return (
        cand.filter((F.col("n_l") > 0) & (F.col("n_r") > 0))
        .withColumn(
            "cosine",
            _vec_dot(F.col("v_l"), F.col("v_r"))
            / (F.col("n_l") * F.col("n_r")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_l", "id_r", "cosine")
    )


def _deletion_neighborhood(col):
    """FastSS radius-1 candidate keys, row-locally: the string itself
    plus every single-character deletion, deduped (deleting either
    'a' of 'aa' yields one 'a').  Shared by the self-join operator,
    the storable index and the delta probe so all three provably use
    ONE blocking algebra."""
    return F.array_distinct(
        F.concat(
            F.array(col),
            F.transform(
                F.sequence(F.lit(1), F.length(col)),
                lambda i: F.concat(
                    F.substring(col, F.lit(1), i - 1),
                    col.substr(i + 1, F.length(col)),
                ),
            ),
        )
    )


def _key_grain_guard(col, max_len: int):
    """Row-side fail-fast for over-long strings (the ``_checked_dim``
    convention): variant fan-out is length+1 rows per input, so a
    document-length string is a mis-use, not a slow path."""
    return F.when(F.length(col) <= max_len, col).otherwise(
        F.raise_error(
            F.concat(
                F.lit("edit-distance operators are key-grain: string of length "),
                F.length(col).cast("string"),
                F.lit(
                    f" exceeds max_len={max_len} (truncate or key on a "
                    "shorter column)"
                ),
            )
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_edit: int = 1,
    max_len: int = 512,
    max_bucket_size: int | None = None,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """Near-dup pairs within a bounded EDIT DISTANCE — the
    character-grain member of the near-dup family (token sets →
    MinHash, bit signatures → SimHash/pigeonhole, vectors →
    hyperplane LSH, characters → THIS): "these two titles/URLs differ
    by one typo", the key-normalization step crawl curation runs on
    short identifier strings.

    Candidate generation is FastSS deletion-neighborhood blocking
    (Bocek et al. 2007): each string's candidate keys are itself plus
    every single-character deletion, so any two strings within edit
    distance 1 PROVABLY share a key (equal → the string itself; one
    substitution → delete the differing position from both; one
    insertion → delete the inserted character from the longer side) —
    an equi-join on variants, never an all-pairs scan.  Exact
    ``levenshtein`` verification then runs on candidates only, so
    variant collisions (``'ab'``/``'ba'`` share variant ``'a'`` at
    distance 2) cost a candidate row, never a wrong answer.
    ``max_edit`` is capped at 1: the k-deletion neighborhood for
    k ≥ 2 is O(len^k) variants per row — a different cost class this
    operator refuses rather than silently absorbing (compose with a
    coarser blocker first if you genuinely need radius 2).

    This is a KEY-GRAIN operator (titles, URLs, product ids …):
    variant fan-out is length+1 rows per input, so a document-length
    string is a mis-use — rows longer than ``max_len`` fail fast with
    a row-side raise (the ``_checked_dim`` convention) instead of
    silently exploding the shuffle.  ``max_bucket_size`` mirrors the
    MinHash valve: skip variant buckets larger than this before the
    self-join (hot variants of near-empty strings are boilerplate
    clusters; the pair list is rarely the artifact you want there).

    Output: ``(id_a, id_b, edit_distance)`` with ``id_a < id_b``,
    distance ≤ ``max_edit`` (0 = exact duplicates); pair (a, b) emits
    once regardless of how many shared variants connect it.  NULL
    ids/texts are excluded; duplicated ids are collapsed to one row
    per id by default (they would fan out the verify joins) —
    ``assume_unique_ids=True`` skips that exchange when the id is a
    real key (the MinHash-family convention).

    Scale shape: row-local variant explode (length+1 fan-out on key-
    grain strings) → ONE variant equi-join → distinct candidate ids →
    two id-keyed joins back for the verify — never all-pairs
    (``test_edit_distance_pairs_no_all_pairs``); hot buckets valve-
    droppable, AQE-skew-splittable.  Extension operator (SURVEY §2.5).
    """
    if max_edit != 1:
        raise ValueError(
            f"max_edit={max_edit} unsupported: the deletion-neighborhood "
            "guarantee implemented here is exact for radius 1; k >= 2 "
            "needs O(len^k) variants per row (see docstring)"
        )
    qid = df["`{}`".format(id_col.replace("`", "``"))]
    qt = df["`{}`".format(text_col.replace("`", "``"))]
    base = df.filter(qid.isNotNull() & qt.isNotNull()).select(
        qid.alias("__ed_id"),
        _key_grain_guard(qt, max_len).alias("__ed_t"),
    )
    if not assume_unique_ids:
        base = base.dropDuplicates(["__ed_id"])
    variants = base.select(
        "__ed_id",
        "__ed_t",
        F.explode(_deletion_neighborhood(F.col("__ed_t"))).alias("__ed_v"),
    )
    if max_bucket_size is not None:
        keep = (
            variants.groupBy("__ed_v")
            .count()
            .filter(F.col("count") <= max_bucket_size)
            .select("__ed_v")
        )
        variants = variants.join(keep, on="__ed_v", how="left_semi")
    left = variants.select(
        F.col("__ed_id").alias("__ed_ida"), F.col("__ed_v")
    )
    right = variants.select(
        F.col("__ed_id").alias("__ed_idb"), F.col("__ed_v")
    )
    cand = (
        left.join(right, on="__ed_v")
        .filter(F.col("__ed_ida") < F.col("__ed_idb"))
        .select("__ed_ida", "__ed_idb")
        .dropDuplicates()
    )
    ta = base.select(
        F.col("__ed_id").alias("__ed_ida"), F.col("__ed_t").alias("__ed_ta")
    )
    tb = base.select(
        F.col("__ed_id").alias("__ed_idb"), F.col("__ed_t").alias("__ed_tb")
    )
    return (
        cand.join(ta, on="__ed_ida")
        .join(tb, on="__ed_idb")
        .withColumn(
            "edit_distance", F.levenshtein("__ed_ta", "__ed_tb")
        )
        .filter(F.col("edit_distance") <= max_edit)
        .select(
            F.col("__ed_ida").alias("id_a"),
            F.col("__ed_idb").alias("id_b"),
            "edit_distance",
        )
    )


def title_variant_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_len: int = 512,
    assume_unique_ids: bool = False,
    hash_variants: bool = False,
) -> DataFrame:
    """STORABLE deletion-variant index for incremental edit-distance
    dedup — the character-grain instance of this engine's stored-index
    pattern (tokens → ``minhash_band_buckets``, vectors →
    ``embedding_lsh_buckets``, characters → THIS): persist
    ``(id, variant)`` once, and every future crawl's typo probe costs
    crawl-sized work (:func:`edit_distance_delta_pairs`) instead of
    re-exploding the corpus.

    Building/appending is ROW-LOCAL (one explode per row, length+1
    fan-out on key-grain strings) — a pure map, zero exchanges under
    ``assume_unique_ids=True`` (``test_title_variant_index_is_pure_
    map``); by default duplicated ids collapse first, the one safety
    exchange (the MinHash-family convention).

    ``hash_variants=True`` stores ``xxhash64(variant)`` (LONG) instead
    of the variant string: fixed 8-byte probe-join keys and ~4× less
    raw key width in the shuffle, LOSSLESS because hash collisions
    only add candidates that die in the exact levenshtein verify
    (pinned by ``test_hashed_variant_index_equals_string_tier``).  The
    probe and merge auto-detect the tier from the stored column's
    type.  Measured caveat (SCALING.md r18 probe): the PARQUET
    artifact is 1.15–1.4× LARGER than the string tier at sf0.1 —
    high-entropy longs defeat the dictionary/prefix compression short
    title variants enjoy — and probe wall is parity at local scale, so
    the tier earns its keep only where keys are long/high-entropy
    (URLs, paths) or where fixed-width shuffle keys matter more than
    stored bytes; it stays opt-in."""
    qid = df["`{}`".format(id_col.replace("`", "``"))]
    qt = df["`{}`".format(text_col.replace("`", "``"))]
    base = df.filter(qid.isNotNull() & qt.isNotNull()).select(
        qid.alias(id_col), _key_grain_guard(qt, max_len).alias("__tv_t")
    )
    if not assume_unique_ids:
        base = base.dropDuplicates([id_col])
    variant = F.explode(_deletion_neighborhood(F.col("__tv_t")))
    if hash_variants:
        return base.select(id_col, variant.alias("__tv_v")).select(
            id_col, F.xxhash64("__tv_v").alias("variant")
        )
    return base.select(id_col, variant.alias("variant"))


def edit_distance_delta_pairs(
    corpus: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_edit: int = 1,
    max_len: int = 512,
    corpus_index: DataFrame | None = None,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """INCREMENTAL edit-distance dedup: which strings of a NEW batch
    (today's crawl's titles/URLs) sit within one edit of a string
    already in the corpus — the character-grain sibling of
    :func:`crawl_delta_pairs` / :func:`embedding_delta_pairs`,
    asymmetric so the corpus never pays for the arrival of a delta.

    The corpus side is the stored :func:`title_variant_index` — pass
    ``corpus_index`` and corpus TEXTS are read only to verify the
    (tiny) candidate set (broadcast semi-join on candidate ids — a
    pushed-down id filter over the title store at scale); ``None``
    derives the index inline (one-shot mode, bit-identical output).

    The candidate rule is the SAME FastSS algebra as the self-join
    operator (both sides carry their full deletion neighborhood, via
    the shared :func:`_deletion_neighborhood`), so a cross pair is
    generated iff :func:`edit_distance_pairs` would generate it over
    corpus ∪ delta — pinned by
    ``test_edit_distance_delta_matches_selfjoin_restriction``.  Ids
    must be unique within each side and disjoint across sides (the
    stored-index family contract).

    Output: ``(delta_id, corpus_id, edit_distance)`` with distance ≤
    ``max_edit``.

    Scale shape: delta-sized variant explode → ONE index equi-join →
    distinct candidate ids → candidate-sized verify joins; the stored
    index passes through untouched and the corpus title store is
    semi-filtered before its scan."""
    if max_edit != 1:
        raise ValueError(
            f"max_edit={max_edit} unsupported: the deletion-neighborhood "
            "guarantee implemented here is exact for radius 1"
        )
    qid = delta["`{}`".format(id_col.replace("`", "``"))]
    qt = delta["`{}`".format(text_col.replace("`", "``"))]
    d_base = delta.filter(qid.isNotNull() & qt.isNotNull()).select(
        qid.alias("__dd_id"), _key_grain_guard(qt, max_len).alias("__dd_t")
    )
    if not assume_unique_ids:
        d_base = d_base.dropDuplicates(["__dd_id"])
    probes = d_base.select(
        "__dd_id",
        F.explode(_deletion_neighborhood(F.col("__dd_t"))).alias("variant"),
    )
    if corpus_index is None:
        corpus_index = title_variant_index(
            corpus,
            id_col=id_col,
            text_col=text_col,
            max_len=max_len,
            assume_unique_ids=assume_unique_ids,
        )
    expected = {id_col, "variant"}
    if not expected.issubset(set(corpus_index.columns)):
        raise ValueError(
            f"corpus_index must carry columns {sorted(expected)} (a "
            f"title_variant_index output); got {corpus_index.columns}"
        )
    anchors = corpus_index.select(
        F.col(id_col).alias("__dd_kid"), "variant"
    )
    # auto-detect the hashed-index tier (variant stored as LONG): hash
    # the probe side identically — lossless, collisions die in the
    # exact verify below
    if dict(corpus_index.dtypes).get("variant") == "bigint":
        probes = probes.select(
            "__dd_id", F.xxhash64("variant").alias("variant")
        )
    cand = (
        probes.join(anchors, on="variant")
        .select("__dd_id", "__dd_kid")
        .dropDuplicates()
    )
    # verify: corpus titles semi-filtered to candidate ids FIRST so the
    # title-store scan is candidate-sized, never corpus-sized
    hit_ids = cand.select(F.col("__dd_kid").alias(id_col)).dropDuplicates()
    kqid = corpus["`{}`".format(id_col.replace("`", "``"))]
    kqt = corpus["`{}`".format(text_col.replace("`", "``"))]
    k_titles = (
        corpus.join(F.broadcast(hit_ids), on=id_col, how="left_semi")
        .filter(kqid.isNotNull() & kqt.isNotNull())
        .select(
            kqid.alias("__dd_kid"),
            _key_grain_guard(kqt, max_len).alias("__dd_kt"),
        )
        .dropDuplicates(["__dd_kid"])
    )
    return (
        cand.join(d_base, on="__dd_id")
        .join(k_titles, on="__dd_kid")
        .withColumn("edit_distance", F.levenshtein("__dd_t", "__dd_kt"))
        .filter(F.col("edit_distance") <= max_edit)
        .select(
            F.col("__dd_id").alias("delta_id"),
            F.col("__dd_kid").alias("corpus_id"),
            "edit_distance",
        )
    )


def merge_delta_into_variant_index(
    corpus_index: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_len: int = 512,
    assume_unique_ids: bool = False,
) -> DataFrame:
    """Variant-index MAINTENANCE: append an accepted delta's deletion
    variants to a stored :func:`title_variant_index`.  The append is a
    PURE MAP over the delta (the variant explode is row-local) and the
    stored index passes through the union untouched — zero exchanges
    anywhere (``test_merge_variant_index_is_pure_map``); merge ==
    from-scratch rebuild holds row-for-row
    (``test_merge_variant_index_equals_rebuild``).  Same unique-and-
    disjoint id contract as the other stored-index merges."""
    expected = {id_col, "variant"}
    if not expected.issubset(set(corpus_index.columns)):
        raise ValueError(
            f"corpus_index must carry columns {sorted(expected)} (a "
            f"title_variant_index output); got {corpus_index.columns}"
        )
    return corpus_index.select(id_col, "variant").unionByName(
        title_variant_index(
            delta,
            id_col=id_col,
            text_col=text_col,
            max_len=max_len,
            assume_unique_ids=assume_unique_ids,
            hash_variants=dict(corpus_index.dtypes).get("variant")
            == "bigint",
        )
    )


def edit_distance_delta_pairs_stream(
    delta: DataFrame,
    corpus_index: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_edit: int = 1,
    max_len: int = 512,
) -> DataFrame:
    """STREAMING-LEGAL tier of :func:`edit_distance_delta_pairs`: flag
    typo-variants of the existing corpus on a LIVE feed of titles/URLs
    (readStream) — the character grain of the streaming stored-index
    family (MinHash → :func:`crawl_delta_pairs_stream`, vectors →
    :func:`embedding_delta_pairs_stream`, characters → THIS).

    The deletion-neighborhood explode is ROW-LOCAL, so the only
    non-map operators are two STREAM-STATIC inner joins (both legal in
    append mode): delta variants × the stored
    :func:`title_variant_index`, then candidates × the static corpus
    title store for the exact levenshtein verify.  Same blocking
    algebra as the batch path (the shared
    :func:`_deletion_neighborhood`) — a pair flagged here is flagged
    there.

    Output: ``(delta_id, corpus_id, edit_distance ≤ max_edit)``.  A
    pair may repeat once per SHARED VARIANT (identical values —
    equal-string pairs repeat most, length+1 times): batch consumers
    ``dropDuplicates``, stream consumers
    ``dropDuplicatesWithinWatermark`` — statefully deduping here would
    force a watermark contract onto every caller (the
    ``crawl_delta_pairs_stream`` convention).  The candidate-id
    semi-prefilter of the batch tier is unavailable against a stream;
    the corpus title store joins directly (static build side)."""
    if max_edit != 1:
        raise ValueError(
            f"max_edit={max_edit} unsupported: the deletion-neighborhood "
            "guarantee implemented here is exact for radius 1"
        )
    expected = {id_col, "variant"}
    if not expected.issubset(set(corpus_index.columns)):
        raise ValueError(
            f"corpus_index must carry columns {sorted(expected)} (a "
            f"title_variant_index output); got {corpus_index.columns}"
        )
    qid = delta["`{}`".format(id_col.replace("`", "``"))]
    qt = delta["`{}`".format(text_col.replace("`", "``"))]
    probes = delta.filter(qid.isNotNull() & qt.isNotNull()).select(
        qid.alias("__dd_id"),
        _key_grain_guard(qt, max_len).alias("__dd_t"),
    ).select(
        "__dd_id",
        "__dd_t",
        F.explode(_deletion_neighborhood(F.col("__dd_t"))).alias("variant"),
    )
    anchors = corpus_index.select(
        F.col(id_col).alias("__dd_kid"), "variant"
    )
    if dict(corpus_index.dtypes).get("variant") == "bigint":
        probes = probes.select(
            "__dd_id",
            "__dd_t",
            F.xxhash64("variant").alias("variant"),
        )
    kqid = corpus["`{}`".format(id_col.replace("`", "``"))]
    kqt = corpus["`{}`".format(text_col.replace("`", "``"))]
    k_titles = corpus.filter(kqid.isNotNull() & kqt.isNotNull()).select(
        kqid.alias("__dd_kid"),
        _key_grain_guard(kqt, max_len).alias("__dd_kt"),
    )
    return (
        probes.join(anchors, on="variant")
        .join(k_titles, on="__dd_kid")
        .withColumn("edit_distance", F.levenshtein("__dd_t", "__dd_kt"))
        .filter(F.col("edit_distance") <= max_edit)
        .select(
            F.col("__dd_id").alias("delta_id"),
            F.col("__dd_kid").alias("corpus_id"),
            "edit_distance",
        )
    )
