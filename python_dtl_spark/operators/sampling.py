"""Deterministic sampling / dataset-split operators for training-data
pipelines (M6 extensions; the reference has no sampling surface).

Everything here is *hash-deterministic*, not RNG-based: membership
depends only on the key value and the seed string, never on partition
layout, task retries, or row order.  That property is what makes a
100 TB pipeline reproducible — re-running a failed stage or adding
executors cannot change which rows land in the training set.  It also
makes every operator exactly reproducible in ANSI SQL (md5 is shared
with DuckDB), so the driver can hash-check them.

Keys should be stable identifiers (ints / strings).  Floats are
rejected: their string rendering differs across engines.  NULL keys
have no deterministic identity (they all hash to NULL), so every
operator here excludes NULL-keyed rows from selection — assign
surrogate ids upstream if such rows must participate.
"""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 10_000


def hash_bucket(key: Column, seed: str = "") -> Column:
    """Uniform bucket in [0, 10000) from md5(seed || key).

    First 8 hex chars → 32-bit int → mod 10000; the 2^32/10000 bias is
    ~1e-5 relative, irrelevant for sampling."""
    h = F.md5(F.concat(F.lit(seed), key.cast("string")).cast("binary"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % _BUCKETS).alias(
        "bucket"
    )


def hash_bucket_sql(key_expr: str, seed: str = "") -> str:
    """The DuckDB-equivalent expression for :func:`hash_bucket`."""
    return (
        f"(('0x' || substr(md5('{seed}' || CAST({key_expr} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_BUCKETS})"
    )


def _snap_fraction(fraction: float | Fraction) -> Fraction:
    """Snap a float fraction to an exact rational (the module's
    ``target_mix_resample`` convention: ``limit_denominator(1000)``,
    so 0.55 means 11/20, not the binary double 0.55000…0004).  Exact
    quota arithmetic needs an exact p/q on BOTH engines; a ``Fraction``
    passes through untouched."""
    return (
        fraction
        if isinstance(fraction, Fraction)
        else Fraction(fraction).limit_denominator(1000)
    )


def top_fraction_quota_sql(
    count_expr: str, fraction: float | Fraction
) -> str:
    """The DuckDB-equivalent EXACT integer-ceil quota for
    :func:`stratified_top_fraction`: ``(n·p + q − 1) // q`` from the
    same :func:`_snap_fraction` rational the Spark side uses, so the
    two engines can never disagree on a stratum's quota (an IEEE
    ``ceil(n * 0.55)`` and a decimal one differ at n=100: 56 vs 55)."""
    frac = _snap_fraction(fraction)
    p, q = frac.numerator, frac.denominator
    return f"(({count_expr}) * {p} + {q - 1}) // {q}"


def _ref(df: DataFrame, name: str):
    """Literal top-level column reference, safe for names that need
    quoting (dots, spaces): ``df[name]`` parses dots as struct access,
    so the name is backtick-quoted with embedded backticks doubled."""
    return df["`{}`".format(name.replace("`", "``"))]


def _check_key_type(df: DataFrame, key_col: str) -> None:
    kind = dict(df.dtypes)[key_col]
    if kind in ("float", "double"):
        raise ValueError(
            f"hash-deterministic sampling needs a stable key; {key_col!r} "
            f"is {kind} (float rendering is engine-dependent)"
        )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: dict[str, float],
    seed: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split (train/val/test/...) by hashed
    key.  ``splits`` maps name → weight; weights are normalized.  Order
    of dict insertion defines the bucket ranges, so the same dict always
    produces the same assignment.

    NULL keys get a NULL split (excluded from every split but still
    visible/auditable): hash_bucket(NULL) is NULL, so every range
    comparison is unknown — without the guard the when-chain's
    otherwise() would silently funnel ALL NULL-key rows into the
    LAST-named split, contaminating exactly the split (usually test)
    that can least afford it.  Thresholds round rather than truncate:
    int(0.29 * 10000) is 2899 in IEEE doubles.
    """
    _check_key_type(df, key_col)
    total = sum(splits.values())
    expr = None
    acc = 0.0
    b = hash_bucket(F.col(key_col), seed)
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name] / total
        cond = b < round(acc * _BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn(
        split_col, F.when(F.col(key_col).isNotNull(), expr)
    )


def deterministic_sample(
    df: DataFrame, key_col: str, fraction: float, seed: str = ""
) -> DataFrame:
    """Keep a hash-deterministic ``fraction`` of rows by key.  The
    threshold rounds (int() would truncate 0.29 * 10000 to 2899)."""
    _check_key_type(df, key_col)
    return df.filter(
        hash_bucket(F.col(key_col), seed) < round(fraction * _BUCKETS)
    )


def domain_quota(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    quota: int,
    seed: str = "",
) -> DataFrame:
    """Keep at most ``quota`` rows per stratum (domain / source / lang),
    chosen deterministically by hashed-key order — the "cap any one
    domain's contribution" verb every web-corpus mix uses (e.g. C4 and
    The Pile cap per-domain page counts so no crawl dominates).

    Selection order is md5(seed || key) with the key as tie-break, so
    membership is a pure function of (key, seed, quota): re-runs,
    retries, and repartitions cannot change which rows survive, and the
    same expression replays exactly in ANSI SQL.

    Scale shape: the ``row_number() <= quota`` filter plans as a
    partial+final WindowGroupLimit (the same rank-limit pruning shape
    plan-asserted for ``kmv_distinct``), so every map task prunes to at
    most ``quota`` rows per stratum BEFORE the shuffle — a 100 TB
    domain funnels at most quota × n_map_partitions rows, never its
    full row count, through the per-stratum reducer.
    """
    _check_key_type(df, key_col)
    if quota < 1:
        raise ValueError(f"quota must be >= 1, got {quota}")
    # NULL keys have no deterministic identity: they all hash to NULL,
    # tie in the selection order, and which of them survive would
    # depend on partition arrival — breaking the pure-function contract
    # (and Spark sorts NULLS FIRST while SQL oracles default NULLS
    # LAST, so the engines would also disagree).  They are excluded,
    # like every hash-keyed sampler in this module; assign surrogate
    # ids upstream if NULL-keyed rows must participate.
    h = F.md5(
        F.concat(F.lit(seed), _ref(df, key_col).cast("string")).cast("binary")
    )
    w = Window.partitionBy(_ref(df, strata_col)).orderBy(
        h.asc(), _ref(df, key_col).asc()
    )
    return (
        df.filter(_ref(df, key_col).isNotNull())
        .withColumn("__quota_rank", F.row_number().over(w))
        .filter(F.col("__quota_rank") <= quota)
        .drop("__quota_rank")
    )


def keep_rate_filter(
    df: DataFrame,
    group_col: str,
    flag_col: str,
    min_rate: tuple[int, int] = (3, 4),
    min_group_rows: int = 1,
) -> DataFrame:
    """Group-level quality gating (staged r16 → r17): drop ENTIRE
    groups (domains, sources, shards) whose per-row keep-rate falls
    below ``min_rate`` — the RefinedWeb/DCLM-style "blacklist a domain
    by its statistics" verb, the group-grain complement of per-doc
    flag filters (a spam farm whose pages individually straddle the
    quality threshold is dropped wholesale once its RATE is bad).

    ``min_rate`` is an exact rational ``(num, den)``: a group with
    ``n`` rows of which ``k`` have ``flag_col`` true survives iff
    ``n >= min_group_rows`` and ``k·den >= num·n`` (no float rate is
    ever computed, so the cross-engine decision is exact).  NULL flags
    count as not-kept; a NULL group value is a group like any other
    (null-safe join back).  Returns ALL rows of surviving groups —
    doc-level flag filtering composes downstream (gate the docs, then
    gate the domains, then keep the flagged docs of good domains).

    Scale shape: ONE group-keyed hash agg (map-side partial count +
    count_if — a hot domain combines map-side) feeding a LEFT SEMI
    join back on the group key; the group table is one row per group,
    so AQE broadcasts it at real-world domain cardinalities
    (plan-asserted at fixture scale in
    ``test_keep_rate_filter_is_agg_plus_semi_join``).  No window —
    a rate-over-group window would funnel each domain through one
    task's sort."""
    num, den = min_rate
    if den < 1 or num < 0:
        raise ValueError(f"min_rate must be (num>=0, den>=1), got {min_rate}")
    for c in (group_col, flag_col):
        if c not in df.columns:
            raise ValueError(f"column {c!r} not in {df.columns}")
    if "__kr_g" in df.columns:
        raise ValueError(
            "keep_rate_filter uses internal working column '__kr_g' "
            "which already exists on the input; rename or drop it first"
        )
    groups = (
        # _ref, not F.col: a dotted group/flag column name must resolve
        # as a literal top-level column, not a struct path (the r16
        # keep_newest_canonical advisor lesson, applied proactively)
        df.groupBy(_ref(df, group_col).alias("__kr_g"))
        .agg(
            F.count(F.lit(1)).alias("__kr_n"),
            F.count_if(_ref(df, flag_col)).alias("__kr_k"),
        )
        .filter(
            (F.col("__kr_n") >= F.lit(min_group_rows))
            & (F.col("__kr_k") * den >= num * F.col("__kr_n"))
        )
    )
    return df.join(
        groups.select("__kr_g"),
        on=_ref(df, group_col).eqNullSafe(F.col("__kr_g")),
        how="left_semi",
    )


def target_mix_resample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    weights: dict[str, int],
    seed: str = "mix",
    precap_quota: int | None = None,
) -> DataFrame:
    """Resample to an EXACT target mixture: keep ``w_s × K`` rows of
    each stratum ``s``, where the integer ``K = min_s floor(n_s / w_s)``
    is the largest scale at which every stratum can fill its share —
    the "60% web / 20% code / 20% books" data-mixture knob of an LLM
    training run, decided entirely in integer arithmetic (pass
    relative integer weights; proportions are ``w_s / Σw``).

    The output mixture is exactly proportional by construction (every
    kept count is ``w_s × K``), maximal (K+1 would overdraw the
    scarcest stratum), and a pure function of (key, seed, weights):
    selection within a stratum is md5(seed || key) order with the key
    as tie-break — the same deterministic-rank rule as
    :func:`domain_quota`, replayable in ANSI SQL.  Strata absent from
    ``weights`` are dropped; a WEIGHTED stratum absent from the data
    raises (its share is unfillable — silently returning an empty
    frame would look like data loss downstream).  NULL-keyed and
    NULL-stratum rows are excluded like every hash-keyed sampler here.

    Scale shape: one tiny stratum-count aggregation (map-side partials,
    rows = |weights|) broadcast back as per-stratum quotas, then ONE
    rank window per stratum.  The rank limit is data-dependent
    (``w_s × K`` is not a plan literal), so unlike ``domain_quota``
    the WindowGroupLimit map-side prune is unavailable — the window
    costs its one hash exchange plus a per-stratum sort, linear in the
    stratum.

    ``precap_quota`` is the 100 TB hot-stratum valve: it applies a
    SAME-SEED :func:`domain_quota` pre-cap first, whose literal rank
    limit restores the WindowGroupLimit map-side prune — every map
    task forwards at most ``precap_quota`` rows per stratum into the
    mix window's shuffle instead of a mega-stratum's full row count.
    Because the pre-cap selects by the SAME md5(seed || key) order the
    mix uses, the result is PROVABLY IDENTICAL to the un-capped mix
    whenever ``precap_quota ≥ w_s × K`` for every stratum (the mix
    takes a prefix of the same per-stratum order, and the binding
    stratum's floor(n_b / w_b) = K survives the cap intact, so K is
    unchanged) — asserted by an equality test, plan-asserted for the
    pruning shape.  A quota BELOW some stratum's ``w_s × K`` changes K
    (the mix sees the capped counts) but still yields an exact,
    maximal mixture over the capped corpus.

    Extension operator (no reference counterpart — the reference's
    whole function registry is ``add``,
    /root/reference/src/dtl/functions.py); SURVEY.md §2.5.
    """
    _check_key_type(df, key_col)
    # internal model/working column names (advisor r12): the final
    # drop("__mix_stratum", "__mix_rank", "__mix_quota") would
    # otherwise silently remove a caller's same-named column (or the
    # quota join would go ambiguous)
    for internal in ("__mix_stratum", "__mix_rank", "__mix_quota"):
        if internal in df.columns:
            raise ValueError(
                f"target_mix_resample uses internal working column "
                f"{internal!r} which already exists on the input; "
                "rename or drop it first"
            )
    if precap_quota is not None:
        df = domain_quota(df, strata_col, key_col, precap_quota, seed=seed)
    if not weights:
        raise ValueError("weights must be a non-empty {stratum: int} map")
    for s, w in weights.items():
        if not isinstance(w, int) or isinstance(w, bool) or w < 1:
            raise ValueError(
                f"weights must be positive integers; got {s!r}: {w!r}"
            )
    spark = df.sparkSession
    # Model tables use an INTERNAL stratum column with the type DERIVED
    # from the input schema (advisor r11): interpolating strata_col
    # into a DDL string broke on names needing quoting, and hardcoding
    # `string` made non-string strata (int domain codes) crash or join
    # through implicit casts.  df[strata_col] (not F.col) addresses the
    # column literally, so dotted/backticked names work too.
    stratum_field = next(
        (f for f in df.schema.fields if f.name == strata_col), None
    )
    if stratum_field is None:
        raise ValueError(
            f"strata column {strata_col!r} not found (columns: "
            f"{df.columns})"
        )
    from pyspark.sql.types import LongType, StructField, StructType

    weights_df = spark.createDataFrame(
        [(s, w) for s, w in weights.items()],
        StructType(
            [
                StructField("__mix_stratum", stratum_field.dataType),
                StructField("__mix_w", LongType()),
            ]
        ),
    )
    base = df.filter(
        _ref(df, key_col).isNotNull() & _ref(df, strata_col).isNotNull()
    )
    counts = base.groupBy(
        _ref(base, strata_col).alias("__mix_stratum")
    ).agg(F.count(F.lit(1)).cast("long").alias("__mix_n"))
    # inner join keeps only weighted strata; a weighted stratum with no
    # rows is missing here and detected below
    per = weights_df.join(counts, on="__mix_stratum", how="left")
    rows = per.collect()  # |weights| rows: the mixture model is tiny
    missing = sorted(r["__mix_stratum"] for r in rows if r["__mix_n"] is None)
    if missing:
        raise ValueError(
            f"weighted strata absent from the data: {missing} — their "
            "share is unfillable (remove them from weights or fix the "
            "input)"
        )
    k = min(r["__mix_n"] // r["__mix_w"] for r in rows)
    quotas = {r["__mix_stratum"]: r["__mix_w"] * k for r in rows}
    quota_df = spark.createDataFrame(
        [(s, q) for s, q in quotas.items()],
        StructType(
            [
                StructField("__mix_stratum", stratum_field.dataType),
                StructField("__mix_quota", LongType()),
            ]
        ),
    )
    h = F.md5(
        F.concat(F.lit(seed), _ref(base, key_col).cast("string")).cast("binary")
    )
    w = Window.partitionBy(_ref(base, strata_col)).orderBy(
        h.asc(), _ref(base, key_col).asc()
    )
    return (
        base.join(
            F.broadcast(quota_df),
            on=_ref(base, strata_col) == quota_df["__mix_stratum"],
        )
        .withColumn("__mix_rank", F.row_number().over(w))
        .filter(F.col("__mix_rank") <= F.col("__mix_quota"))
        .drop("__mix_stratum", "__mix_rank", "__mix_quota")
    )


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float | Fraction,
    seed: str = "",
) -> DataFrame:
    """Temperature-based domain rebalancing (the multilingual-sampling
    rule of XLM-R / mT5): target mix ``q_i ∝ p_i^alpha`` where ``p_i``
    is stratum *i*'s share of rows.  Realized as downsample-only —
    every stratum keeps fraction ``f_i = (n_min / n_i)^(1-alpha)``, so
    the smallest stratum keeps everything and larger strata shrink
    toward the flattened mix (``alpha=1`` keeps all rows, ``alpha=0``
    equalizes all strata to ``n_min``).

    Exactness: membership is decided by the INTEGER comparison

        bucket^b · n_i^(b-a)  <  10000^b · n_min^(b-a)

    (``alpha = a/b`` reduced) in decimal/int128 arithmetic — never a
    floating ``pow`` — so Spark and any SQL oracle agree bit-for-bit
    even at threshold boundaries where libm implementations differ by
    an ulp.  ``alpha`` must reduce to denominator <= 3 (0, 1/3, 1/2,
    2/3, 1 — the values used in practice); larger denominators would
    overflow the 38-digit integer range at trillion-row strata and are
    rejected rather than silently approximated.

    Scale shape: one map-side-partial count per stratum (tiny result,
    broadcast back), a single-row global min (broadcast scalar), then a
    pure map-stage filter — no shuffle of the data itself beyond the
    count agg's.
    """
    _check_key_type(df, key_col)
    frac = Fraction(alpha).limit_denominator(1000) if not isinstance(
        alpha, Fraction
    ) else alpha
    if not 0 <= frac <= 1:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    if frac.denominator > 3:
        raise ValueError(
            f"alpha={alpha} does not reduce to denominator <= 3; "
            "cross-engine exactness is only guaranteed for "
            "alpha in {0, 1/3, 1/2, 2/3, 1}"
        )
    a, b = frac.numerator, frac.denominator
    if a == b:  # alpha = 1: identity mix
        return df
    # NULL keys: hash_bucket(NULL) is NULL and NULL < rhs filters
    # false, so such rows could never survive anyway — filtering them
    # FIRST keeps the per-stratum counts (and thus every keep
    # fraction) consistent with the population actually being sampled
    df = df.filter(F.col(key_col).isNotNull())
    counts = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n")
    )
    ref = counts.agg(F.min("__n").alias("__nmin"))
    dec = "decimal(38,0)"
    bucket = hash_bucket(F.col(key_col), seed).cast(dec)
    lhs = bucket
    for _ in range(b - 1):
        lhs = (lhs * bucket).cast(dec)
    rhs = F.lit(_BUCKETS**b).cast(dec)
    for _ in range(b - a):
        lhs = (lhs * F.col("__n")).cast(dec)
        rhs = (rhs * F.col("__nmin")).cast(dec)
    out_cols = df.columns
    # null-SAFE join on the stratum: groupBy collects NULL strata into
    # one group, so a plain equi-join would silently drop those rows
    # (null never equals null) while the counts still included them —
    # NULL is a stratum like any other here, as in the SQL oracle's
    # IS NOT DISTINCT FROM.  The counts side renames its key first:
    # it descends from ``df``, so joining on same-named columns trips
    # Spark's ambiguous-self-join detection.
    counts = counts.withColumnRenamed(strata_col, "__strata")
    return (
        df.join(
            F.broadcast(counts),
            F.col(strata_col).eqNullSafe(F.col("__strata")),
            "inner",
        )
        .join(F.broadcast(ref))
        .filter(lhs < rhs)
        .select(*out_cols)
    )


def temperature_thresholds_sql(
    table: str, strata_col: str, key_expr: str, alpha: Fraction, seed: str = ""
) -> str:
    """DuckDB replay of :func:`temperature_resample` (same integer
    comparison, HUGEINT arithmetic), returning the key + stratum of
    surviving rows; used by the catalog oracle."""
    frac = Fraction(alpha)
    a, b = frac.numerator, frac.denominator
    bucket = hash_bucket_sql(key_expr, seed=seed)
    lhs = f"CAST({bucket} AS HUGEINT)" + f" * {bucket}" * (b - 1)
    rhs = f"CAST({_BUCKETS ** b} AS HUGEINT)"
    lhs += " * c.__n" * (b - a)
    rhs += " * r.__nmin" * (b - a)
    # NULL-key rows are filtered BEFORE counting, mirroring the
    # engine's pre-count filter: they can never survive the membership
    # comparison, so including them in __n would skew every stratum's
    # keep fraction relative to the population actually being sampled
    return f"""
    WITH c AS (
      SELECT {strata_col}, CAST(count(*) AS HUGEINT) AS __n
      FROM {table} WHERE ({key_expr}) IS NOT NULL GROUP BY {strata_col}
    ), r AS (SELECT min(__n) AS __nmin FROM c)
    SELECT t.* FROM {table} t
    JOIN c ON t.{strata_col} IS NOT DISTINCT FROM c.{strata_col}
    CROSS JOIN r
    WHERE ({key_expr}) IS NOT NULL AND {lhs} < {rhs}
    """


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str,
    seed: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ``fractions[stratum]``
    of each stratum's rows (``default_fraction`` for unlisted strata).
    Unlike ``df.sampleBy`` this is exact-by-key and reproducible across
    engines and retries."""
    _check_key_type(df, key_col)
    b = hash_bucket(F.col(key_col), seed)
    thresh = None
    for value, frac in fractions.items():
        cond = F.col(strata_col) == value
        lim = F.lit(round(frac * _BUCKETS))
        thresh = F.when(cond, lim) if thresh is None else thresh.when(cond, lim)
    thresh = (
        F.lit(round(default_fraction * _BUCKETS))
        if thresh is None
        else thresh.otherwise(round(default_fraction * _BUCKETS))
    )
    return df.filter(b < thresh)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    seed: str = "",
) -> DataFrame:
    """Weight-proportional deterministic sampling: keep each row with
    probability ``w_i / w_max`` — the quality-weighted downsampling
    verb (keep high-quality documents more often) with the same
    hash-deterministic membership contract as everything in this
    module.

    Exactness: membership is ``bucket · w_max < w_i · 10000`` — each
    side one IEEE multiplication of the same doubles, so Spark and a
    SQL oracle agree bit-for-bit (no summation-order or libm
    dependence).  The max weight arrives as a broadcast single-row
    aggregate, never a driver action.

    Rows with NULL, zero or negative weight are never kept (the
    comparison is false for them); NaN and +Infinity weights are
    filtered out explicitly — Spark orders NaN ABOVE every double (so
    a NaN row's own comparison would be TRUE), and either one as w_max
    silently empties the whole sample; NULL keys are excluded per the
    module contract.
    """
    _check_key_type(df, key_col)
    # filter NULL keys FIRST: they are excluded from selection, so they
    # must not set w_max either — an excluded outlier weight would
    # silently rescale every other row's keep probability
    df = df.filter(F.col(key_col).isNotNull())
    # Non-finite weights are excluded from the max AND from membership
    # (the df.filter below).  ``w < +inf`` is false for BOTH NaN (Spark
    # orders NaN above every double) and +inf itself, so one predicate
    # covers both corruptions — and both matter: a NaN/inf w_max makes
    # ``b·w_max < w·10000`` false for every finite row (silently
    # emptying the sample), while a NaN row's OWN comparison
    # (``x < NaN``) would be TRUE and keep it.  Do not fold this
    # filter away as redundant.
    w = F.col(weight_col)
    wtype = dict(df.dtypes).get(weight_col)
    finite = (
        w < F.lit(float("inf")) if wtype in ("double", "float") else F.lit(True)
    )
    df = df.filter(finite)
    wmax = df.agg(F.max(w).alias("__wmax"))
    b = hash_bucket(F.col(key_col), seed).cast("double")
    out_cols = df.columns
    return (
        df.join(F.broadcast(wmax))
        .filter(b * F.col("__wmax") < F.col(weight_col) * F.lit(float(_BUCKETS)))
        .select(*out_cols)
    )


def shard_assign(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str = "",
) -> DataFrame:
    """The STREAMING-LEGAL half of :func:`shuffle_shards`: append the
    deterministic ``shard`` column (hex[1..8] of md5(seed || key), mod
    ``n_shards`` — byte-identical to ``shuffle_shards``'s shard
    coordinate) WITHOUT the in-shard position rank.

    ``shard_pos`` requires a per-shard rank — a stateful global sort
    illegal over an unbounded stream — but shard MEMBERSHIP is a pure
    row-local map, so a continuously-ingesting pipeline can emit
    training shards exactly-once with
    ``stream_to_parquet(shard_assign(stream, ...), partition_by=
    ["shard"])``: every run and retry routes each row to the same
    shard file tree, and a later batch pass (or the trainer's reader)
    orders within shards.  Batch/stream parity is BY CONSTRUCTION
    (same expression) and tested.

    NULL keys are excluded per the module contract.  Scale shape: zero
    Exchange, zero Python — the shuffle happens at the SINK as
    partitioned writes, not in the plan.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if "shard" in df.columns:
        raise ValueError(
            "shard_assign emits column 'shard' which already exists on "
            "the input; rename or drop it first"
        )
    _check_key_type(df, key_col)
    h = F.md5(
        F.concat(F.lit(seed), F.col(key_col).cast("string")).cast("binary")
    )
    shard = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards
    ).cast("int")
    return df.filter(F.col(key_col).isNotNull()).withColumn("shard", shard)


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str = "",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the training-emission
    verb: every run (and every stage retry) assigns each row the same
    shard and the same position within it, so a training job reading
    shard files in position order sees one fixed, reproducible,
    pseudo-random permutation of the corpus.

    A naive ``ORDER BY rand()`` is non-reproducible across retries and
    requires a full global sort; this derives both coordinates from
    ``md5(seed || key)`` — shard from one hash slice, in-shard order
    from a DISJOINT slice (a shared slice would make position within a
    shard correlate with shard membership, biasing each shard's head):

    * ``shard``      = hex[1..8]  as int, mod ``n_shards``
    * ``shard_pos``  = rank of (hex[9..20] as int, key) within the shard

    Output: input columns + ``shard`` (0-based) + ``shard_pos``
    (1-based).  NULL keys are excluded per the module contract; ties in
    the 48-bit order slice (~n²/2^48 birthday odds) break by key, so
    positions are total and unique.

    Scale shape: ONE hash-partition exchange into shards, then a
    per-shard sort for the rank — no global ordering, shards sort
    independently in parallel.  Each shard must fit its reducer's
    spillable sort: pick ``n_shards`` ≥ corpus_bytes / target_shard
    (for 100 TB and 1 GB shards, ~10⁵ shards), which is also what the
    downstream trainer wants.  The md5/substr/conv recipe is shared
    with :func:`hash_bucket`, so a SQL oracle replays it bit-for-bit.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    # withColumn would silently REPLACE a pre-existing shard/shard_pos
    # and the helper __ord would collide with a caller column of that
    # name — refuse loudly instead (same contract as
    # semistructured.json_extract_fields output-collision check)
    clash = {"shard", "shard_pos", "__ord"} & set(df.columns)
    if clash:
        raise ValueError(
            f"shuffle_shards emits columns {sorted(clash)} which already "
            "exist on the input; rename or drop them first"
        )
    _check_key_type(df, key_col)
    df = df.filter(F.col(key_col).isNotNull())
    h = F.md5(F.concat(F.lit(seed), F.col(key_col).cast("string")).cast("binary"))
    shard = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_shards).cast(
        "int"
    )
    order = F.conv(F.substring(h, 9, 12), 16, 10).cast("long")
    out_cols = df.columns
    w = Window.partitionBy("shard").orderBy(F.col("__ord"), F.col(key_col))
    return (
        df.withColumn("shard", shard)
        .withColumn("__ord", order)
        .withColumn("shard_pos", F.row_number().over(w).cast("long"))
        .select(*out_cols, "shard", "shard_pos")
    )


def shuffle_shards_sql(
    key_expr: str, n_shards: int, seed: str = ""
) -> tuple[str, str]:
    """DuckDB-equivalent (shard, order-slice) expressions for
    :func:`shuffle_shards`, as a SQL fragment pair usable in a CTE:
    ``shard_expr AS shard``, ``ord_expr AS __ord``."""
    h = f"md5('{seed}' || CAST({key_expr} AS VARCHAR))"
    shard = f"(('0x' || substr({h}, 1, 8))::BIGINT % {n_shards})"
    order = f"(('0x' || substr({h}, 9, 12))::BIGINT)"
    return shard, order


def epoch_upsample(
    df: DataFrame,
    strata_col: str,
    epochs: dict,
    out_col: str = "epoch",
) -> DataFrame:
    """Integer per-stratum UPSAMPLING — the complement of this
    module's downsample-only mixers: every row of stratum ``s``
    appears ``epochs[s]`` times, tagged 0..e-1 in ``out_col`` (The
    Pile trains its components for differing epoch counts — e.g.
    Wikipedia 3 epochs, Common Crawl 1 — and an LLM data recipe
    materializes that as deterministic row replication; strata absent
    from ``epochs`` default to 1 epoch, and an epoch count of 0
    DROPS the stratum outright, so one map expresses the whole
    recipe).

    Exact and trivially replayable: no hashing, no sampling — output
    multiplicity is a pure function of the stratum value, and the
    epoch index column keeps replicated rows distinguishable for
    downstream shuffling/sharding (feed :func:`shuffle_shards` a
    composite key like ``concat(doc_id, '#', epoch)``).

    Scale shape: ONE broadcast join against the |epochs|-row model
    table + a row-local ``explode(sequence(...))`` fan-out — zero
    shuffle, zero Python (plan-asserted); the fan-out multiplies
    bytes exactly as requested, never more.  Extension operator (the
    reference has no sampling surface); SURVEY §2.5.
    """
    stratum_field = next(
        (f for f in df.schema.fields if f.name == strata_col), None
    )
    if stratum_field is None:
        raise ValueError(
            f"strata column {strata_col!r} not found (columns: "
            f"{df.columns})"
        )
    if out_col in df.columns:
        raise ValueError(
            f"epoch_upsample emits column {out_col!r} which already "
            "exists on the input; rename or drop it first"
        )
    # internal model-column names too (advisor r12): the post-join
    # drop("__ep_stratum", "__ep_n") would otherwise silently remove a
    # caller's same-named column (or the join would go ambiguous)
    for internal in ("__ep_stratum", "__ep_n"):
        if internal in df.columns:
            raise ValueError(
                f"epoch_upsample uses internal working column "
                f"{internal!r} which already exists on the input; "
                "rename or drop it first"
            )
    for s, e in epochs.items():
        if not isinstance(e, int) or isinstance(e, bool) or e < 0:
            raise ValueError(
                f"epochs must be non-negative integers; got {s!r}: {e!r}"
            )
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    model = spark.createDataFrame(
        [(s, e) for s, e in epochs.items()],
        StructType(
            [
                StructField("__ep_stratum", stratum_field.dataType),
                StructField("__ep_n", LongType()),
            ]
        ),
    )
    joined = df.join(
        F.broadcast(model),
        on=_ref(df, strata_col).eqNullSafe(F.col("__ep_stratum")),
        how="left",
    )
    n = F.coalesce(F.col("__ep_n"), F.lit(1))
    return (
        joined.filter(n > 0)
        .withColumn(
            out_col,
            F.explode(F.sequence(F.lit(0).cast("long"), n - 1)),
        )
        .drop("__ep_stratum", "__ep_n")
    )


def stratified_top_fraction(
    df: DataFrame,
    strata_col: str,
    score_col: str,
    fraction: float | Fraction,
    tie_col: str,
) -> DataFrame:
    """Per-stratum QUALITY FLOOR — keep the top ``ceil(fraction·n_s)``
    rows of every stratum by ``(score DESC, tie ASC)`` (the
    FineWeb-style "keep the best q% of every domain" curation verb:
    a global score cut would let one high-scoring domain crowd out
    every other, a per-domain quota ignores quality — this keeps the
    best slice OF EACH domain).

    Unlike the float-threshold rows, this needs NO measured-margin
    argument when the score is built from exact arithmetic over
    counts (``text.quality_features``' ratios are integer divisions
    and exactly-rounded IEEE ops, bit-identical across engines): the
    rank, the quota, and the kept set replay exactly in ANSI SQL.
    The quota itself is computed in EXACT RATIONAL arithmetic —
    ``fraction`` is snapped to p/q (``Fraction.limit_denominator``,
    the module's ``target_mix_resample`` convention) and the quota is
    the integer ceil ``(n·p + q − 1) div q``, never an IEEE-double
    ``ceil(n * fraction)``: double and decimal engines disagree on
    e.g. ``ceil(100 * 0.55)`` (56 vs 55), so a float quota would
    break bit-exact replay for many (count, fraction) pairs (advisor
    r13).  :func:`top_fraction_quota_sql` emits the matching SQL
    fragment from the SAME snapped rational.  Rows with a NULL
    stratum, score, or tie key are excluded per the module contract
    (a NULL score cannot rank).

    Scale shape: one tiny per-stratum count aggregation (map-side
    partials) broadcast back as quotas + ONE rank window per stratum
    — the ``target_mix_resample`` shape; the data-dependent rank
    limit cannot WindowGroupLimit-prune, so a mega-stratum funnels
    its rows through one sort task — pre-filter with a coarse score
    floor (``df.where(score > c)``) to cap the window's input at
    100 TB.  Extension operator (SURVEY §2.5).
    """
    frac = _snap_fraction(fraction)
    if not 0 < frac <= 1:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    for internal in ("__qf_stratum", "__qf_quota", "__qf_rank"):
        if internal in df.columns:
            raise ValueError(
                f"stratified_top_fraction uses internal working column "
                f"{internal!r} which already exists on the input; "
                "rename or drop it first"
            )
    stratum_field = next(
        (f for f in df.schema.fields if f.name == strata_col), None
    )
    if stratum_field is None:
        raise ValueError(
            f"strata column {strata_col!r} not found (columns: "
            f"{df.columns})"
        )
    base = df.filter(
        _ref(df, strata_col).isNotNull()
        & _ref(df, score_col).isNotNull()
        & _ref(df, tie_col).isNotNull()
    )
    p, q = frac.numerator, frac.denominator
    counts = base.groupBy(_ref(base, strata_col).alias("__qf_stratum")).agg(
        F.expr(f"CAST((count(1) * {p} + {q - 1}) DIV {q} AS BIGINT)").alias(
            "__qf_quota"
        )
    )
    w = Window.partitionBy(_ref(base, strata_col)).orderBy(
        _ref(base, score_col).desc(), _ref(base, tie_col).asc()
    )
    return (
        base.join(
            F.broadcast(counts),
            on=_ref(base, strata_col).eqNullSafe(F.col("__qf_stratum")),
        )
        .withColumn("__qf_rank", F.row_number().over(w))
        .filter(F.col("__qf_rank") <= F.col("__qf_quota"))
        .drop("__qf_stratum", "__qf_quota", "__qf_rank")
    )


def top_fraction(
    df: DataFrame,
    score_col: str,
    fraction: float | Fraction,
    tie_col: str,
    prefilter_quantile_error: float | None = 0.01,
    floor_only: bool = False,
) -> DataFrame:
    """GLOBAL top-fraction selection — keep the top
    ``ceil(fraction·n)`` rows of the WHOLE input by ``(score DESC,
    tie ASC)`` (the rank form of a float score threshold: DSIR-style
    importance selection keeps "the best quarter of the corpus", and
    a FIXED weight cut measurably does not transfer across corpus
    sizes — COVERAGE.md r14 plan).  The quota uses the same exact
    rational integer-ceil arithmetic as
    :func:`stratified_top_fraction` (``(n·p + q − 1) div q`` from the
    :func:`_snap_fraction` rational), so an ANSI-SQL oracle replays
    the kept COUNT bit-for-bit; whether both engines agree on the
    kept SET additionally needs the rank-boundary gap
    ``score[k] − score[k+1]`` to clear cross-engine float drift when
    the score itself is float (measure it — the
    ``pipeline_lm_curate`` margin pattern).

    Rows with a NULL score or tie key are excluded per the module
    contract (a NULL score cannot rank); ``n`` counts the survivors.

    Scale shape: a global rank is ONE total order — naively a
    single-task ``row_number`` window, the classic scale-killer.
    This runs in two phases instead: (1) a cheap scalar ``count`` +
    ``approxQuantile`` (Greenwald–Khanna, one pass, driver gets one
    float) picks a coarse score floor ``t`` at quantile
    ``1 − fraction − 2·err``, whose rank guarantee means **every
    true top-k row scores ≥ t**; (2) the exact rank runs on the
    ≈``(fraction + 3·err)``-sized survivor slice only — and because
    ``k`` is a plan literal, Catalyst rewrites the rank into
    ``TakeOrderedAndProject`` (per-partition top-k + merge: every
    task prunes BEFORE anything moves, no SinglePartition exchange,
    no global range sort — plan-asserted in tests/test_plans.py).
    The output is EXACTLY the true top-k whatever the prefilter
    returns (a guard falls back to ranking the full input if the
    slice ever undershoots ``k`` — impossible under the quantile
    guarantee, but guarded, not assumed).  r21 refinement: the same
    sketch pass also takes a HIGH cut at ``1 − fraction + 2·err``;
    rows above it (exactly counted ``c ≤ k``) are inside the top-k by
    the score order alone and bypass the rank through a plain filter,
    so only the ~``4·err``-sized boundary band is ranked for the last
    ``k − c`` rows.  The 100 TB bound is therefore the take's merge
    holding ``≈4·err·n`` boundary rows, not ``fraction·n`` (shrink
    ``err`` to tighten it; the GK sketch grows as ``1/err``); for a
    corpus beyond even that, pass
    ``floor_only=True`` to keep everything ≥ the coarse floor instead
    — accept approximate count, skip phase 2 entirely (no window, no
    TakeOrderedAndProject, no k-row merge: the plan is one quantile
    pass + one pushed filter).  ``prefilter_quantile_error=None``
    disables phase 1 (test-scale / exact-plan mode; incompatible with
    ``floor_only``, whose floor IS the quantile).  Extension operator
    (SURVEY §2.5).
    """
    frac = _snap_fraction(fraction)
    if not 0 < frac <= 1:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    if prefilter_quantile_error is not None and not (
        0.0 < prefilter_quantile_error < 0.5
    ):
        # advisor r14: a negative error yields prob > 1 (opaque JVM
        # error from approxQuantile); a large one silently disables
        # the prefilter via prob <= 0 — both are caller mistakes.
        raise ValueError(
            f"prefilter_quantile_error must be in (0, 0.5) or None to "
            f"disable the prefilter, got {prefilter_quantile_error}"
        )
    if "__tf_rank" in df.columns:
        raise ValueError(
            "top_fraction uses internal working column '__tf_rank' "
            "which already exists on the input; rename or drop it first"
        )
    if floor_only and prefilter_quantile_error is None:
        # advisor r15: validate BEFORE the eager persist below — the
        # argument error must not materialize the cache just to drop it
        raise ValueError(
            "floor_only=True needs a prefilter_quantile_error "
            "(the floor IS the quantile); got None"
        )
    # The selection needs up to four passes over the scored input
    # (count, quantile, slice guard, final plan) — if the score is an
    # upstream computation (e.g. dsir_weights' one lazy plan: model
    # fits, totals subqueries, broadcast-join scoring) each pass would
    # RECOMPUTE all of it (measured: pipeline_dsir_select ran 9s vs
    # doc_dsir_weights' 1.6s before this persist).  Cache the
    # filtered input once (MEMORY_AND_DISK — evictable, spillable) and
    # register it with the module-shared release registry the bench /
    # oracle harnesses drain between queries.  At 100 TB, pass a
    # PROJECTED df (id + score) or a pre-persisted input instead of a
    # wide corpus — the cache stores whatever columns arrive here.
    from python_dtl_spark.operators.dedup import _release_after

    cached = df.filter(
        _ref(df, score_col).isNotNull() & _ref(df, tie_col).isNotNull()
    ).persist()
    try:
        base = cached
        if floor_only:
            # The documented 100 TB escape hatch (see above): keep
            # everything ≥ the coarse quantile floor, accept the
            # approximate count, and SKIP the exact rank entirely —
            # no window, no TakeOrderedAndProject, no k-row merge.
            err = prefilter_quantile_error  # non-None: validated above
            prob = max(0.0, 1.0 - float(frac) - 2.0 * err)
            if prob <= 0.0:
                return _release_after(base, cached)
            t = _quantile_floor(base, score_col, prob, err)
            if t is None:  # empty input — nothing to floor
                return _release_after(base, cached)
            return _release_after(
                base.filter(_ref(base, score_col) >= F.lit(t)), cached
            )
        # ONE eager pass for row count AND the coarse GK floors (r20;
        # was two jobs: count() then approxQuantile).  percentile_approx
        # is the same QuantileSummaries sketch as approxQuantile with
        # accuracy = 1/err, so it carries the same rank guarantee — and
        # the kept SET is floor-invariant anyway: the exact rank below
        # runs on whatever slice survives, with the undershoot guard
        # falling back to the full input.
        # r21 (threshold refinement, guide §2 single-partition bound):
        # the same sketch also yields a HIGH cut ``t_hi`` at quantile
        # ``1 − fraction + 2·err``.  Rows scoring ABOVE t_hi are
        # provably inside the top-k once their exact count ``c ≤ k`` is
        # verified (score is the primary sort key, so every such row
        # outranks every row at or below t_hi — including NaN scores,
        # which Spark orders greatest) and ship through a plain filter
        # with NO sort; only the boundary band [t_lo, t_hi] is ranked,
        # for the remaining ``k − c`` rows.  The global top-k merge
        # therefore holds ~4·err·n rows instead of fraction·n (err is
        # the knob: 0.01 default ⇒ 25×-smaller merge at fraction=1/4),
        # while the kept set stays bit-identical — both counts are
        # EXACT (second eager pass below, replacing the old slice-guard
        # count job: same job count as r20), and every guard falls back
        # to the unrefined path.
        t = t_hi = None
        if prefilter_quantile_error is not None:
            err = prefilter_quantile_error
            prob = max(0.0, 1.0 - float(frac) - 2.0 * err)
            prob_hi = min(1.0, 1.0 - float(frac) + 2.0 * err)
            if prob > 0.0:
                row = base.select(
                    _ref(base, score_col).alias("__tf_score")
                ).agg(
                    F.count(F.lit(1)).alias("__tf_n"),
                    F.percentile_approx(
                        F.col("__tf_score"),
                        F.array(F.lit(prob), F.lit(prob_hi)),
                        F.lit(max(2, int(round(1.0 / err)))),
                    ).alias("__tf_floors"),
                ).collect()[0]
                n = int(row["__tf_n"])
                if row["__tf_floors"] is not None:
                    t, t_hi = row["__tf_floors"]
            else:
                n = base.count()
        else:
            n = base.count()
        if n == 0:
            return _release_after(base, cached)
        p, q = frac.numerator, frac.denominator
        k = (n * p + q - 1) // q
        if k >= n:
            # fraction == 1 (or rounding reached n): everything
            # survives — skip the rank entirely
            return _release_after(base, cached)
        cand = base
        limit = k
        sure = None
        if t is not None and 0 < k < n:
            score = _ref(base, score_col)
            counts = base.agg(
                F.count(F.when(score >= F.lit(t), True)).alias("__tf_ge_lo"),
                F.count(F.when(score > F.lit(t_hi), True)).alias("__tf_gt_hi"),
            ).collect()[0]
            n_ge_lo = int(counts["__tf_ge_lo"])
            n_gt_hi = int(counts["__tf_gt_hi"])
            # quantile guarantee ⇒ |slice| ≥ k; guarded, not assumed
            if n_ge_lo >= k:
                if n_gt_hi == k:
                    # the high cut alone is exactly the top-k: no
                    # window, no merge — one pushed filter
                    return _release_after(
                        base.filter(score > F.lit(t_hi)), cached
                    )
                if 0 < n_gt_hi < k:
                    sure = base.filter(score > F.lit(t_hi))
                    cand = base.filter(
                        (score >= F.lit(t)) & (score <= F.lit(t_hi))
                    )
                    limit = k - n_gt_hi
                else:
                    # t_hi degenerate (maximum / NaN): unrefined slice
                    cand = base.filter(score >= F.lit(t))
        w = Window.orderBy(
            _ref(cand, score_col).desc(), _ref(cand, tie_col).asc()
        )
        ranked = (
            cand.withColumn("__tf_rank", F.row_number().over(w))
            .filter(F.col("__tf_rank") <= F.lit(limit))
            .drop("__tf_rank")
        )
        out = ranked if sure is None else sure.unionByName(ranked)
        return _release_after(out, cached)
    except BaseException:
        # advisor r14: without this, an eager pass throwing (analysis
        # error, job cancellation) leaked the persist until session end
        # — _release_after only registers caches on return paths.
        cached.unpersist()
        raise


def _quantile_floor(
    base: DataFrame, score_col: str, prob: float, err: float
) -> float | None:
    """One Greenwald–Khanna pass for the coarse floor, quoting-safe
    (advisor r14: ``approxQuantile`` takes a raw column NAME — a score
    column with dots/spaces works in the filters via ``_ref`` but
    breaks here, so the score is aliased to an internal plain name
    first).  Returns None on an empty input (approxQuantile yields an
    empty list)."""
    vals = base.select(
        _ref(base, score_col).alias("__tf_score")
    ).approxQuantile("__tf_score", [prob], err)
    return vals[0] if vals else None


def token_budget_mix(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    size_col: str,
    budgets: dict,
    seed: str = "budget",
    order_col: str | None = None,
) -> DataFrame:
    """Per-stratum TOKEN-BUDGET sampling (staged r14, the r15
    registration candidate): keep each stratum's md5-rank prefix of
    rows while the RUNNING TOKEN TOTAL stays within ``budgets[s]`` —
    an LLM data recipe is ultimately a token budget per component
    ("300 B web tokens, 30 B code tokens"), not a document count, and
    document lengths are heavy-tailed enough that a doc-count quota
    misses a token target badly.

    Semantics (exact, replayable): within stratum ``s``, order rows
    by (md5(seed || key), key) — the module's shared deterministic
    rank — or, with ``order_col``, by (order DESC, key ASC): the
    quality-ordered mode fills each budget with the BEST rows first
    (score a corpus with ``text.quality_features`` or
    ``classify.dsir_weights``, then budget the head — registered as
    ``pipeline_quality_budget``) — and keep a row iff the cumulative
    ``size_col`` sum UP TO
    AND INCLUDING it is ≤ ``budgets[s]`` (the greedy prefix; the
    first over-budget row and everything after it drop, zero-size
    rows inside the budget always fit).  Sizes are assumed
    NON-NEGATIVE (token/char counts are by construction); with
    negative sizes the keep rule is still the deterministic,
    SQL-identical "running total ≤ budget" test per row, but it is no
    longer a contiguous prefix.  Strata absent from ``budgets`` are
    dropped (one map states the whole recipe, the
    ``target_mix_resample`` convention); unlike that mixer's WEIGHTED
    strata, a budgeted stratum absent from the DATA is not an error —
    a budget is a cap, not a share, so an empty stratum under-fills
    it vacuously.  NULL-keyed / NULL-stratum / NULL-size rows are
    excluded per the module contract.  ``size_col``
    must be integral — the running sum stays exact integer arithmetic
    on both engines, so an ANSI-SQL oracle (windowed SUM ... ROWS
    UNBOUNDED PRECEDING ≤ budget) replays membership bit-for-bit.

    Scale shape: ONE broadcast join against the |budgets|-row model +
    one per-stratum rank/cumsum window (strata sort in parallel —
    the ``target_mix_resample`` exchange).  The data-dependent budget
    cannot WindowGroupLimit-prune; for a 100 TB hot stratum, pre-cap
    with a literal-quota :func:`domain_quota` at the SAME seed (a
    budget can consume at most ``budget`` rows of positive size, so
    any ``precap ≥ budgets[s]`` + 1 is provably lossless for strata
    with min row size ≥ 1 token).  Extension operator (SURVEY §2.5).
    """
    for internal in ("__tb_stratum", "__tb_budget", "__tb_cum"):
        if internal in df.columns:
            raise ValueError(
                f"token_budget_mix uses internal working column "
                f"{internal!r} which already exists on the input; "
                "rename or drop it first"
            )
    _check_key_type(df, key_col)
    if size_col not in df.columns:
        # advisor r14: dict(df.dtypes)[size_col] raised a bare KeyError
        # here while strata_col got the friendly message
        raise ValueError(
            f"size column {size_col!r} not found (columns: {df.columns})"
        )
    size_kind = dict(df.dtypes)[size_col]
    if size_kind not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"token_budget_mix needs an integral size column for exact "
            f"cross-engine arithmetic; {size_col!r} is {size_kind}"
        )
    if not budgets:
        raise ValueError("budgets must be a non-empty {stratum: int} map")
    for s, b in budgets.items():
        if not isinstance(b, int) or isinstance(b, bool) or b < 0:
            raise ValueError(
                f"budgets must be non-negative integers; got {s!r}: {b!r}"
            )
    stratum_field = next(
        (f for f in df.schema.fields if f.name == strata_col), None
    )
    if stratum_field is None:
        raise ValueError(
            f"strata column {strata_col!r} not found (columns: "
            f"{df.columns})"
        )
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    model = spark.createDataFrame(
        [(s, b) for s, b in budgets.items()],
        StructType(
            [
                StructField("__tb_stratum", stratum_field.dataType),
                StructField("__tb_budget", LongType()),
            ]
        ),
    )
    base = df.filter(
        _ref(df, key_col).isNotNull()
        & _ref(df, strata_col).isNotNull()
        & _ref(df, size_col).isNotNull()
    )
    if order_col is not None:
        # quality-ordered mode (r15): fill each stratum's budget with
        # the BEST documents first — the real recipe ranks by a
        # quality/importance score, not the unbiased md5 shuffle.  A
        # NULL score cannot rank (module contract), and the key
        # tie-break keeps the order total so the windowed-sum oracle
        # replays membership exactly; when the score is float the
        # registered row needs the measured budget-boundary-gap
        # argument (the pipeline_dsir_select pattern) unless the score
        # is exact arithmetic over counts (quality_features' ratios).
        if order_col not in df.columns:
            raise ValueError(
                f"order column {order_col!r} not found (columns: "
                f"{df.columns})"
            )
        base = base.filter(_ref(df, order_col).isNotNull())
        order = [
            _ref(base, order_col).desc(),
            _ref(base, key_col).asc(),
        ]
    else:
        h = F.md5(
            F.concat(
                F.lit(seed), _ref(base, key_col).cast("string")
            ).cast("binary")
        )
        order = [h.asc(), _ref(base, key_col).asc()]
    w = (
        Window.partitionBy(_ref(base, strata_col))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(
            F.broadcast(model),
            on=_ref(base, strata_col).eqNullSafe(F.col("__tb_stratum")),
        )
        .withColumn(
            "__tb_cum", F.sum(_ref(base, size_col).cast("long")).over(w)
        )
        .filter(F.col("__tb_cum") <= F.col("__tb_budget"))
        .drop("__tb_stratum", "__tb_budget", "__tb_cum")
    )


def gumbel_priority(weight: Column, key: Column, seed: str = "") -> Column:
    """The deterministic Gumbel-top-k priority ``log_weight + G`` with
    ``G = −ln(−ln(u))`` and ``u`` derived EXACTLY from md5(seed||key):
    first 12 hex chars → 48-bit int ``v`` → ``u = (v + 0.5) / 2^48``
    (both the int and the quotient are exactly representable doubles,
    so the only cross-engine drift is the two ``ln`` calls, ~1e-16
    relative).  Selecting the top-k rows by this priority samples k
    items WITHOUT replacement with probability ∝ exp(log_weight) —
    the Gumbel-top-k identity (Efraimidis–Spirakis in log domain) —
    while staying a pure function of (key, seed): retries,
    repartitions and re-runs reproduce the same sample."""
    h = F.md5(F.concat(F.lit(seed), key.cast("string")).cast("binary"))
    v = F.conv(F.substring(h, 1, 12), 16, 10).cast("double")
    u = (v + F.lit(0.5)) / F.lit(float(1 << 48))
    return weight + (-F.log(-F.log(u)))


def gumbel_priority_sql(weight_expr: str, key_expr: str, seed: str = "") -> str:
    """DuckDB-equivalent expression for :func:`gumbel_priority` — the
    same exact-u construction, so the engines differ only by ln()
    libm drift (measure the selection boundary gap before hashing a
    row on it, the pipeline_dsir_select pattern)."""
    v = (
        f"(('0x' || substr(md5('{seed}' || CAST({key_expr} AS VARCHAR)),"
        f" 1, 12))::BIGINT)"
    )
    return (
        f"(({weight_expr}) + (-ln(-ln((CAST({v} AS DOUBLE) + 0.5)"
        f" / 281474976710656.0))))"
    )


def importance_resample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    fraction: float | Fraction,
    seed: str = "resample",
    prefilter_quantile_error: float | None = 0.01,
) -> DataFrame:
    """Seeded IMPORTANCE RESAMPLING without replacement (staged r14,
    the r15 registration candidate): keep ``ceil(fraction·n)`` rows
    sampled with probability ∝ ``exp(weight_col)`` — the actual
    RESAMPLING step of DSIR (Xie et al. 2023 sample from the
    importance distribution rather than taking the deterministic
    head; the deterministic head over-concentrates on near-duplicate
    high-weight documents, while resampling preserves diversity in
    proportion to weight).

    ``weight_col`` is in LOG domain (``dsir_weights``' output feeds
    straight in).  The sample is the top ``ceil(fraction·n)`` rows by
    :func:`gumbel_priority` ``(weight + −ln(−ln(u)))`` with ``u``
    exact from md5(seed || key) — the Gumbel-top-k identity makes
    this a weighted sample without replacement, and determinism makes
    it reproducible and SQL-replayable (:func:`gumbel_priority_sql`;
    the two engines differ only by ln() drift, so a driver row needs
    the measured rank-boundary-gap argument, the
    ``pipeline_dsir_select`` pattern).  NULL-weight / NULL-key rows
    are excluded per the module contract.

    Scale shape: the priority is a row-local expression; selection
    reuses :func:`top_fraction`'s two-phase valve (approxQuantile
    coarse floor → literal-k TakeOrderedAndProject — per-partition
    top-k, no SinglePartition exchange, no global sort).  Extension
    operator (SURVEY §2.5).
    """
    if "__ir_priority" in df.columns:
        raise ValueError(
            "importance_resample uses internal working column "
            "'__ir_priority' which already exists on the input; rename "
            "or drop it first"
        )
    _check_key_type(df, key_col)
    base = df.filter(
        _ref(df, weight_col).isNotNull() & _ref(df, key_col).isNotNull()
    ).withColumn(
        "__ir_priority",
        gumbel_priority(
            _ref(df, weight_col).cast("double"), _ref(df, key_col), seed
        ),
    )
    return top_fraction(
        base,
        "__ir_priority",
        fraction,
        key_col,
        prefilter_quantile_error=prefilter_quantile_error,
    ).drop("__ir_priority")


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: str = "",
) -> DataFrame:
    """The fit functions' shared 100 TB sample valve (the md5 block
    duplicated in ``nb_fit``/``lm_fit``/``bpe_fit``/``dsir_fit`` —
    COVERAGE.md's dated r15 refactor extracts it here; call sites swap
    in r15 so no already-verified row's function changes mid-window):
    keep the deterministic md5-hash ``fraction`` of rows by key, with
    the fit functions' exact contract — fraction validated to (0, 1],
    ``cut = round(fraction·10000)`` (rounds, never truncates: IEEE
    0.29·10000 is 2899.999…), an empty-sample refusal when the
    fraction rounds below one bucket, and the float-key rejection.

    Distinct from :func:`deterministic_sample` only in the loud
    guards: the fit valves must REFUSE a degenerate sample (an empty
    fit table is a silent model of nothing) where the generic sampler
    may legitimately return zero rows.
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(
            f"sample_fraction must be in (0, 1], got {fraction}"
        )
    _check_key_type(df, key_col)
    cut = int(round(fraction * _BUCKETS))
    if cut < 1:
        raise ValueError(
            f"sample_fraction={fraction} rounds to an empty "
            f"hash sample (< 1/{_BUCKETS}); raise it"
        )
    return df.where(hash_bucket(F.col(key_col), seed=seed) < F.lit(cut))
