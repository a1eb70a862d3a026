"""The catalog contract: every registered query runs on Spark and
matches its DuckDB oracle at sf0.001 (``test_query_matches_oracle``,
one case per row, through ``scripts/check_oracle``'s comparator), plus
the invariants of the planted fixtures, the sketch tolerance flags and
the table-handle memo that those oracles rely on.
"""

from __future__ import annotations

import pytest

from python_dtl_spark.catalog import QUERIES
from python_dtl_spark.operators.dedup import release_all_cached
from scripts.check_oracle import compare, duck_connection

SWEEP_SF_DIR = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    for name, q in QUERIES.items():
        assert q.fn is not None, name
        assert isinstance(q.oracle, str) and q.oracle.strip(), name


def test_headline_queries_exist_and_have_oracles_where_expected():
    headline = [n for n, q in QUERIES.items() if q.headline]
    assert len(headline) >= 27  # bench regression baseline set
    # bench iterates sorted(QUERIES) — names must be stable identifiers
    for n in QUERIES:
        assert n == n.strip() and " " not in n


def test_planted_ann_fixture_equals_exact_topk(spark):
    """Soundness of the similarity_topk_lsh / _ivf oracles: on the
    planted corpus (10 exact copies per query vector) the approximate
    top-k must EQUAL exact top-k — the copies are provably candidates
    and provably fill all k slots."""
    from python_dtl_spark.catalog import _planted_ann_corpus
    from python_dtl_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    corpus, queries = _planted_ann_corpus(spark, sf)
    exact = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in similarity.cosine_topk(corpus, queries, k=10).collect()
    }
    assert len(exact) == 80
    for name in ("similarity_topk_lsh", "similarity_topk_ivf"):
        got = {
            (r.query_id, r.neighbor_id, r.rank)
            for r in QUERIES[name].fn(spark, sf).collect()
        }
        assert got == exact, name


def test_planted_hash_dedup_fixtures_exactly_planted(spark):
    """Soundness of the dedup_simhash / dedup_lsh_keep oracles: on the
    token-uniquified corpus the only near-dup structure is the planted
    copies — any extra pair/cluster means a cross-doc hash collision
    the oracle cannot see."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .filter(F.trim("text") != "")
        .select("doc_id")
        .collect()
    ]
    exp_pairs = set()
    exp_keep = {(i, i, True) for i in ids}
    for i in ids:
        if i % 3 == 0:
            exp_pairs.add((i, i + 100000, 0))
            exp_keep.add((i + 100000, i, False))
        if i % 6 == 0:
            exp_pairs.add((i, i + 200000, 0))
            exp_pairs.add((i + 100000, i + 200000, 0))
            exp_keep.add((i + 200000, i, False))
    got_pairs = {
        (r.id_a, r.id_b, r.hamming)
        for r in QUERIES["dedup_simhash"].fn(spark, sf).collect()
    }
    assert got_pairs == exp_pairs
    got_keep = {
        (r.doc_id, r.cluster_id, r.keep)
        for r in QUERIES["dedup_lsh_keep"].fn(spark, sf).collect()
    }
    assert got_keep == exp_keep


def test_planted_knn_fixture_lsh_equals_exact(spark):
    """Soundness of the embed_knn_classify_lsh oracle: on the planted
    corpus (8 groups of 11 identical vectors, contested copy labels)
    lsh-tier kNN must EQUAL exact-tier kNN — identical vectors share
    every LSH bucket, so the 10 group-mates provably fill all k slots."""
    from python_dtl_spark.catalog import QUERIES, _planted_knn_corpus
    from python_dtl_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    corpus = _planted_knn_corpus(spark, sf)
    exact = {
        (r.vec_id, r.predicted_label, r.votes)
        for r in similarity.knn_classify(corpus, k=10, num_vectors=88).collect()
    }
    got = {
        (r.vec_id, r.predicted_label, r.votes)
        for r in QUERIES["embed_knn_classify_lsh"].fn(spark, sf).collect()
    }
    assert len(exact) == 88
    assert got == exact
    # contested vote, not unanimous: base queries see 7-vs-3
    votes = {v for (_, _, v) in exact}
    assert votes <= {6, 7} and 7 in votes


def test_floor_select_plateau_precondition_holds(spark):
    """Soundness of the pipeline_floor_select oracle (advisor r15):
    its exact-set oracle is valid only because the GK rank band
    [0.72n, 0.74n] sits strictly inside the planted score plateau —
    which in turn assumes doc_id is contiguous 0..n-1 and n is large
    enough.  Assert the precondition DIRECTLY at every driver scale:
    the ascending-sorted planted scores are 500.0 at every rank the
    floor quantile (prob 0.73, err 0.01) could legally return, so a
    future fixture change fails HERE with the assumption named rather
    than as an opaque oracle mismatch."""
    import math

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ids = sorted(
            r.doc_id
            for r in spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id")
            .collect()
            if r.doc_id is not None
        )
        n = len(ids)
        assert ids == list(range(n)), f"{sf}: doc_id not contiguous 0..n-1"
        scores = sorted(
            (i % 100 + 1000.0)
            if i % 100 >= 80
            else (500.0 if i % 100 >= 60 else float(i % 100))
            for i in ids
        )
        lo = math.floor(0.72 * n)  # 1-indexed rank band the GK
        hi = math.ceil(0.74 * n)  # guarantee allows for prob .73 ± .01
        assert 1 <= lo and hi <= n, f"{sf}: n={n} too small for the band"
        band = {scores[r - 1] for r in range(lo, hi + 1)}
        assert band == {500.0}, (
            f"{sf}: GK band ranks [{lo},{hi}] leave the plateau: {band}"
        )


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_corpus_has_no_vt_ff_whitespace(sf):
    """Corpus precondition for the \\s-based tokenization oracles: many
    registered rows split tokens with ``\\s+`` on BOTH engines, and
    Java's ``\\s`` includes ``\\x0B``/``\\f`` handling identical to
    RE2's for them EXCEPT vertical tab (``\\x0B`` is Java-\\s but not
    RE2-\\s).  Every such row is green because the driver corpus
    contains neither character — pin that fact, so a regenerated
    corpus that grows a VT fails HERE with a named cause instead of
    reddening twenty token-count oracles at once.  (New operators use
    explicit whitespace classes — URL_RE, html_to_text — and are
    immune; rewriting every established tokenization oracle would
    force a window-overflowing mass re-verify for zero behavior
    change on this corpus.)"""
    import duckdb

    n = duckdb.sql(
        f"""
        SELECT count(*) FROM '/root/testdata/{sf}/documents.parquet'
        WHERE text LIKE '%' || chr(11) || '%'
           OR text LIKE '%' || chr(12) || '%'
        """
    ).fetchone()[0]
    assert n == 0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_corpus_text_is_ascii(sf):
    """Corpus precondition for every unicode-sensitive oracle pair:
    established oracles rely on Spark/DuckDB AGREEMENT of lower(),
    length(), substr() slicing and (for the edit-distance rows,
    already made immune by an explicit strip) levenshtein — semantics
    that are known or plausible divergence classes on non-ASCII input
    (DuckDB levenshtein is byte-based vs Spark's codepoint-based;
    case-mapping tables can differ per ICU version).  The driver
    corpus is 100% ASCII across documents.text/source/lang — pin it,
    so a regenerated corpus with unicode content fails HERE with a
    named cause instead of reddening string oracles diffusely."""
    import duckdb

    # regexp_matches (PARTIAL match), not ``~`` — DuckDB's ``~`` is
    # regexp_full_match, which would only flag values that ARE a
    # single non-ASCII char, making the pin vacuous (r18 review find:
    # 'héllo' ~ '[^\x00-\x7F]' is FALSE)
    for col in ("text", "source", "lang"):
        n = duckdb.sql(
            f"""
            SELECT count(*) FROM '/root/testdata/{sf}/documents.parquet'
            WHERE regexp_matches({col}, '[^\\x00-\\x7F]')
            """
        ).fetchone()[0]
        assert n == 0, f"{col} has {n} non-ASCII rows at {sf}"


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_corpus_ids_below_fixture_offsets(sf):
    """Corpus precondition for every planted-id fixture: catalog rows
    synthesize delta/typo/re-added rows by re-keying with +300000 /
    +500000 / +1000000 / +2000000 offsets, and several operators
    (edit-distance delta, the stored-index merges) carry a
    unique-and-disjoint id contract whose violation is a
    NONDETERMINISTIC dropDuplicates pick vs an oracle that keeps both
    (r18 review find).  Natural ids are 0..4999 across the driver
    scales — pin ids >= 0 and < 300000 (the smallest offset in use),
    so a regenerated corpus with big ids fails HERE with a named cause
    instead of flaking a fixture hash."""
    import duckdb

    for tbl, col in (("documents", "doc_id"), ("embeddings", "vec_id")):
        lo, hi = duckdb.sql(
            f"SELECT min({col}), max({col}) "
            f"FROM '/root/testdata/{sf}/{tbl}.parquet'"
        ).fetchone()
        assert lo >= 0 and hi < 300000, (tbl, lo, hi)


def test_sketch_tolerance_flag_is_not_vacuous(spark):
    """The graduated orders_table_profile_sketch row hashes
    n_distinct_ok against a TRUE-constant oracle — that is only a real
    check if the engine-side flag CAN go false.  Pin the factored
    predicate on literals: in-band estimates (incl. the exact-equality
    small-cardinality case and the empty-table 0/0 case) pass,
    out-of-band estimates FAIL, and the boundary sits exactly at
    15%·exact + 2."""
    from pyspark.sql import functions as F

    from python_dtl_spark.catalog import _sketch_within_tolerance

    cases = [
        # (est, exact, expected)
        (100, 100, True),     # exact agreement
        (3, 3, True),         # sparse-mode tiny column: equality
        (0, 0, True),         # empty table / all-NULL column
        (4, 3, True),         # within the +2 absolute slack
        (6, 3, False),        # |6-3|=3 > 0.15*3+2=2.45
        (117, 100, True),     # boundary: 17 <= 15+2
        (118, 100, False),    # just past the boundary
        (83, 100, True),      # symmetric low side
        (82, 100, False),
        (154_790, 149_743, True),   # the measured sf0.1 o_totalprice pair
        (14_240, 14_999, True),     # the measured sf0.1 o_custkey pair
    ]
    df = spark.createDataFrame(
        [(e, x) for e, x, _ in cases], "est long, exact long"
    ).select(
        "est", "exact",
        _sketch_within_tolerance(F.col("est"), F.col("exact")).alias("ok"),
    )
    got = {(r.est, r.exact): r.ok for r in df.collect()}
    for e, x, want in cases:
        assert got[(e, x)] is want, (e, x, want)


def test_approx_distinct_tolerance_flag_is_not_vacuous(spark):
    """dtl_approx_distinct_parts hashes approx_ok against a
    TRUE-constant oracle — a real check only if the flag CAN
    flip.  The predicate is the shared _sketch_within_tolerance (its
    boundary is pinned by test_sketch_tolerance_flag_is_not_vacuous);
    here pin the ROW's own measured pairs in-band and an out-of-band
    HLL++ failure mode (a sketch stuck at a stale lower cardinality)
    flipping the flag."""
    from pyspark.sql import functions as F

    from python_dtl_spark.catalog import _sketch_within_tolerance

    cases = [
        # (est, exact, expected)
        (1947, 2000, True),    # measured sf0.01 pair (2.7% err, in-band)
        (19459, 19998, True),  # measured sf0.1 worst pair
        (19998, 19998, True),  # exact agreement
        (16896, 19998, False), # just past 15%+2: |Δ|=3102 > 3001.7
        (25000, 19998, False), # inflated estimate flips too
    ]
    df = spark.createDataFrame(
        [(e, x) for e, x, _ in cases], "est long, exact long"
    ).select(
        "est", "exact",
        _sketch_within_tolerance(F.col("est"), F.col("exact")).alias("ok"),
    )
    got = {(r.est, r.exact): r.ok for r in df.collect()}
    for e, x, want in cases:
        assert got[(e, x)] is want, (e, x, want)


def test_histogram_sketch_tolerance_flag_is_not_vacuous(spark):
    """Pin _hist_n_within_tolerance: in-band per-bucket deviations pass
    (incl. the measured sf0.1 worst case of 13 at n_total=100k),
    drained buckets past max(2, 0.1%·n_total) fail, and a VANISHED
    sketch bucket (NULL n_sk) fails rather than passing vacuously."""
    from pyspark.sql import functions as F

    from python_dtl_spark.catalog import _hist_n_within_tolerance

    cases = [
        # (n_sk, n_exact, n_total, expected)
        (10000, 10000, 100000, True),   # exact agreement
        (9987, 10000, 100000, True),    # measured sf0.1 worst dev (13)
        (9900, 10000, 100000, True),    # boundary: tol = 100
        (9899, 10000, 100000, False),   # just past
        (100, 98, 1000, True),          # small-N absolute slack: tol=2
        (101, 98, 1000, False),         # past the +2 floor
        (None, 10000, 100000, False),   # vanished sketch bucket
    ]
    df = spark.createDataFrame(
        [(s, x, t) for s, x, t, _ in cases],
        "n_sk long, n_exact long, n_total long",
    ).select(
        "n_sk", "n_exact", "n_total",
        _hist_n_within_tolerance(
            F.col("n_sk"), F.col("n_exact"), F.col("n_total")
        ).alias("ok"),
    )
    got = {(r.n_sk, r.n_exact, r.n_total): r.ok for r in df.collect()}
    for s, x, t, want in cases:
        assert got[(s, x, t)] is want, (s, x, t, want)


def test_winsorize_sketch_tolerance_flag_is_not_vacuous(spark):
    """Pin _winsorize_within_band on literals with bands
    lo=[10,12] hi=[88,92]: every MUST leg flips on a broken sketch —
    a below-band row passed through unclipped, a certain-middle row
    that got clipped, an above-band row clipped to an out-of-band
    bound — while correct clip decisions and free band rows pass, and
    NULL value requires NULL output."""
    from pyspark.sql import functions as F

    from python_dtl_spark.catalog import _winsorize_within_band

    cases = [
        # (v, w, expected)
        (5.0, 11.0, True),    # below band, clipped into [10,12]
        (5.0, 5.0, False),    # below band, broken sketch passed it
        (5.0, 9.0, False),    # clipped to an out-of-band bound
        (50.0, 50.0, True),   # certain middle, untouched
        (50.0, 48.0, False),  # certain middle, wrongly clipped
        (95.0, 90.0, True),   # above band, clipped into [88,92]
        (95.0, 95.0, False),  # above band, passed through
        (11.0, 11.0, True),   # inside the low band: free either way
        (11.0, 10.5, True),
        (None, None, True),   # NULL stays NULL
        (None, 10.0, False),  # NULL fabricated into a bound
    ]
    df = spark.createDataFrame(
        [(v, w) for v, w, _ in cases], "v double, w double"
    ).select(
        "v", "w",
        _winsorize_within_band(
            F.col("v"), F.col("w"),
            F.lit(10.0), F.lit(12.0), F.lit(88.0), F.lit(92.0),
        ).alias("ok"),
    )
    got = {(r.v, r.w): r.ok for r in df.collect()}
    for v, w, want in cases:
        assert got[(v, w)] is want, (v, w, want)


def test_lineage_truncate_reliable_checkpoint_valve(spark, tmp_path, monkeypatch):
    """r21 (verdict item 5): the stored-index daily-loop catalog sites
    route their plan truncation through ``_lineage_truncate``, which
    must honor ``$SPARK_GRAFT_CHECKPOINT_DIR`` with fault-tolerant
    reliable ``checkpoint()`` (files on disk) and fall back to the lazy
    ``localCheckpoint`` form when unset — with identical query results
    in both modes (exercised end to end on pipeline_title_delta)."""
    import os

    from pyspark.sql import functions as F

    from python_dtl_spark.catalog import QUERIES, _lineage_truncate

    sf_dir = "/root/testdata/sf0.001"
    # default mode: lazy localCheckpoint — no checkpoint files anywhere
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    df = spark.range(5).withColumn("x", F.col("id") * 2)
    out = _lineage_truncate(spark)(df)
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
    base_rows = sorted(
        tuple(r) for r in QUERIES["pipeline_title_delta"].fn(spark, sf_dir).collect()
    )
    # reliable mode: checkpoint files land under the requested dir and
    # the query's rows are identical
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckpt)
    ckpt_rows = sorted(
        tuple(r) for r in QUERIES["pipeline_title_delta"].fn(spark, sf_dir).collect()
    )
    assert ckpt_rows == base_rows and len(base_rows) > 0
    found = [
        os.path.join(d, f)
        for d, _, files in os.walk(ckpt)
        for f in files
    ]
    assert found, "reliable checkpoint() wrote no files under the dir"


def test_table_memo_is_opt_in_and_result_preserving(spark, monkeypatch):
    """r21 (verdict item 4): the cross-query table-handle memo must be
    OFF by default (per-query bench isolation — each query pays its own
    listing/footer work exactly as in r20), share only LAZY scan
    handles when enabled, key by (app, sf_dir, table), clear through
    the sources invalidation hooks, and never change query results."""
    from python_dtl_spark import catalog as cat

    sf_dir = "/root/testdata/sf0.001"
    monkeypatch.delenv("SPARK_GRAFT_TABLE_MEMO", raising=False)
    cat._clear_table_memo()
    a = cat._read(spark, sf_dir, "region")
    b = cat._read(spark, sf_dir, "region")
    assert a is not b and not cat._TABLE_MEMO  # off: no sharing, no memo
    baseline = sorted(tuple(r) for r in a.collect())

    monkeypatch.setenv("SPARK_GRAFT_TABLE_MEMO", "1")
    c = cat._read(spark, sf_dir, "region")
    d = cat._read(spark, sf_dir, "region")
    assert c is d  # on: one listing/footer pass per (app, dir, table)
    assert cat._read(spark, "/root/testdata/sf0.01", "region") is not c
    assert sorted(tuple(r) for r in d.collect()) == baseline
    # events keeps its nanos→micros conversion under its own key
    e1 = cat._read_events(spark, sf_dir)
    assert cat._read_events(spark, sf_dir) is e1
    assert dict(e1.dtypes)["ts"].startswith("timestamp")
    # rewriting a table invalidates through the shared hooks
    from python_dtl_spark.sources import FileSystemImporter

    FileSystemImporter(spark, sf_dir).invalidate()
    assert not cat._TABLE_MEMO
    cat._clear_table_memo()


def test_table_memo_evicts_other_sessions_handles(spark, monkeypatch):
    """A handle memoized under another applicationId (a stopped session)
    is dropped on the next memoized read instead of pinning that
    session forever."""
    from python_dtl_spark import catalog as cat

    sf_dir = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_TABLE_MEMO", "1")
    cat._clear_table_memo()
    try:
        cat._TABLE_MEMO[("app-gone", sf_dir, "region")] = object()
        df = cat._read(spark, sf_dir, "region")
        app = spark.sparkContext.applicationId
        assert cat._TABLE_MEMO == {(app, sf_dir, "region"): df}
    finally:
        cat._clear_table_memo()


def test_dtl_memo_seeding_skips_synthetic_keys(spark, monkeypatch):
    """_dtl seeds its importer from the table memo with DTL table names
    only: the catalog's synthetic keys (``events@...`` of _read_events)
    never reach the importer's namespace, while imported tables are
    captured back into the memo."""
    from python_dtl_spark import catalog as cat

    sf_dir = "/root/testdata/sf0.001"
    monkeypatch.setenv("SPARK_GRAFT_TABLE_MEMO", "1")
    cat._clear_table_memo()
    importers = []

    class Recording(cat.FileSystemImporter):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            importers.append(self)

    monkeypatch.setattr(cat, "FileSystemImporter", Recording)
    try:
        cat._read_events(spark, sf_dir)
        region = cat._read(spark, sf_dir, "region")
        fn = cat._dtl(
            "WITH region AS IMPORT 'region';\n"
            "WITH output AS SELECT r_regionkey FROM region;\n"
            "EXPORT output TO 'output';"
        )
        assert fn(spark, sf_dir).count() == 5
        (importer,) = importers
        assert importer._memo.get("region") is region
        assert not any("@" in name for name in importer._memo)
        assert any("@" in key[2] for key in cat._TABLE_MEMO)
    finally:
        cat._clear_table_memo()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    """Every catalog row equals its DuckDB oracle at sf0.001: row count,
    column names and kinds, and sorted cell values, compared exactly as
    ``scripts/check_oracle.py`` does."""
    query = QUERIES[name]
    try:
        got = query.fn(spark, SWEEP_SF_DIR).toPandas()
    finally:
        release_all_cached(spark)
    with duck_connection(SWEEP_SF_DIR) as con:
        want = con.execute(query.oracle).df()
    problems = compare(name, got, want)
    assert not problems, problems
