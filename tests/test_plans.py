"""Physical-plan assertions: the scale properties the engine promises.

These lock in what `.explain()` showed during development — predicate
pushdown into the parquet scan, column pruning, broadcast-hash join
selection for small dimensions, and no Python row-at-a-time evaluation
in the DTL hot path.  A regression that silently turns a broadcast join
into a nested-loop join, or stops pushing filters into the scan, fails
here long before it fails at 100 TB.
"""

from __future__ import annotations

import pytest

from python_dtl_spark.compiler import Engine
from python_dtl_spark.sources import FileSystemImporter

SF = "/root/testdata/sf0.001"


def _plan(spark, script: str) -> str:
    engine = Engine(spark, FileSystemImporter(spark, SF), ordered=False)
    exports = dict(engine.run_script(script))
    df = next(iter(exports.values())).public_df()
    return df._jdf.queryExecution().executedPlan().toString()


def test_where_pushes_filter_into_scan(spark):
    plan = _plan(
        spark,
        """
        WITH orders AS IMPORT 'orders';
        WITH o AS SELECT o_orderkey FROM orders WHERE o_totalprice > 100000.0;
        EXPORT o TO 'o';
        """,
    )
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan


def test_projection_prunes_scan_columns(spark):
    plan = _plan(
        spark,
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH o AS SELECT l_orderkey, l_quantity FROM lineitem;
        EXPORT o TO 'o';
        """,
    )
    # the scan must read exactly the two referenced columns (the
    # reference reads whole files, io.py:39-42 — we must not)
    scan_lines = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scan_lines and "l_orderkey" in scan_lines[0]
    assert "l_extendedprice" not in scan_lines[0]
    assert "l_comment" not in scan_lines[0]


def test_equi_join_becomes_broadcast_hash(spark):
    plan = _plan(
        spark,
        """
        WITH customer AS IMPORT 'customer';
        WITH nation AS IMPORT 'nation';
        WITH o AS SELECT c_custkey, n_name
                  FROM customer
                  JOIN nation ON c_nationkey = n_nationkey;
        EXPORT o TO 'o';
        """,
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_theta_join_extracts_equi_conjunct(spark):
    # a.key + 1 = b.key is a pure arithmetic theta predicate; Catalyst
    # must still run it as a hash join on the derived expression, not a
    # nested loop (the reference always materializes the full cross
    # product, eval.py:163-184)
    plan = _plan(
        spark,
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH o AS SELECT c_custkey, o_orderkey
                  FROM customer
                  JOIN orders ON c_custkey + 1 = o_custkey;
        EXPORT o TO 'o';
        """,
    )
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_aggregation_is_partial_then_final(spark):
    plan = _plan(
        spark,
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH o AS SELECT l_returnflag, sum(l_quantity) AS q
                  FROM lineitem GROUP BY l_returnflag;
        EXPORT o TO 'o';
        """,
    )
    # map-side combine: partial_sum before the exchange, final after
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_no_python_udfs_in_dtl_path(spark):
    plan = _plan(
        spark,
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH o AS SELECT upper(l_returnflag) AS rf, l_quantity * 2.0 AS q2
                  FROM lineitem WHERE l_discount < 0.05;
        EXPORT o TO 'o';
        """,
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_nodes(node, subqueries: list) -> list:
    """Every physical operator under ``node``, through adaptive stages
    and cached relations; Subquery/ReusedSubquery plans are cut out
    into ``subqueries`` instead."""

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStage"):
        kids = [node.plan()]
    elif name == "InMemoryTableScan":
        kids = [node.relation().cachedPlan()]
    else:
        kids = seq(node.children()) + seq(node.innerChildren())
    nodes = [node]
    for kid in kids:
        if kid.nodeName() in ("Subquery", "ReusedSubquery"):
            subqueries.append(kid)
        else:
            nodes += _plan_nodes(kid, subqueries)
    return nodes


def _main_query_plan(df) -> str:
    """The executed plan of ``df``, one operator per line, with its
    scalar subqueries cut out.  Each cut subquery must be a model
    total: an ungrouped ``HashAggregate(keys=[]`` over a bucket model
    (``dsir_weights``' T/R), whose global sum runs an ``Exchange
    SinglePartition`` over at most 10,000 model rows, not over the
    corpus."""
    subqueries: list = []
    main = _plan_nodes(df._jdf.queryExecution().executedPlan(), subqueries)
    for sq in subqueries:
        if sq.nodeName() == "ReusedSubquery":
            sq = sq.child()
        lines = [n.simpleString(1000) for n in _plan_nodes(sq, [])]
        aggs = [ln for ln in lines if ln.startswith("HashAggregate")]
        assert aggs and aggs[0].startswith("HashAggregate(keys=[],"), lines
        assert any("bucket" in ln for ln in lines), lines
    return "\n".join(n.simpleString(1000) for n in main)


def test_asof_join_is_single_shuffle_no_nested_loop(spark):
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.joins import asof_join

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    left = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    right = orders.select("o_custkey", "o_orderdate", F.col("o_totalprice").alias("rv"))
    plan = _exec_plan(
        asof_join(left, right, on="o_orderdate", by="o_custkey", value_cols=["rv"])
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # no join at all: union + window
    # exactly one exchange hashed on the by key feeds the window sort
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_avoids_nested_loop(spark):
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.joins import range_join_point_in_interval

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    events = orders.select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").alias("t")
    )
    intervals = orders.select(
        "o_custkey",
        F.col("o_totalprice").alias("s"),
        (F.col("o_totalprice") + 10.0).alias("e"),
    )
    plan = _exec_plan(
        range_join_point_in_interval(
            events, intervals, point_col="t", start_col="s", end_col="e",
            by="o_custkey", bucket_seconds=10,
        )
    )
    # the whole point of bucketization: a hash join on (key, bucket),
    # never a nested-loop over the raw range predicate
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    from pyspark.sql import functions as F

    from python_dtl_spark.sources import write_bucketed

    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    write_bucketed(a, "bkt_a", ["k"], num_buckets=8)
    write_bucketed(b, "bkt_b", ["k"], num_buckets=8)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), on="k")
            plan = _exec_plan(joined)
            # co-located buckets: sort-merge join with ZERO shuffles
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert joined.count() == 10000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_partitioned_import_prunes_partitions(spark, tmp_path):
    """A DTL WHERE on a hive-partitioned dataset must become a
    PartitionFilter — at 100 TB partition pruning is the difference
    between scanning one directory and scanning the lake.  The
    importer reads <name>.parquet paths, which may be partitioned
    directories; the pruning must survive the whole DTL pipeline
    (lexer → compiler → Catalyst)."""
    from pyspark.sql import functions as F

    src = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("p"), (F.col("id") % 4).cast("string")).alias("part"),
    )
    src.write.partitionBy("part").mode("overwrite").parquet(
        str(tmp_path / "tbl.parquet")
    )
    engine = Engine(
        spark, FileSystemImporter(spark, str(tmp_path)), ordered=False
    )
    exports = dict(
        engine.run_script(
            """
            WITH tbl AS IMPORT 'tbl';
            WITH output AS SELECT k FROM tbl WHERE part = 'p2';
            EXPORT output TO 'output';
            """
        )
    )
    df = exports["output"].public_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "part#" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert df.count() == 250


def test_q8_all_dimensions_broadcast(spark):
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["dtl_q8_market_share"].fn(spark, SF)
    plan = _exec_plan(df)
    # 7-way star join: every dimension must broadcast; a SortMergeJoin
    # here means a dim crossed the broadcast threshold and the whole
    # fact table gets shuffled at scale
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_doc_chunks_no_shuffle_no_python(spark):
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_chunks"].fn(spark, SF)
    plan = _exec_plan(df)
    # chunk fan-out is generate+explode+substring per row: embarrassingly
    # parallel, so the plan must contain no Exchange and no Python eval
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Generate explode" in plan or "Generate posexplode" in plan


def test_sessionize_single_exchange(spark):
    """Both session windows and the per-session aggregate must reuse one
    hash partitioning on the key: HashPartitioning(user_id) satisfies
    the (user_id, session_seq) grouping, so exactly one Exchange."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["events_sessionize"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_rollup_is_expand_plus_one_shuffle(spark):
    """ROLLUP computes every grouping set in one scan: Expand into a
    partial+final hash aggregate around a single Exchange — not one
    groupBy job per level."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["lineitem_rollup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("Exchange") == 1, plan


def test_q19_disjunction_pushes_into_both_scans(spark):
    """q19's OR-of-ANDs must split per side: brand/size disjuncts into
    the part scan, quantity disjuncts into the lineitem scan — a plan
    that evaluates the whole predicate post-join reads every lineitem
    row at full width."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["dtl_q19_discounted_revenue"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # part-side constraint visible among the pushed scan filters
    assert "EqualTo(p_brand,Brand#12)" in plan
    # lineitem-side constraint likewise
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_q21_residual_neq_keeps_equi_joins(spark):
    """The SEMI (other member exists) and ANTI (no other late member)
    self-joins carry a `!=` residual; it must remain a residual on an
    equi-keyed join (hash or sort-merge on l_orderkey), never force a
    nested-loop join — lineitem×lineitem BNLJ is a 100 TB
    non-starter."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["dtl_q21_waiting_suppliers"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scalar_subquery_cross_joins_are_single_row_broadcast(spark):
    """q11/q22 decorrelate scalar subqueries as CROSS JOIN against a
    one-row aggregate: exactly one BroadcastNestedLoopJoin (the one-row
    side broadcast) and no CartesianProduct."""
    from python_dtl_spark.catalog import QUERIES

    for name in ("dtl_q11_important_parts", "dtl_q22_global_sales_opportunity"):
        df = QUERIES[name].fn(spark, SF)
        plan = _exec_plan(df)
        assert plan.count("BroadcastNestedLoopJoin") == 1, name
        assert "CartesianProduct" not in plan, name


_TPCH_QUERIES = [f"dtl_q{i}" for i in range(1, 23)]
# q11/q22 decorrelate a scalar-subquery average into a one-row broadcast:
# exactly one BroadcastNestedLoopJoin whose build side is a single row.
_ALLOWED_BNLJ = {"dtl_q11": 1, "dtl_q22": 1}


@pytest.mark.parametrize("prefix", _TPCH_QUERIES)
def test_tpch_plan_invariants(spark, prefix):
    """Every TPC-H shape must satisfy the three 100 TB invariants:
    no CartesianProduct, no Python row evaluation, and no
    BroadcastNestedLoopJoin beyond the sanctioned one-row scalar
    broadcasts — a fact-fact join degrading to nested-loop at scale
    is the single worst plan regression this engine can have.  Every
    plan must also push at least one filter or maintain pruned scans
    (ReadSchema on every FileScan)."""
    from python_dtl_spark.catalog import QUERIES

    name = next(n for n in QUERIES if n.startswith(prefix + "_"))
    df = QUERIES[name].fn(spark, SF)
    plan = _exec_plan(df)
    assert "CartesianProduct" not in plan, name
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
    assert plan.count("BroadcastNestedLoopJoin") == _ALLOWED_BNLJ.get(
        prefix, 0
    ), name
    # column pruning: every parquet scan must declare a ReadSchema
    scans = plan.count("FileScan parquet")
    assert scans == plan.count("ReadSchema:"), name


def test_gopher_quality_is_pure_map_stage(spark):
    """Every Gopher rule is a row-local array computation: the plan must
    be scan → project with zero Exchange and zero Python eval — at
    100 TB this pipelines into whatever scan precedes it."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_gopher_quality"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_topk_is_bucketed_equi_join(spark):
    """Both approximate top-k paths must join candidates through a
    bucket/centroid equi-key (hash join), never a nested loop over the
    corpus — the whole point of LSH/IVF is to avoid the all-pairs
    scan, and only the equi-join form preserves that at 100 TB."""
    from python_dtl_spark.catalog import QUERIES

    for name in ("similarity_topk_lsh", "similarity_topk_ivf"):
        df = QUERIES[name].fn(spark, SF)
        plan = _exec_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "EvalPython" not in plan, name


@pytest.mark.parametrize(
    "name", ["similarity_topk_quantized", "similarity_topk_projected"]
)
def test_two_stage_topk_broadcast_scan_with_pruned_ranks(spark, name):
    """Both two-stage paths (int8-quantized and JL-projected) are a
    DELIBERATE broadcast scan (exactly one BroadcastNestedLoopJoin,
    guarded by MAX_BROADCAST_QUERIES — same contract as cosine_topk),
    with WindowGroupLimit pruning both rank stages map-side so no
    reducer sees more than k×factor candidates per query.  The rescore
    join-back must be hash joins (the candidate id set broadcasts),
    never a second nested-loop pass, and stage 1 must NOT carry the
    full 64-dim vector — the only full-vector reads sit behind the
    rescore joins."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES[name].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert plan.count("WindowGroupLimit") >= 2
    assert plan.count("BroadcastHashJoin") >= 2  # rescore id + query joins


def test_kmv_distinct_partial_window_group_limits(spark):
    """The KMV k-min selection must prune BEFORE shuffling: Spark plans
    each row_number()<=k filter as WindowGroupLimit Partial (map-side
    per-partition top-k) + Final, so no reducer ever receives more than
    k rows per (group, salt) — with the two-level salt design this
    bounds every exchange even when `by` has 3 values over 100 TB."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["lineitem_kmv_distinct"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("WindowGroupLimit") >= 4  # 2 windows x partial+final
    assert ", Partial" in plan and ", Final" in plan
    assert "CartesianProduct" not in plan


def test_pii_scrub_is_pure_map_stage(spark):
    """Redaction must stay a single codegen'd projection: zero
    Exchange, zero Python eval — at 100 TB it pipelines into the scan."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_pii_scrub"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_dominance_two_partial_aggs(spark):
    """Both aggregations (gram counts, per-doc max/sum) must have
    map-side partials and no join at all — the operator is explode +
    two hash aggs, nothing pairwise."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_ngram_dominance"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4  # 2 aggs x partial+final
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curate_corpus_scans_documents_once(spark):
    """The curation pipeline tokenizes once and persists the kept
    working set, so the gopher filter, duplication census, and packing
    branches all read the cache: the final plan must contain NO direct
    parquet scan of documents (the single scan lives inside the cached
    relation) and at least two InMemoryTableScans (census branch +
    anti-join/packing branch).  At 100 TB this is one corpus pass
    instead of three."""
    import re

    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["pipeline_curate_corpus"].fn(spark, SF)
    try:
        # formatted mode prints cached relations as opaque
        # InMemoryTableScans (tree mode re-prints the single cached
        # scan under every consumer, which would triple-count it)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert not re.search(r"Scan parquet.*documents", plan), plan
        assert plan.count("InMemoryTableScan") >= 2, plan
    finally:
        spark.catalog.clearCache()


def test_dup_windows_single_fingerprint_aggregation(spark):
    """Exact-substring census: windows explode then aggregate on the
    fingerprint — no join strategy may degrade to nested-loop, and the
    fingerprint aggregation must have a map-side partial."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_dup_windows"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_finalmerge" in plan.lower() or "HashAggregate" in plan


def test_semdedup_pairs_no_cross_cluster_stage(spark):
    """SemDedup's pair stage must shuffle on the cluster id — a bucket
    equi-self-join (hash/sort-merge), never a corpus-wide nested loop
    or cartesian — and stay JVM-side (centroid literals, no Python
    eval).  This is the plan property that keeps comparisons
    n_i²-per-cluster at 100 TB."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    df = dedup.semdedup_pairs(emb, threshold=0.9, n_centroids=4, seed=13)
    plan = _exec_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_spans_no_pair_stage_no_python(spark):
    """Exact-substring REMOVAL: same census shape (explode +
    fingerprint count + join-back) plus two linear per-doc stages —
    no nested-loop/cartesian anywhere, the splice is pure codegen (no
    Python eval), and the island merge must be window functions, not a
    self-join."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_dedup_spans"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan  # island merge is a window, not a join


def test_partitioned_export_roundtrip_prunes(spark, tmp_path):
    """FileSystemExporter(partition_by=...) writes hive layout; a DTL
    re-import with a WHERE on the partition column prunes at the scan
    — the write-side half of the partition-pruning contract."""
    from pyspark.sql import functions as F

    from python_dtl_spark.sources import FileSystemExporter

    df = spark.range(0, 400).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("shard"),
    )
    FileSystemExporter(str(tmp_path), partition_by=["shard"]).export_table(
        "tbl", df
    )
    engine = Engine(
        spark, FileSystemImporter(spark, str(tmp_path)), ordered=False
    )
    exports = dict(
        engine.run_script(
            """
            WITH tbl AS IMPORT 'tbl';
            WITH output AS SELECT k FROM tbl WHERE shard = 's1';
            EXPORT output TO 'output';
            """
        )
    )
    out = exports["output"].public_df()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert out.count() == 100


def test_apply_changes_window_prunes_and_joins_hash(spark):
    """The CDC merge's latest-change selection must plan as a
    partial+final WindowGroupLimit (a 100 TB change log ships at most
    one candidate row per key per map task before the exchange), and
    the snapshot merge must be an equi-join — never a nested loop —
    with no Python evaluation anywhere."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["orders_apply_changes"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_contamination_prefilter_is_broadcast_semi_join(spark):
    """The Bloom-style prefilter must reach the plan as a broadcast
    LeftSemi hash join on the bucket id (the train side never
    shuffles rows the eval bloom rejects), leaving the exact
    verification join intact downstream."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["decontaminate_prefiltered"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_key_profile_takeordered_no_global_sort(spark):
    """The heavy-hitter report must plan its top-n as TakeOrdered
    (partial per-partition top + driver merge of top_n rows), not a
    full global sort of the key-count aggregate, and the total must
    arrive as a single-row broadcast."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["orders_key_profile"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total cross join
    assert "EvalPython" not in plan


def test_domain_quota_prunes_rank_map_side(spark):
    """The per-domain cap must plan as partial+final WindowGroupLimit:
    every map task forwards at most `quota` rows per stratum, so a
    100 TB domain never funnels its full row count through the
    per-stratum reducer."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_domain_quota"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert ", Partial" in plan and ", Final" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_temperature_mix_is_broadcast_filter_no_data_shuffle(spark):
    """Temperature rebalancing must not shuffle the corpus: the
    per-stratum counts and the single-row min arrive as broadcasts and
    the membership decision is a map-stage filter.  The only Exchange
    allowed is inside the tiny count aggregate itself."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_temperature_mix"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastHashJoin" in plan  # per-stratum counts
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row min
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # corpus never shuffles for the join
    assert "EvalPython" not in plan


def test_vocabulary_rank_prunes_and_total_broadcasts(spark):
    """The vocab fit's global row_number()<=max_size must prune
    map-side so the single-partition final sort never sees the full
    distinct-token set: Catalyst rewrites the bounded global rank into
    TakeOrderedAndProject(limit=max_size) — per-partition partial
    top-k, driver-side merge of <= max_size rows per task — with the
    row_number window running only on the surviving <= max_size rows.
    The corpus-total token count must arrive as a 1-row broadcast,
    never a driver action."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_vocabulary"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "TakeOrderedAndProject(limit=200" in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row total
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_blocklist_is_pure_map_stage(spark):
    """Bad-words screening must stay a single codegen'd projection over
    the scan: zero Exchange, zero Python eval — the literal term array
    rides in the plan."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_blocklist"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_histogram_broadcasts_edges_no_data_shuffle_for_join(spark):
    """The bucket edges must arrive as a 1-row broadcast (never a
    driver action or a shuffled join); the per-bucket count/min/max
    aggregates map-side-combine."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["events_value_histogram"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row edges
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ", partial" in plan.lower() or "partial_count" in plan
    assert "EvalPython" not in plan


def test_table_profile_single_pass_expand(spark):
    """The multi-distinct profile must plan as ONE scan with Expand —
    per-column distinct partials — not one scan per column."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["orders_table_profile"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan
    assert "EvalPython" not in plan


@pytest.mark.parametrize(
    "name", ["embed_similarity_join", "dedup_embedding_cosine"]
)
def test_lsh_pair_generators_bucketed_with_coarse_stage1(spark, name):
    """Both hyperplane-LSH pair generators (cross-corpus join and
    self-join) must stay bucket-equi-joined on the signature — never a
    nested loop or cartesian — AND their Hamming-probe explode must
    carry ONLY (id, signature): the explode replicates rows planes+1
    times, so a full 64-dim vector there pays 13x its bandwidth through
    the bucket exchange.  Vectors may only enter the plan at the
    exact-cosine verify joins after candidate dedup."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES[name].fn(spark, SF)
    plan = _exec_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
    gen = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen, plan
    for ln in gen:
        assert "embedding" not in ln and "v_l" not in ln and "__v" not in ln, ln


def test_funnel_reuses_user_partitioning(spark):
    """A k-step funnel is one shuffle on the user key + k chained
    window aggregates + a partitioning-reusing final agg: exactly ONE
    Exchange, one scan, a linear plan — the join-chain alternative
    duplicated the whole prior chain inside every step's candidate
    join (measured 27 exchanges at k=7).  Asserted at the catalog's
    k=3 AND at k=7, where the old shape blew up."""
    from python_dtl_spark.catalog import QUERIES, _read_events
    from python_dtl_spark.operators import analytics

    df = QUERIES["events_funnel"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "user_id" in ln

    ev = _read_events(spark, SF).select("user_id", "ts", "event_type")
    df7 = analytics.funnel_conversion(
        ev, ["view", "click", "purchase", "s4", "s5", "s6", "s7"]
    )
    plan7 = _exec_plan(df7)
    assert plan7.count("Exchange hashpartitioning") == 1
    assert plan7.count("FileScan") == 1
    assert plan7.count("Window") >= 7


def test_zscore_null_safe_join_is_still_hash_join(spark):
    """The null-safe stats join-back (EqualNullSafe is an equi-join
    condition) must keep planning as a broadcast/shuffled HASH join —
    never a nested loop."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["events_zscore_outliers"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan
    assert "EvalPython" not in plan


def test_props_extract_stays_jvm_side_single_agg_exchange(spark):
    """JSON extraction must be from_json (codegen) — never a Python
    eval — and the whole query needs exactly one Exchange (the
    event_type aggregate); the parse itself is shuffle-free."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["events_props_extract"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "from_json" in plan
    assert plan.count("Exchange") == 1, plan


def test_knn_classify_exact_tier_is_a_fold_kernel_not_a_pair_join(spark):
    """The exact kNN tier reads the corpus once, in its construct-time
    collect, and its result is one mapInArrow stage over spark.range
    slices of the broadcast: no Exchange, Window or join, no second scan
    of the corpus, and no per-pair zip_with/aggregate expression.  On
    the 500-vector table under local[4] the stage is one Python task
    (250k cells, under CELLS_PER_TASK), not defaultParallelism."""
    from python_dtl_spark.operators import similarity

    sc = spark.sparkContext
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert emb.count() == 500 and sc.defaultParallelism == 4
    sc.setJobGroup("knn-exact-construct", "the corpus collect")
    try:
        df = similarity.knn_classify(emb, k=5)
        construct = sc.statusTracker().getJobIdsForGroup("knn-exact-construct")
        sc.setJobGroup("knn-exact-action", "the kernel stage")
        assert df.count() == 500
        action = sc.statusTracker().getJobIdsForGroup("knn-exact-action")
    finally:
        sc.setJobGroup(None, None)
    assert len(construct) == 1
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "MapInArrow" in optimized, optimized
    assert "zip_with(" not in optimized and "aggregate(" not in optimized
    plan = _exec_plan(df)
    for node in ("Exchange", "Window", "Join", "Scan parquet", "FileScan"):
        assert node not in plan, plan
    assert "Range" in plan, plan
    tracker = sc.statusTracker()
    stages = [s for j in action for s in tracker.getJobInfo(j).stageIds]
    assert [tracker.getStageInfo(s).numTasks for s in stages] == [1]


def test_knn_classify_lsh_tier_no_all_pairs_stage(spark):
    """The kNN scale tier builds candidates through the LSH bucket
    equi-join: no cartesian/nested-loop anywhere in the plan (the
    exact tier is a deliberate broadcast flat scan and is guarded by
    MAX_BROADCAST_QUERIES instead)."""
    from python_dtl_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = similarity.knn_classify(emb, k=5, method="lsh", planes=8, dim=64)
    plan = _exec_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mad_outliers_no_nested_loop_broadcast_joinbacks(spark):
    """Both MAD join-backs key the small per-group statistics: they
    must be broadcast hash joins (group dim is tiny), never nested
    loops, with map-side partial aggregates for the percentiles."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["events_mad_outliers"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_shuffle_shards_one_exchange_no_global_sort(spark):
    """Sharding is ONE hash exchange on the shard id plus per-shard
    local sorts — a global range sort (rangepartitioning) would
    serialize the permutation through a single ordering and defeat
    the point."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_shuffle_shards"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_status_cube_single_shuffle_expand(spark):
    """CUBE compiles to one Expand feeding one partial+final aggregate
    pair: every subtotal level shares a single Exchange (the
    hand-written alternative is 2^d scans and 2^d shuffles)."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["orders_status_cube"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Expand" in plan
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan


def test_json_extract_multi_field_single_parse(spark):
    """Multiple extracted fields must share ONE from_json struct in the
    optimized plan (get_json_object-style per-field re-parsing would
    show one parse per field)."""
    from python_dtl_spark.operators.semistructured import json_extract_fields

    df = spark.createDataFrame([(1, '{"a":1,"b":2,"c":3}')], "id long, props string")
    out = json_extract_fields(
        df, "props", {"a": "bigint", "b": "bigint", "c": "bigint"}
    )
    plan = _exec_plan(out)
    assert plan.count("from_json") == 1, plan


def test_mad_outliers_persist_reads_cache_not_parquet(spark):
    """events_mad_outliers passes persist=True: the masked input caches
    once and the two stat passes + output pass all read the cache — the
    final plan must show InMemoryTableScan x3 and NO direct parquet
    scan of events (the single scan lives inside the cached relation).
    At 100 TB this is one corpus pass instead of three."""
    import re

    from python_dtl_spark.catalog import QUERIES
    from python_dtl_spark.operators.dedup import release_all_cached

    df = QUERIES["events_mad_outliers"].fn(spark, SF)
    try:
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert not re.search(r"Scan parquet.*events", plan), plan
        assert plan.count("InMemoryTableScan") >= 3, plan
    finally:
        release_all_cached(spark)
        spark.catalog.clearCache()


def test_dedup_paragraphs_first_occurrence_is_partial_agg_not_window(spark):
    """The first-occurrence choice must be a min(struct) aggregation
    with map-side partials, never a row_number window partitioned by
    the paragraph fingerprint: the fingerprint of a DUPLICATED
    paragraph is a heavy-hitter key by construction (boilerplate
    repeats millions of times at 100 TB), and a window funnels every
    instance into one task's sort while partial min combines locally
    to one candidate per map task."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_dedup_paragraphs"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan


def test_merge_candidates_rank_prunes_via_take_ordered(spark):
    """The top-N merge rank must push through the window as a
    TakeOrderedAndProject (per-partition take + one merge) — a full
    global sort of the pair vocabulary would serialize the corpus'
    distinct-bigram set through one reducer."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_merge_candidates"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_psl_domains_broadcast_rules_one_host_exchange(spark):
    """PSL resolution: the rules table joins as a broadcast (never a
    nested loop), and the prevailing-rule aggregation reuses the
    distinct-host exchange's partitioning — exactly one data Exchange
    on the distinct-host branch plus the corpus-side join exchange."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_url_psl_domains"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_pipeline_domain_cap_single_quota_exchange(spark):
    """Canonicalize -> domain_quota composition: the canonicalization
    fuses into the scan-side map stage and the quota rank adds ONE
    hash exchange with WindowGroupLimit pruning on BOTH sides of it
    (map-side partial take, final take after the shuffle)."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["pipeline_domain_cap"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_encode_is_single_fold_map_stage(spark):
    """Tokenizer inference folds the WHOLE merge table inside one
    F.aggregate expression: the physical plan is a single Project over
    the scan — zero Exchange, zero Python eval, and zero per-merge
    projection stacking (one 'aggregate(' fold over the merge array,
    not one plan node per merge)."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_bpe_encode"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_vocab_rank_is_take_ordered_prune(spark):
    """Post-encode vocabulary keeps the audited vocabulary shape with
    the encode fold fused scan-side: the global top-N rank must plan
    as TakeOrderedAndProject (per-partition take, one merge — never a
    full-vocabulary global sort), with zero Python eval."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_bpe_vocab"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_bpe_tokenize_has_single_pack_exchange(spark):
    """The composed sampled-fit -> encode -> pack pipeline's data path:
    the single-fold encode fuses into the scan (no per-merge plan
    stacking), and the pack assignment window + emission aggregation
    share ONE pack_group hash exchange.  (The fit loop's sample-scale
    scoring jobs run before this plan exists, collecting only the
    3-row merge-table model.)"""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["pipeline_bpe_tokenize"].fn(spark, SF)
    plan = _exec_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_paragraphs_lineage_is_skew_safe_join(spark):
    """The provenance mapping must be an fp-keyed equi-join against
    the one-row-per-fingerprint min-struct aggregate: no Window (a hot
    boilerplate fingerprint would funnel into one task's sort), no
    nested-loop/cartesian join, no Python eval.  An equi-join keyed on
    the hot fp is AQE-skew-splittable because the build side holds
    exactly one row per key."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_dedup_paragraphs_lineage"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_apply_merge_is_pure_map_stage(spark):
    """BPE merge application is row-local array work over materialized
    token/start columns: zero Exchange, zero Python eval — and the
    intermediate projections must NOT collapse back into one (inlining
    the token array into every element_at re-tokenizes per position)."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_apply_merge"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_canonicalize_is_pure_map_stage(spark):
    """Canonicalization is row-local string work over JVM built-ins:
    scan -> project with zero Exchange and zero Python eval, so it
    runs at scan speed ahead of any dedup/capping shuffle."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_url_canonicalize"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nb_fit_vocab_prune_is_take_ordered(spark):
    """nb_fit's vocabulary prune (top max_vocab by corpus frequency)
    must plan as TakeOrderedAndProject — the per-partition take +
    single merge shape shared with vocabulary()/bpe vocab — never a
    full-vocabulary global sort; and the whole fit stays JVM-side
    (r11 verdict watch item: the docstring claimed this shape but
    nothing asserted it)."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    token_counts, _ = classify.nb_fit(docs, "lang", max_vocab=200)
    plan = _exec_plan(token_counts)
    assert "TakeOrderedAndProject(limit=200" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nb_apply_is_broadcast_model_join_single_doc_agg(spark):
    """The classifier's apply pass: ONE BroadcastHashJoin against the
    pivoted <=max_vocab-row model (never a shuffled sort-merge join or
    a nested loop), ONE doc-grain hash aggregation with map-side
    partials, and zero Python eval — the 100 TB scoring shape the
    docstring promises."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_nb_classify"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_nb_curate_broadcast_model_and_pruned_cap(spark):
    """The composed classifier-curation chain: the NB scoring pass is a
    broadcast model join (no shuffled join against the model), the
    domain cap's rank prunes with WindowGroupLimit on BOTH sides of
    its single hash exchange, and the whole plan is Python-free."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["pipeline_nb_curate"].fn(spark, SF)
    plan = _exec_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_target_mix_precap_restores_window_group_limit(spark):
    """target_mix_resample's rank limit is data-dependent (w_s x K is
    no plan literal), so its window cannot map-side prune — the
    documented hot-stratum mitigation is the same-seed precap_quota,
    whose LITERAL rank limit must plan as WindowGroupLimit on both
    sides of the pre-cap exchange, bounding what a mega-stratum can
    funnel into the mix window's shuffle."""
    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plain = sampling.target_mix_resample(
        docs, "source", "doc_id", {"src1": 3, "src2": 2, "src3": 1}
    )
    assert "WindowGroupLimit" not in _exec_plan(plain)  # the gap being fixed
    capped = sampling.target_mix_resample(
        docs, "source", "doc_id", {"src1": 3, "src2": 2, "src3": 1},
        precap_quota=50,
    )
    plan = _exec_plan(capped)
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_nb_apply_row_local_is_pure_map_stage(spark):
    """The row_local scoring tier (plan-literal model) must plan as a
    pure map stage: zero Exchange, zero join, zero Python — the shape
    that makes it legal over an unbounded stream."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tc, cs = classify.nb_fit(docs, "lang", max_vocab=200)
    out = classify.nb_apply(docs, tc, cs, row_local=True)
    plan = _exec_plan(out)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_fit_vocab_prune_is_take_ordered(spark):
    """lm_fit's vocabulary prune must plan as TakeOrderedAndProject
    (the nb_fit/vocabulary shape) and the whole fit stays JVM-side."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    _, uni = classify.lm_fit(docs, max_vocab=300)
    plan = _exec_plan(uni)
    assert "TakeOrderedAndProject(limit=300" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_perplexity_is_broadcast_model_joins_single_doc_agg(spark):
    """The scorer's corpus pass: broadcast joins against the bigram
    and unigram model tables (never shuffled SMJ / nested loop), ONE
    doc-grain hash aggregation, zero Python — the same audited shape
    as nb_apply."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bi, uni = classify.lm_fit(docs, max_vocab=300)
    out = classify.lm_perplexity(docs, bi, uni)
    # r20: the model tables are persisted (redundant-fit removal), and
    # a cached relation's size statistics make the initial plan's
    # doc-grain join-back conservatively sort-merge; AQE converts it
    # from runtime sizes, so assert on the FINAL adaptive plan (the
    # join-back is broadcast at small scale, co-partitioned equi-join
    # at corpus scale — the operator's documented contract).  collect()
    # (not count()) drives THIS Dataset's own QueryExecution, so the
    # AdaptiveSparkPlan below is the executed one; slice out the
    # "== Final Plan ==" section so the pre-conversion initial plan's
    # text cannot trip the negative assertions.
    out.collect()
    full = _exec_plan(out)
    assert "isFinalPlan=true" in full, full
    start = full.index("== Final Plan ==")
    plan = full[start : full.index("== Initial Plan ==", start)]
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lm_perplexity_row_local_is_pure_map_stage(spark):
    """The LM scorer's streaming tier (plan-literal model maps + one
    F.aggregate fold) must plan as a pure map stage: zero Exchange,
    zero join, zero Python."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bi, uni = classify.lm_fit(docs, max_vocab=300)
    out = classify.lm_perplexity(docs, bi, uni, row_local=True)
    plan = _exec_plan(out)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_epoch_upsample_is_broadcast_join_map_fanout(spark):
    """Epoch upsampling must plan as one broadcast join against the
    |epochs|-row model + a row-local explode — zero Exchange, zero
    Python; the fan-out multiplies bytes exactly as requested."""
    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.epoch_upsample(docs, "source", {"src1": 3, "src2": 2})
    plan = _exec_plan(out)
    # the only Exchange is the |epochs|-row model's BroadcastExchange;
    # the corpus itself never shuffles
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_epoch_emit_chain_adds_one_exchange_past_upsample(spark):
    """The emission tail of pipeline_epoch_emit (epoch_upsample ->
    composite key -> shuffle_shards): the upsample contributes ZERO
    data exchanges (broadcast map join + row-local fan-out) and the
    sharder exactly ONE hash exchange (on shard) feeding per-shard
    parallel sorts — the whole replica-emission story costs one
    shuffle of exactly the bytes being emitted."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source"
    )
    up = sampling.epoch_upsample(docs, "source", {"src1": 2, "src3": 3})
    keyed = up.withColumn(
        "__emit_key", F.concat_ws("#", F.col("doc_id"), F.col("epoch"))
    )
    out = sampling.shuffle_shards(keyed, "__emit_key", 8, seed="sh-e")
    plan = _exec_plan(out)
    import re as _re

    hash_exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert len(hash_exchanges) == 1, plan
    assert hash_exchanges[0].startswith("shard"), hash_exchanges
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_weights_is_broadcast_model_joins_single_doc_agg(spark):
    """DSIR scoring's corpus pass: broadcast joins against BOTH
    <=10k-row bucket models (never shuffled SMJ / nested loop), ONE
    doc-grain hash aggregation, zero Python — the audited
    nb_apply / lm_perplexity shape; the fit side is one bucket-grain
    aggregation with zero joins."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tc = classify.dsir_fit(docs.where("source = 'src1'"), seed="p1")
    rc = classify.dsir_fit(docs, seed="p1")
    fit_plan = _exec_plan(tc)
    assert "Join" not in fit_plan, fit_plan
    assert "BatchEvalPython" not in fit_plan and "ArrowEvalPython" not in fit_plan
    out = classify.dsir_weights(docs, tc, rc, seed="p1")
    plan = _exec_plan(out)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # BOTH bucket-model joins must be broadcast — a shuffled model
    # join would move the corpus per feature.  The doc-grain id
    # join-back may legitimately be a SortMergeJoin: its build side is
    # CORPUS-sized (per-doc sums), so broadcasting it is only ever an
    # AQE small-scale artifact, never the 100 TB plan.
    import re as _re

    for m in _re.finditer(r"SortMergeJoin \[(\w+)", plan):
        assert m.group(1) in ("doc_id", "__ds_id"), plan
    assert "SortMergeJoin [bucket" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_weights_caches_nothing_past_a_shuffle(spark):
    """The catalog-shaped DSIR scoring (shared feature table, split
    fit, scoring) caches no plan that holds an Exchange.  A cached
    plan keeps its output partitioning, so a cache above a shuffle
    would pin spark.sql.shuffle.partitions tasks on every read of a
    <=10k-row model.  The pre-shuffle feature table is not cached
    either (a cache would stop AQE reusing the fit's bucket shuffle,
    see test_dsir_fit_split_slices_compute_one_bucket_shuffle), so the
    plan reads no cache at all."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import classify
    from python_dtl_spark.operators.dedup import release_all_cached

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cond = F.col("source") == "src1"
    feats = classify.dsir_features(docs, cond, seed="p1")
    tc, rc = classify.dsir_fit_split(docs, cond, seed="p1", features=feats)
    out = classify.dsir_weights(docs, tc, rc, seed="p1", features=feats)
    try:
        out.collect()
        pending = [out._jdf.queryExecution().executedPlan()]
        cached = []
        while pending:
            subqueries: list = []
            for node in _plan_nodes(pending.pop(), subqueries):
                if node.nodeName() == "InMemoryTableScan":
                    cached.append(node.relation().cachedPlan())
            pending += subqueries
        assert cached == []
    finally:
        release_all_cached(spark)


def test_dsir_fit_split_slices_compute_one_bucket_shuffle(spark):
    """doc_dsir_weights joins both slices of dsir_fit_split's one
    bucket aggregate.  Their subtrees must be identical, so that AQE
    computes one hashpartitioning(bucket) exchange and reuses it for
    the other slice: column pruning must not leave a different partial
    aggregate on each side."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["doc_dsir_weights"].fn(spark, SF)
    df.collect()
    subqueries: list = []
    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan(), subqueries)
    assert subqueries == []  # the totals are pruned: no weight emitted
    heads = [n.toString().split("\n")[0] for n in nodes]
    computed = [h for h in heads if h.startswith("Exchange hashpartitioning(bucket")]
    reused = [
        h for h in heads
        if h.startswith("ReusedExchange") and "hashpartitioning(bucket" in h
    ]
    assert len(computed) == 1 and len(reused) == 1, heads


def test_ppl_delta_select_plan_shape(spark):
    """The excess-perplexity composition (pipeline_ppl_delta_select):
    every ≤300-row LM model join (target + reference unigram/bigram
    tables) must be broadcast; the only SortMergeJoins allowed are the
    doc-grain id join-backs and the doc-grain score join (both sides
    corpus-sized — the dsir_weights invariant, where broadcasting is
    an AQE small-scale artifact, never the 100 TB plan); selection
    rewrites to TakeOrderedAndProject with no SinglePartition
    exchange; zero Python."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from python_dtl_spark.operators import classify, sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tbi, tuni = classify.lm_fit(
        docs.where(F.col("source") == "src1"), min_count=1, max_vocab=300
    )
    rbi, runi = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300,
    )
    st = classify.lm_perplexity(docs, tbi, tuni).select(
        "doc_id", "n_trans", "perplexity"
    )
    sr = classify.lm_perplexity(docs, rbi, runi).select(
        F.col("doc_id").alias("__rid"), F.col("perplexity").alias("__ppl_r")
    )
    joined = (
        st.join(sr, st["doc_id"] == sr["__rid"])
        .filter(F.col("n_trans") > 0)
        .withColumn(
            "__delta", F.log(F.col("__ppl_r")) - F.log(F.col("perplexity"))
        )
        .select("doc_id", "n_trans", "__delta")
    )
    out = sampling.top_fraction(joined, "__delta", Fraction(1, 4), "doc_id")
    plan = _exec_plan(out)
    assert plan.count("BroadcastHashJoin") >= 4, plan  # 2 models × 2 LMs
    import re as _re

    for m in _re.finditer(r"SortMergeJoin \[(\w+)", plan):
        assert m.group(1) in ("doc_id", "__rid", "__lm_id"), plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_remove_spans_against_is_semi_join_no_nested_loop(spark):
    """Cross-corpus span decontamination: the eval
    corpus reduces to its DISTINCT 8-byte fingerprints (one hash agg)
    and flags train windows through ONE fp-keyed LEFT SEMI join —
    never a nested loop or cartesian; the island merge stays a
    per-doc window; zero Python."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    evals = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 10 != 0)
    out = text_ops.remove_duplicated_spans(
        train, window_tokens=8, against=evals
    )
    plan = _exec_plan(out)
    assert "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_soft_dedup_weights_is_agg_plus_join_no_window(spark):
    """soft_dedup_weights: ONE content-keyed hash
    aggregation with map-side partials + ONE content-keyed equi-join
    back — NO window (a count-over-content window funnels each group
    through one sort task; the hot boilerplate group must stay
    AQE-skew-splittable), no nested loop, zero Python."""
    from python_dtl_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = dedup.soft_dedup_weights(docs, ["text"])
    plan = _exec_plan(out)
    assert "Window" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combine
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_flags_is_pure_map_stage(spark):
    """repetition_flags (registered r16): entirely row-local — the
    dup-line/paragraph ratios are array folds inside the projection,
    so the plan over a parquet scan is scan → project with ZERO
    Exchange and zero Python; at 100 TB it pipelines with the scan."""
    from python_dtl_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _exec_plan(text_ops.repetition_flags(docs))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_image_near_dup_pairs_no_all_pairs(spark):
    """image_near_dup_pairs (staged r16 → r17): candidates come from
    the pigeonhole (block, chunk) equi-join over the shared
    hamming_near_pairs core — a hash join, never a nested-loop or
    cartesian all-pairs; one Arrow-batched decode pass feeds it."""
    from python_dtl_spark.operators import multimodal

    assets = multimodal.synth_assets(spark, n=64)
    plan = _exec_plan(multimodal.image_near_dup_pairs(assets, fake=True))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan, plan  # the (blk, chunk) candidate equi-join
    assert plan.count("ArrowEvalPython") <= 0  # decode is mapInPandas
    assert "MapInPandas" in plan, plan


def test_corpus_report_is_single_group_agg(spark):
    """corpus_report (staged r16 → r17): ONE source-keyed aggregation —
    partial-aggregable sums/counts plus Spark's standard
    partial-distinct plan for the exact dup-rate; no join, no window,
    zero Python."""
    from python_dtl_spark.operators.stats import corpus_report

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    plan = _exec_plan(corpus_report(docs))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "partial_" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # approx tier drops the exact-distinct Expand/second shuffle: the
    # invariant is no Expand and no extra exchange beyond the group
    # agg's own (r16 advisor: assert the invariant, don't couple the
    # exact node count to session conf defaults)
    plan2 = _exec_plan(corpus_report(docs, exact_distinct=False))
    assert "Expand" not in plan2, plan2
    assert "Join" not in plan2 and "Window" not in plan2, plan2
    assert plan2.count("Exchange") <= 1, plan2


def test_snapshot_diff_is_one_full_outer_join(spark):
    """snapshot_diff (staged r16 → r17): ONE null-safe full-outer
    SortMergeJoin on the keys with row-local status comparison — no
    window, no nested loop, no second join; the canonical
    incremental-diff plan that bucketing co-locates at 100 TB."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.cdc import snapshot_diff

    old = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    new = old.withColumn(
        "text", F.when(F.col("doc_id") % 5 == 0, F.lit("edited")).otherwise(F.col("text"))
    )
    plan = _exec_plan(snapshot_diff(old, new, ["doc_id"]))
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert plan.count("Join") == plan.count("SortMergeJoin"), plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_source_drift_card_is_join_plus_single_agg(spark):
    """source_drift_card (staged r17 → r18 slate): snapshot_diff's ONE
    null-safe full-outer SortMergeJoin feeding ONE group aggregation
    whose counts are map-side partial-aggregable — no window, no
    second join, no loop fallback, zero Python.  A per-status shuffle
    or a count window here would break the 'tail one card per crawl'
    monitoring contract at 100 TB."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.cdc import source_drift_card

    old = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    new = old.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0, F.lit("edited")).otherwise(
            F.col("text")
        ),
    )
    plan = _exec_plan(source_drift_card(old, new, ["doc_id"], "source"))
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan
    assert plan.count("Join") == plan.count("SortMergeJoin"), plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "partial_count" in plan, plan


def test_keep_rate_filter_is_agg_plus_semi_join(spark):
    """keep_rate_filter (staged r16 → r17): ONE group-keyed hash agg
    with map-side partial count/count_if feeding a broadcast LEFT SEMI
    join back — no window (a rate window would funnel each domain
    through one task), the group table is 1 row/group so it
    broadcasts."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.sampling import keep_rate_filter

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", (F.col("doc_id") % 3 != 0).alias("keep")
    )
    plan = _exec_plan(keep_rate_filter(docs, "source", "keep"))
    assert "partial_count" in plan, plan
    assert "LeftSemi" in plan, plan
    # the invariant is a HASH-family semi join back (broadcast under
    # the session's default threshold; shuffled-hash acceptable under
    # other configs) — never a loop/cartesian fallback, never a window
    # (r16 advisor: don't pin the test to the broadcast threshold)
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_recrawl_refresh_is_map_side_max_agg(spark):
    """pipeline_recrawl_refresh (registered r16): the keep-newest
    election and crawl-history summary are ONE canonical-url hash
    aggregation whose measures are all partial-aggregable (map-side
    partial max-struct/count/min/max) — a hub page recrawled hourly
    combines map-side instead of funneling through a window sort; no
    window, no join, zero Python."""
    from python_dtl_spark.catalog import QUERIES

    plan = _exec_plan(QUERIES["pipeline_recrawl_refresh"].fn(spark, SF))
    assert "partial_max" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_char_concentration_is_pure_map_stage(spark):
    """char_concentration_flags (registered r16): the Simpson-
    concentration fold is a row-local array_sort + aggregate inside
    the projection — scan → project with ZERO Exchange and zero
    Python; a pure map stage that pipelines with the scan at 100 TB."""
    from python_dtl_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _exec_plan(text_ops.char_concentration_flags(docs))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_dedup_is_map_side_min_agg(spark):
    """pipeline_url_dedup (registered r16): canonicalization is a
    row-local map and the keep-one election is ONE canonical-url
    hash aggregation with a map-side partial_min — a hot URL combines
    map-side instead of funneling through a window sort; zero Python,
    no join anywhere."""
    from python_dtl_spark.catalog import QUERIES

    plan = _exec_plan(QUERIES["pipeline_url_dedup"].fn(spark, SF))
    assert "partial_min" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" not in plan and "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_clean_lines_is_pure_map_stage(spark):
    """c4_clean_lines (registered r16): the whole C4 recipe — line
    split, terminal-punct / word-count / blocklist predicates, the
    first-occurrence line dedup, the doc-level gates — is row-local
    array work: scan → project, ZERO Exchange, zero Python."""
    from python_dtl_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _exec_plan(text_ops.c4_clean_lines(docs, dedup_lines=True))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_crawl_delta_corpus_side_never_rebuckets(spark, tmp_path):
    """crawl_delta_pairs (registered r16): the incremental contract.
    With a PRECOMPUTED corpus index (the stored minhash_band_buckets
    parquet), the corpus TEXT relation is scanned exactly once — the
    candidate-verification join-back — never for banding: the index
    IS the banding, so a plan that re-derives buckets from corpus
    text defeats the operator's whole point at 100 TB.  The Bloom
    prefilter must reach the plan as a broadcast LeftSemi hash join
    over the index (index rows colliding with no crawl bucket never
    reach the equi-join exchange), and the verification join-back
    must be semi-filtered to candidate ids.  Zero Python, no nested
    loop anywhere."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import dedup

    corpus = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    idx_path = str(tmp_path / "lsh_index.parquet")
    dedup.minhash_band_buckets(corpus).write.parquet(idx_path)
    crawl = corpus.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    out = dedup.crawl_delta_pairs(
        corpus,
        crawl,
        threshold=0.3,
        corpus_buckets=spark.read.parquet(idx_path),
    )
    import re as _re

    plan = _exec_plan(out)
    # Corpus TEXT is scanned through exactly ONE distinct relation
    # instance: the verify join-back (filters: just isnotnull, no
    # crawl `% 5` pushdown).  Banding-from-text would add a second
    # unfiltered text scan.  (Raw FileScan lines repeat per persisted
    # subtree consumer, so count DISTINCT attribute ids.)
    text_scans = {
        m.group(1)
        for m in _re.finditer(
            r"FileScan parquet \[doc_id#(\d+)L,text#\d+\]([^\n]*)", plan
        )
        if "% 5" not in m.group(2)
    }
    assert len(text_scans) == 1, (text_scans, plan)
    # the stored index relation is what feeds banding
    assert _re.search(r"FileScan parquet \[doc_id#\d+L,band#\d+,bucket#\d+L\]", plan), plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_card_is_map_plus_single_agg(spark):
    """pipeline_quality_card (registered r17): FOUR flag batteries
    (gopher, repetition, char-concentration, blocklist) fuse into one
    codegen'd map stage feeding ONE source-keyed aggregation — no
    join, no window, zero Python; the only exchanges are the exact
    distinct's standard partial-distinct pair.  A fixture join or a
    per-battery shuffle here would break the 'tail one table per
    ingest hour' monitoring contract at 100 TB."""
    from python_dtl_spark.catalog import QUERIES

    plan = _exec_plan(QUERIES["pipeline_quality_card"].fn(spark, SF))
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Exchange") <= 2, plan
    assert "partial_" in plan, plan


def test_merge_index_touches_only_crawl(spark, tmp_path):
    """merge_crawl_into_index (registered r17): the append path costs
    crawl-sized work however large the corpus is — the stored index
    parquet passes through the union UNTOUCHED (a union is narrow:
    zero exchange on the index branch), and the plan's ONLY exchange
    is the crawl's own signature aggregation.  An index-side shuffle
    here would turn the daily append into a corpus-sized job at
    100 TB."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import dedup

    corpus = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    idx_path = str(tmp_path / "lsh_index.parquet")
    dedup.minhash_band_buckets(corpus).write.parquet(idx_path)
    crawl = corpus.filter(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    merged = dedup.merge_crawl_into_index(
        spark.read.parquet(idx_path), crawl
    )
    plan = _exec_plan(merged)
    # crawl-sided exchanges only: the signature groupBy (map-side
    # partial mins) plus _spread's round-robin input fan-out; the
    # index branch is scan → union, nothing else
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange") <= 2, plan
    assert "partial_min" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the index relation feeds the union as a bare scan
    import re as _re

    assert _re.search(
        r"FileScan parquet \[doc_id#\d+L,band#\d+,bucket#\d+L\]", plan
    ), plan


def test_embedding_delta_probe_is_index_join_plus_candidate_verify(spark, tmp_path):
    """embedding_delta_pairs with a STORED index: the corpus VECTOR
    relation is scanned only through the candidate-semi-filtered
    verify branch (never for signatures — the index IS the
    signatures), the bucket probe is a hash equi-join, and no nested
    loop or Python appears anywhere."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import dedup

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    idx_path = str(tmp_path / "eidx.parquet")
    dedup.embedding_lsh_buckets(corpus, dim=64).write.parquet(idx_path)
    delta = corpus.filter(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    out = dedup.embedding_delta_pairs(
        corpus,
        delta,
        threshold=0.9,
        dim=64,
        corpus_buckets=spark.read.parquet(idx_path),
    )
    plan = _exec_plan(out)
    import re as _re

    # corpus vectors enter through exactly ONE relation instance — the
    # verify join-back (no `% 3` delta filter on it); signature
    # derivation from corpus vectors would add a second instance
    vec_scans = {
        m.group(1)
        for m in _re.finditer(
            r"FileScan parquet \[vec_id#(\d+)L,embedding#\d+\]([^\n]*)",
            plan,
        )
        if "% 3" not in m.group(2)
    }
    assert len(vec_scans) == 1, (vec_scans, plan)
    # the stored index relation feeds the bucket join
    assert _re.search(
        r"FileScan parquet \[vec_id#\d+L,bucket#\d+L\]", plan
    ), plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_embedding_index_is_pure_map(spark, tmp_path):
    """merge_delta_into_embedding_index: the signature is row-local,
    so the append is a pure map over the delta — no hash exchange, no
    aggregate, no join ANYWHERE in the plan (the only exchange is
    _spread's round-robin input fan-out); the stored index passes
    through as a bare scan."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import dedup

    corpus = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    idx_path = str(tmp_path / "eidx.parquet")
    dedup.embedding_lsh_buckets(corpus, dim=64).write.parquet(idx_path)
    delta = corpus.filter(F.col("vec_id") % 4 == 1).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    merged = dedup.merge_delta_into_embedding_index(
        spark.read.parquet(idx_path), delta, dim=64
    )
    plan = _exec_plan(merged)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    import re as _re

    assert _re.search(
        r"FileScan parquet \[vec_id#\d+L,bucket#\d+L\]", plan
    ), plan


def test_ccnet_buckets_plan_shape(spark):
    """pipeline_ccnet_buckets: the |sources|-row boundary table joins
    back BROADCAST (a shuffled join would move the corpus per label);
    the LM model joins are broadcast; the only allowed SortMergeJoin
    is the doc-grain id join-back inside lm_perplexity; zero Python;
    the label is a row-local CASE (no window on the label path)."""
    from python_dtl_spark.catalog import QUERIES

    out = QUERIES["pipeline_ccnet_buckets"].fn(spark, SF)
    plan = _exec_plan(out)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    import re as _re

    for m in _re.finditer(r"SortMergeJoin \[(\w+)", plan):
        assert m.group(1) in ("doc_id", "__lm_id"), plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    from python_dtl_spark.operators.dedup import release_all_cached

    release_all_cached(spark)


def test_stratified_top_fraction_is_one_rank_exchange(spark):
    """The quality floor plans like target_mix_resample: one tiny
    per-stratum count agg broadcast back as quotas, ONE rank-window
    hash exchange on the stratum key, zero Python, no sort-merge or
    nested-loop join anywhere."""
    from python_dtl_spark.operators import sampling, text as text_ops

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.stratified_top_fraction(
        text_ops.quality_features(docs), "source", "quality_score",
        0.3, "doc_id",
    )
    plan = _exec_plan(out)
    import re as _re

    win_exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert any(e.startswith("source") for e in win_exchanges), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stream_shard_emit_is_zero_exchange_row_local_map(spark):
    """The streaming-emission batch twin (catalog stream_shard_emit):
    epoch_upsample -> composite key -> shard_assign must plan with
    ZERO data exchanges and zero Python — shard membership is a pure
    row-local md5 map on top of the broadcast epoch join, so the only
    shuffle a streaming emission pays is the SINK's partitioned
    write, never an in-plan Exchange."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source"
    )
    up = sampling.epoch_upsample(docs, "source", {"src1": 2, "src3": 3})
    keyed = up.withColumn(
        "__emit_key", F.concat_ws("#", F.col("doc_id"), F.col("epoch"))
    )
    out = sampling.shard_assign(keyed, "__emit_key", 8, seed="sh-s")
    plan = _exec_plan(out)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_emit_chain_plan_shape(spark):
    """The composed pipeline_dsir_emit chain end-to-end: every model
    join broadcast (two DSIR bucket models + the mix quotas + the
    epoch map — never SMJ / nested loop / cartesian), zero Python
    anywhere, and the global selection rank planned as
    TakeOrderedAndProject — Catalyst rewrites the literal-limit
    row_number into a per-partition top-k + merge, so the main query
    has NO SinglePartition exchange (only the model totals' scalar
    subqueries sum their <=10k rows in one); the data exchanges left are the
    three model-building hash aggregations (two bucket fits + the
    doc-grain scoring agg) plus, since the r21 top_fraction
    threshold refinement, the k-row repartitions of the mix/shard
    windows: the selection output is now a Union of the filtered
    sure-keep slice with the boundary-band take (no longer one
    partition), so the downstream windows shuffle their
    selection-sized input — deliberately traded for removing the
    O(fraction·n) single-partition merge from the selection
    itself."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from python_dtl_spark.operators import classify, sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tc = classify.dsir_fit(docs.where("source = 'src1'"), seed="ds1")
    rc = classify.dsir_fit(docs, seed="ds1")
    scored = classify.dsir_weights(docs, tc, rc, seed="ds1")
    sel = sampling.top_fraction(
        scored, "log_weight", Fraction(1, 4), "doc_id"
    ).select("doc_id", "source")
    mixed = sampling.target_mix_resample(
        sel, "source", "doc_id",
        {f"src{i}": 1 for i in range(20)}, seed="de1",
    )
    up = sampling.epoch_upsample(mixed, "source", {"src1": 2, "src3": 3})
    keyed = up.withColumn(
        "__emit_key", F.concat_ws("#", F.col("doc_id"), F.col("epoch"))
    )
    out = sampling.shuffle_shards(keyed, "__emit_key", 8, seed="sh-d")
    plan = _exec_plan(out)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # model joins (bucket keys) must never be shuffled; the doc-grain
    # id join-back may be SMJ (its build side is corpus-sized — see
    # test_dsir_weights_is_broadcast_model_joins_single_doc_agg)
    import re as _re

    for m in _re.finditer(r"SortMergeJoin \[(\w+)", plan):
        assert m.group(1) in ("doc_id", "__ds_id"), plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan
    # the model totals' scalar subqueries sum <=10k model rows in one
    # partition; the main query must have no single-partition exchange
    assert "Exchange SinglePartition" not in _main_query_plan(out), plan
    assert "Exchange rangepartitioning" not in plan, plan
    hash_exchanges = _re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    # source/shard: the post-selection window repartitions — inputs are
    # selection-sized (k rows), not corpus-sized (see docstring)
    assert set(hash_exchanges) <= {
        "__ds_id", "bucket", "doc_id", "source", "shard",
    }, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pretrain_full_chain_plan_shape(spark):
    """The composed pipeline_pretrain_full chain (registered r16):
    five legs through one lazy DAG without any leg regressing the
    shape its standalone row plan-asserts — the decontamination
    fingerprint flag and the dedup-survivor filter stay LEFT SEMI hash
    joins, the Bloom/bucket machinery never degrades to a nested loop
    or cartesian, zero Python anywhere, no SinglePartition exchange
    (every window partitions by doc/source), and the only
    SortMergeJoins are doc-grain id join-backs (corpus-sized both
    sides — broadcast would be wrong at 100 TB)."""
    from python_dtl_spark.catalog import QUERIES

    df = QUERIES["pipeline_pretrain_full"].fn(spark, SF)
    plan = _exec_plan(df)
    import re as _re

    assert "LeftSemi" in plan, plan
    for m in _re.finditer(r"SortMergeJoin \[(\w+)", plan):
        assert m.group(1) in ("doc_id", "__sid", "id_a", "id_b"), plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    from python_dtl_spark.operators.dedup import release_all_cached

    release_all_cached(spark)


def test_top_fraction_plans_prefiltered_take_ordered(spark):
    """sampling.top_fraction's two phases in the plan: the
    approxQuantile coarse floor lands as a pushed Filter on the score
    (the rank's input is the ~fraction slice, never the raw corpus)
    and the literal-k row_number rewrites to TakeOrderedAndProject —
    per-partition top-k with a merge, NO SinglePartition exchange and
    no global range sort."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", (F.col("n_chars") * 1.0).alias("score")
    )
    out = sampling.top_fraction(docs, "score", Fraction(1, 4), "doc_id")
    plan = _exec_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "(score" in plan and ">=" in plan, plan  # the coarse floor
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # r21 threshold refinement: the take's merge must hold only the
    # boundary band (~4·err·n rows), NOT the full fraction·n top-k —
    # the sure-keep slice above the high cut ships through a plain
    # filtered union branch with no sort of any kind.
    import re as _re

    n = docs.count()
    k = -(-n // 4)  # ceil(n/4)
    m = _re.search(r"TakeOrderedAndProject\(limit=(\d+)", plan)
    assert m, plan
    assert int(m.group(1)) < k, (m.group(1), k)
    assert "Union" in plan, plan


def test_top_fraction_floor_only_plan_is_filter_only(spark):
    """floor_only=True (the 100 TB escape hatch the design argument
    leans on, registered as pipeline_floor_select): the returned plan
    is ONE filter over the cached scored input — NO
    TakeOrderedAndProject, NO window of any kind, NO exchange, no
    Python.  The quantile pass already ran eagerly; nothing about the
    result requires a total order."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", (F.col("n_chars") * 1.0).alias("score")
    )
    out = sampling.top_fraction(
        docs, "score", Fraction(1, 4), "doc_id", floor_only=True
    )
    plan = _exec_plan(out)
    assert "TakeOrderedAndProject" not in plan, plan
    assert "Window" not in plan, plan  # also covers WindowGroupLimit
    assert "Exchange" not in plan, plan
    assert "(score" in plan and ">=" in plan, plan  # the pushed floor
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_mix_quality_ordered_keeps_one_exchange(spark):
    """order_col swaps the md5 rank for (score DESC, key) but must not
    change the scale shape: still ONE broadcast model join + one
    stratum window exchange, zero Python."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "q", (F.col("n_chars") % 97).cast("double")
    )
    out = sampling.token_budget_mix(
        docs, "source", "doc_id", "n_chars",
        {"src1": 4000, "src2": 2500}, order_col="q",
    )
    plan = _exec_plan(out)
    import re as _re

    win_exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert len(win_exchanges) == 1 and win_exchanges[0].startswith(
        "source"
    ), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_token_budget_mix_is_one_window_exchange(spark):
    """token_budget_mix (staged r14 → r15 registration): ONE broadcast
    join against the |budgets|-row model + one per-stratum
    rank/cumsum window exchange on the stratum key — the
    target_mix_resample shape; zero Python, no sort-merge join."""
    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = sampling.token_budget_mix(
        docs, "source", "doc_id", "n_chars",
        {"src1": 4000, "src2": 2500}, seed="tb-l",
    )
    plan = _exec_plan(out)
    import re as _re

    win_exchanges = _re.findall(r"Exchange hashpartitioning\(([^)]*)", plan)
    assert len(win_exchanges) == 1 and win_exchanges[0].startswith(
        "source"
    ), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_importance_resample_plans_like_top_fraction(spark):
    """importance_resample (staged r14 → r15): the Gumbel priority is
    a row-local expression feeding top_fraction's two-phase valve —
    pushed coarse-floor Filter + literal-k TakeOrderedAndProject, NO
    SinglePartition exchange, no global range sort, zero Python."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import sampling

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", (F.col("n_chars") / 100.0).alias("w")
    )
    out = sampling.importance_resample(docs, "w", "doc_id", 0.25, seed="ir")
    plan = _exec_plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_weights_row_local_is_pure_map_stage(spark):
    """The DSIR scorer's streaming tier (plan-literal bucket maps +
    one F.aggregate fold) must plan as a pure map stage: zero
    Exchange past the model collects, zero join, zero Python."""
    from python_dtl_spark.operators import classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tc = classify.dsir_fit(docs.where("source = 'src1'"), seed="p1")
    rc = classify.dsir_fit(docs, seed="p1")
    out = classify.dsir_weights(docs, tc, rc, seed="p1", row_local=True)
    plan = _exec_plan(out)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_balanced_sample_plan_shape(spark):
    """cluster_balanced_sample: assignment is a broadcast-model map
    (no join for the centers), the quota is domain_quota's single
    WindowGroupLimit-pruned hash exchange on cluster_id, and nothing
    runs in Python (the KMeans predict is a JVM expression)."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators import similarity

    base = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    out = similarity.cluster_balanced_sample(
        base, quota=5, n_centroids=4, seed=7
    )
    plan = _exec_plan(out)
    import re as _re

    hash_exchanges = _re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert len(hash_exchanges) == 1 and hash_exchanges[0].startswith(
        "cluster_id"
    ), plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_assign_to_centroids_is_pure_map(spark):
    """assign_to_centroids (staged r17 → r18 slate): the IVF index
    append is a PURE MAP — centroids are plan literals, assignment is
    row-local argmin; zero Exchange, zero Python, no Join/Window.  Any
    shuffle here would turn the daily arrival append into a
    corpus-sized job at 100 TB."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.similarity import assign_to_centroids

    corpus = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [[float(i == j) for i in range(64)] for j in range(8)]
    plan = _exec_plan(assign_to_centroids(corpus, cents, dim=64))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_merge_centroid_index_touches_only_delta(spark, tmp_path):
    """merge_into_centroid_index: the stored assignment index passes
    through the union as a BARE SCAN (narrow, zero exchange on either
    branch) while only the delta runs the assignment map — the
    merge == rebuild contract costs arrival-sized work however large
    the stored index is."""
    import re as _re

    from pyspark.sql import functions as F

    from python_dtl_spark.operators.similarity import (
        assign_to_centroids,
        merge_into_centroid_index,
    )

    corpus = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = [[float(i == j) for i in range(64)] for j in range(8)]
    idx_path = str(tmp_path / "centroid_index.parquet")
    assign_to_centroids(corpus, cents, dim=64).write.parquet(idx_path)
    delta = corpus.filter(F.col("vec_id") % 7 == 3).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    merged = merge_into_centroid_index(
        spark.read.parquet(idx_path), delta, cents, dim=64
    )
    plan = _exec_plan(merged)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the stored index feeds the union as a bare parquet scan
    assert _re.search(r"Union[\s\S]*FileScan parquet[\s\S]*centroid_index", plan), plan


def test_quantile_drift_is_two_aggs_plus_card_join(spark):
    """quantile_drift (staged r17 → r18 slate): ONE group-keyed
    aggregation per snapshot (percentile buffers inside the aggregate)
    and one |groups|-sized full-outer card join — no window, no
    data-grain join, no loop fallback, zero Python.  The sketch tier
    must additionally keep map-side partials (t-digest is mergeable)."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.stats import quantile_drift

    old = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "source", F.length("text").cast("long").alias("chars")
    )
    new = old.withColumn("chars", F.col("chars") + 1)
    plan = _exec_plan(quantile_drift(old, new, "chars", ["source"]))
    assert plan.count("Join") == 1 and "FullOuter" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    plan2 = _exec_plan(
        quantile_drift(old, new, "chars", ["source"], exact=False)
    )
    assert "partial_approx_percentile" in plan2, plan2
    assert "Window" not in plan2, plan2


def test_edit_distance_pairs_no_all_pairs(spark):
    """edit_distance_pairs (staged r17 → r18 slate): candidates come
    from hash equi-joins on deletion variants and id-keyed verify
    joins — never a cartesian/nested-loop scan, zero Python; the
    levenshtein verify runs JVM-side on candidates only."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.dedup import edit_distance_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.lower(F.substring(F.trim("text"), 1, 24)).alias("title")
    )
    plan = _exec_plan(edit_distance_pairs(docs, "doc_id", "title"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan, plan


def test_title_variant_index_is_pure_map(spark):
    """title_variant_index (staged r17 → r18 slate): building/appending
    the character-grain stored index is a row-local explode — zero
    Exchange under the unique-id contract, zero Python; the default
    duplicate-id collapse is the ONE permitted safety exchange."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.dedup import title_variant_index

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.lower(F.substring(F.trim("text"), 1, 24)).alias("title")
    )
    plan = _exec_plan(
        title_variant_index(docs, "doc_id", "title", assume_unique_ids=True)
    )
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    plan_safe = _exec_plan(title_variant_index(docs, "doc_id", "title"))
    assert plan_safe.count("Exchange hashpartitioning") <= 1, plan_safe


def test_merge_variant_index_is_pure_map(spark, tmp_path):
    """merge_delta_into_variant_index: the stored index passes through
    the union as a BARE SCAN and the delta append is a row-local
    explode — zero exchanges anywhere under the unique-id contract."""
    import re as _re

    from pyspark.sql import functions as F

    from python_dtl_spark.operators.dedup import (
        merge_delta_into_variant_index,
        title_variant_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.lower(F.substring(F.trim("text"), 1, 24)).alias("title")
    )
    idx_path = str(tmp_path / "variant_index.parquet")
    title_variant_index(docs, "doc_id", "title").write.parquet(idx_path)
    delta = docs.filter(F.col("doc_id") % 5 == 2).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "title"
    )
    merged = merge_delta_into_variant_index(
        spark.read.parquet(idx_path), delta, "doc_id", "title",
        assume_unique_ids=True,
    )
    plan = _exec_plan(merged)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert _re.search(r"Union[\s\S]*FileScan parquet[\s\S]*variant_index", plan), plan


def test_edit_distance_delta_is_index_probe_plus_candidate_verify(spark, tmp_path):
    """edit_distance_delta_pairs against a STORED index: the only
    variant explode in the plan is the DELTA's (the corpus never
    re-explodes — its variants come off the index scan), and the
    corpus title store is semi-filtered to candidate ids before its
    scan; no cartesian/loop join anywhere."""
    from pyspark.sql import functions as F

    from python_dtl_spark.operators.dedup import (
        edit_distance_delta_pairs,
        title_variant_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.lower(F.substring(F.trim("text"), 1, 24)).alias("title")
    )
    idx_path = str(tmp_path / "variant_index.parquet")
    title_variant_index(docs, "doc_id", "title").write.parquet(idx_path)
    delta = docs.filter(F.col("doc_id") % 5 == 2).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "title"
    )
    plan = _exec_plan(
        edit_distance_delta_pairs(
            docs, delta, "doc_id", "title",
            corpus_index=spark.read.parquet(idx_path),
        )
    )
    # every variant explode in the plan is the DELTA's (__dd_t): the
    # corpus side arrives pre-exploded off the index scan.  (The delta
    # subtree may appear more than once physically — candidate lineage
    # is embedded in both the semi-filter and the output join — but
    # each instance is delta-sized.)
    explode_lines = [
        ln for ln in plan.splitlines() if "Generate explode" in ln
    ]
    assert explode_lines and all("__dd_t" in ln for ln in explode_lines), plan
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_html_to_text_is_pure_map(spark):
    """html_to_text (staged r17 → r18 slate): the whole extraction is
    one codegen'd chain of regexp_replace/replace — zero Exchange,
    zero Python; it must fuse into the ingest scan."""
    from python_dtl_spark.operators.text import html_to_text

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _exec_plan(html_to_text(docs))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_extract_urls_is_pure_map(spark):
    """extract_urls (staged r17 → r18 slate): regexp_extract_all +
    explode, one codegen'd stage — zero Exchange, zero Python; the
    outlink front half fuses into the ingest scan."""
    from python_dtl_spark.operators.urls import extract_urls

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _exec_plan(extract_urls(docs))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_card_scrub_is_pure_map(spark):
    """card_scrub (staged r18 → r20 slot): candidate regex + the
    per-candidate Luhn integer fold + the verified-replace fold are
    all row-local higher-order-function expressions — zero Exchange,
    zero Python; the PAN leg fuses into the ingest scan like the rest
    of the PII battery."""
    from python_dtl_spark.operators.text import card_scrub

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = _exec_plan(card_scrub(docs))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_plans_single_tokenize_pass(spark):
    """r21: document frequency as an unordered per-term window on the
    tf rows — the plan must contain exactly ONE tokenize+explode
    subtree (the old groupBy+join form re-derived tf on the pruned
    docfreq branch, re-running the corpus tokenize) and no join on
    term (only the broadcast n_docs cross join remains)."""
    from python_dtl_spark.operators import text

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    out = text.tfidf_top_terms(docs)
    plan = _exec_plan(out)
    assert plan.count("Generate explode") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
