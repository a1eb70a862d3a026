"""Query catalog: every implemented operator exposed as a named query
over the driver test tables, with a matching DuckDB oracle where the
semantics are ANSI-SQL-expressible.

This is the contract surface consumed by ``__spark_entry__.py``
(driver correctness gate) and ``bench.py`` (driver benchmark).  Keys
map 1:1 onto SURVEY.md §2's operator inventory plus the M6 pipeline
extensions.

Column-name discipline: Spark output and oracle SQL alias every
computed column identically — the driver's comparator sorts columns by
name before hashing values.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from fractions import Fraction
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from python_dtl_spark.compiler import Engine
from python_dtl_spark.operators import (
    cdc,
    classify,
    dedup,
    embeddings as embeddings_ops,
    joins,
    multimodal,
    rollup,
    sampling,
    semistructured,
    similarity,
    stats,
    text,
    urls,
    windows,
)
from python_dtl_spark.operators.timeutil import epoch_micros
from python_dtl_spark.sources import FileSystemImporter
from python_dtl_spark.streaming import (
    interval_join,
    session_windows,
    sliding_event_counts,
    tumbling_event_stats,
)


def _lineage_truncate(spark):
    """Catalog-level plan-truncation valve for the stored-index daily
    loops (r21, verdict item 5): lazy ``localCheckpoint`` by default
    (single-node / bench — identical to the r20 behaviour), but
    fault-tolerant reliable ``checkpoint()`` when
    ``$SPARK_GRAFT_CHECKPOINT_DIR`` is set.  On a real cluster a lost
    executor silently invalidates localCheckpoint blocks mid-loop
    (recompute-from-nothing); the operator layer already takes a
    ``checkpoint_dir`` param for this — these catalog compositions
    plumb the same valve."""
    return dedup._plan_truncator(
        spark, os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or None
    )


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL over pre-registered table views
    headline: bool = False  # include in bench.py


QUERIES: dict[str, CatalogQuery] = {}


def _register(name: str, fn, oracle: str, headline: bool = False) -> None:
    QUERIES[name] = CatalogQuery(name=name, fn=fn, oracle=oracle, headline=headline)


# ---------------------------------------------------------------------------
# Cross-query table-handle memo (r21, verdict item 4; guide §6 file
# listing).  Every catalog query re-runs ``spark.read.parquet`` for its
# input tables, paying file listing + parquet footer schema inference
# per query (~0.1-0.15 s × 1-3 tables × 99 headline queries locally;
# against object storage the listing round-trips are the real cost —
# a production deployment holds table handles in a catalog service).
# OPT-IN via SPARK_GRAFT_TABLE_MEMO=1 because sharing handles across
# queries blurs the bench's per-query isolation (later queries would
# skip listing work the historical numbers include); default behaviour
# is bit-identical to r20.  The memo holds LAZY scan plans only — no
# data, no results — and is keyed by (applicationId, sf_dir, table) so
# a new session or data dir never sees a stale handle.  If a table is
# rewritten in-session with the memo on, call _clear_table_memo()
# (registered in sources.INVALIDATION_HOOKS).
_TABLE_MEMO: dict = {}


def _table_memo_on() -> bool:
    return os.environ.get("SPARK_GRAFT_TABLE_MEMO", "").lower() in (
        "1",
        "true",
        "yes",
    )


def _clear_table_memo() -> None:
    _TABLE_MEMO.clear()


from python_dtl_spark import sources as _sources_mod  # noqa: E402

_sources_mod.INVALIDATION_HOOKS.append(_clear_table_memo)


def _memoized(spark: SparkSession, sf_dir: str, table: str, build):
    app = spark.sparkContext.applicationId
    # handles of a stopped session pin it through py4j; drop them
    for stale in [key for key in _TABLE_MEMO if key[0] != app]:
        del _TABLE_MEMO[stale]
    key = (app, sf_dir, table)
    df = _TABLE_MEMO.get(key)
    if df is None:
        df = build()
        _TABLE_MEMO[key] = df
    return df


def _dtl(script: str, output: str = "output"):
    """Build a (spark, sf_dir) callable that runs a DTL script through
    the full engine (lexer → parser → compiler → Catalyst)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        importer = FileSystemImporter(spark, sf_dir)
        if _table_memo_on():
            # widen the importer's per-instance handle memo to the
            # catalog: pre-seed it from the shared memo and capture new
            # handles back, so repeated IMPORTs of the same table across
            # queries list/footer-read once per session
            # (synthetic keys such as _read_events' "events@..." are
            # the catalog's own, not DTL table names)
            key_prefix = (spark.sparkContext.applicationId, sf_dir)
            for (app, root, tbl), df in _TABLE_MEMO.items():
                if (app, root) == key_prefix and "@" not in tbl:
                    importer._memo[tbl] = df
            orig_import = importer.import_table

            def import_table(name):
                df = orig_import(name)
                _memoized(spark, sf_dir, name, lambda: df)
                return df

            importer.import_table = import_table
        engine = Engine(spark, importer, ordered=False)
        exports = dict(engine.run_script(script))
        return exports[output].public_df()

    return fn


def _dtl_ordered(script: str, output: str = "output"):
    """Like :func:`_dtl` but with deterministic row-order semantics on —
    required by the CONSECUTIVE operators, whose meaning depends on
    adjacency.  Ordered mode threads a hidden order column through every
    operator (global windows — correctness-gate scale, not a bench
    path)."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        engine = Engine(spark, FileSystemImporter(spark, sf_dir), ordered=True)
        exports = dict(engine.run_script(script))
        return exports[output].public_df()

    return fn


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if _table_memo_on():
        return _memoized(
            spark,
            sf_dir,
            table,
            lambda: spark.read.parquet(f"{sf_dir}/{table}.parquet"),
        )
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table stores ``ts`` as parquet TIMESTAMP(NANOS), which
    Spark cannot read natively — read nanos as long (legacy conf) and
    convert to a microsecond timestamp with integer division (``div``:
    the values exceed double's 2^53 mantissa, so float division would
    corrupt them).

    The legacy conf is scoped to this read (saved/restored): the value
    is captured when the scan is analyzed, so the returned lazy
    DataFrame stays valid, and later parquet reads in the same session
    see nanosecond timestamps unchanged rather than silently becoming
    longs."""
    def build() -> DataFrame:
        conf_key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/events.parquet")
            if dict(df.dtypes)["ts"] in ("bigint", "long"):
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)
        return df

    if _table_memo_on():
        # distinct memo key: this handle carries the nanos→micros
        # conversion and must never be confused with a plain read
        return _memoized(spark, sf_dir, "events@nanos_as_micros", build)
    return build()


# ---------------------------------------------------------------------------
# Group A — DTL language queries (SURVEY.md §2.1-2.5 inventory)
# ---------------------------------------------------------------------------

_register(
    "dtl_project_rename",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT l_orderkey AS order_key, l_partkey AS part_key,
                   l_quantity AS qty
            FROM lineitem;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_orderkey AS order_key, l_partkey AS part_key, l_quantity AS qty "
    "FROM lineitem",
)

_register(
    "dtl_arithmetic",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice * (1.0 - l_discount) AS net,
                   l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS gross
            FROM lineitem;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_orderkey, l_linenumber, "
    "l_extendedprice * (1.0 - l_discount) AS net, "
    "l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS gross "
    "FROM lineitem",
    headline=True,
)

_register(
    "dtl_add_builtin",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT l_orderkey, l_linenumber, add(l_extendedprice, l_tax) AS s
            FROM lineitem;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_orderkey, l_linenumber, l_extendedprice + l_tax AS s FROM lineitem",
)

_register(
    "dtl_where_compare",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE l_quantity > 45.0;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
    "WHERE l_quantity > 45.0",
)

_register(
    "dtl_where_logic",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
            FROM lineitem
            WHERE (l_discount >= 0.05 & l_quantity < 10.0) | l_returnflag = 'R';
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag "
    "FROM lineitem "
    "WHERE (l_discount >= 0.05 AND l_quantity < 10.0) OR l_returnflag = 'R'",
    headline=True,
)

_register(
    "dtl_equi_join",
    _dtl(
        """
        WITH nation AS IMPORT 'nation';
        WITH region AS IMPORT 'region';
        WITH output AS
            SELECT n_nationkey, n_name, r_name
            FROM nation
            JOIN region ON n_regionkey = r_regionkey;
        EXPORT output TO 'output';
        """
    ),
    "SELECT n_nationkey, n_name, r_name FROM nation "
    "JOIN region ON n_regionkey = r_regionkey",
)

_register(
    "dtl_theta_join",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        WITH customer AS IMPORT 'customer';
        WITH output AS
            SELECT o_orderkey, c_name, o_totalprice, c_acctbal
            FROM orders
            JOIN customer ON o_custkey = c_custkey & o_totalprice < c_acctbal;
        EXPORT output TO 'output';
        """
    ),
    "SELECT o_orderkey, c_name, o_totalprice, c_acctbal FROM orders "
    "JOIN customer ON o_custkey = c_custkey AND o_totalprice < c_acctbal",
)

_register(
    "dtl_join_using",
    _dtl(
        """
        WITH supplier AS IMPORT 'supplier';
        WITH nation AS IMPORT 'nation';
        WITH s AS SELECT s_suppkey, s_nationkey AS nationkey FROM supplier;
        WITH n AS SELECT n_name, n_nationkey AS nationkey FROM nation;
        WITH output AS SELECT s_suppkey, n_name, nationkey FROM s JOIN n USING (nationkey);
        EXPORT output TO 'output';
        """
    ),
    "SELECT s_suppkey, n_name, s_nationkey AS nationkey FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey",
)

_register(
    "dtl_left_join",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH output AS
            SELECT c_custkey, o_orderkey
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey & o_totalprice > 300000.0;
        EXPORT output TO 'output';
        """
    ),
    "SELECT c_custkey, o_orderkey FROM customer "
    "LEFT JOIN orders ON c_custkey = o_custkey AND o_totalprice > 300000.0",
)

_register(
    "dtl_semi_join",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH output AS
            SELECT c_custkey, c_name
            FROM customer
            SEMI JOIN orders ON c_custkey = o_custkey;
        EXPORT output TO 'output';
        """
    ),
    "SELECT c_custkey, c_name FROM customer c "
    "WHERE EXISTS (SELECT 1 FROM orders o WHERE c.c_custkey = o.o_custkey)",
)

_register(
    "dtl_anti_join",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH output AS
            SELECT c_custkey, c_name
            FROM customer
            ANTI JOIN orders ON c_custkey = o_custkey & o_totalprice > 300000.0;
        EXPORT output TO 'output';
        """
    ),
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE c.c_custkey = o.o_custkey "
    "AND o.o_totalprice > 300000.0)",
)

_register(
    "dtl_cross_join",
    _dtl(
        """
        WITH region AS IMPORT 'region';
        WITH output AS
            SELECT a.r_name AS name_a, b.r_name AS name_b
            FROM region AS a
            CROSS JOIN region AS b;
        EXPORT output TO 'output';
        """
    ),
    "SELECT a.r_name AS name_a, b.r_name AS name_b FROM region a CROSS JOIN region b",
)

_register(
    "dtl_distinct",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem;
        EXPORT output TO 'output';
        """
    ),
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    headline=True,
)

_register(
    "dtl_q1_pricing_summary",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT
                l_returnflag,
                l_linestatus,
                round_to(sum(l_quantity), 2) AS sum_qty,
                round_to(sum(l_extendedprice), 2) AS sum_base_price,
                round_to(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
                round_to(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge,
                round_to(avg(l_quantity), 2) AS avg_qty,
                round_to(avg(l_extendedprice), 2) AS avg_price,
                round_to(avg(l_discount), 2) AS avg_disc,
                count() AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp('2000-12-01 00:00:00')
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_returnflag, l_linestatus, "
    "round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base_price, "
    "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price, "
    "round(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)), 2) AS sum_charge, "
    "round(avg(l_quantity), 2) AS avg_qty, "
    "round(avg(l_extendedprice), 2) AS avg_price, "
    "round(avg(l_discount), 2) AS avg_disc, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
    headline=True,
)

_register(
    "dtl_q3_shipping_priority",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT
                l_orderkey,
                round_to(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                o_orderdate,
                o_orderpriority
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
                & o_orderdate < timestamp('1997-06-15 00:00:00')
                & l_shipdate > timestamp('1997-06-15 00:00:00')
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_orderkey, "
    "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, "
    "o_orderdate, o_orderpriority "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00' "
    "AND l_shipdate > TIMESTAMP '1997-06-15 00:00:00' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
    headline=True,
)

_register(
    "dtl_q5_local_supplier",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH lineitem AS IMPORT 'lineitem';
        WITH supplier AS IMPORT 'supplier';
        WITH nation AS IMPORT 'nation';
        WITH region AS IMPORT 'region';
        WITH output AS
            SELECT
                n_name,
                round_to(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey & c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
                & o_orderdate >= timestamp('1997-01-01 00:00:00')
                & o_orderdate < timestamp('1998-01-01 00:00:00')
            GROUP BY n_name
            ORDER BY revenue DESC;
        EXPORT output TO 'output';
        """
    ),
    "SELECT n_name, "
    "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' "
    "AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
    "GROUP BY n_name ORDER BY revenue DESC",
    headline=True,
)

_register(
    "dtl_group_by_having",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT l_suppkey, count() AS n, round_to(sum(l_quantity), 2) AS qty
            FROM lineitem
            GROUP BY l_suppkey
            HAVING count() > 10
            ORDER BY l_suppkey;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_suppkey, count(*) AS n, round(sum(l_quantity), 2) AS qty "
    "FROM lineitem GROUP BY l_suppkey HAVING count(*) > 10",
)

_register(
    "dtl_global_agg",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT count() AS n_rows,
                   round_to(sum(l_extendedprice), 2) AS total_price,
                   round_to(avg(l_discount), 4) AS avg_disc,
                   min(l_extendedprice) AS min_price,
                   max(l_extendedprice) AS max_price
            FROM lineitem;
        EXPORT output TO 'output';
        """
    ),
    "SELECT count(*) AS n_rows, round(sum(l_extendedprice), 2) AS total_price, "
    "round(avg(l_discount), 4) AS avg_disc, min(l_extendedprice) AS min_price, "
    "max(l_extendedprice) AS max_price FROM lineitem",
)

_register(
    "dtl_order_limit",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        WITH output AS
            SELECT o_orderkey, o_totalprice
            FROM orders
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 25;
        EXPORT output TO 'output';
        """
    ),
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 25",
)

_register(
    "dtl_union",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH supplier AS IMPORT 'supplier';
        WITH cn AS SELECT c_nationkey AS nationkey FROM customer;
        WITH sn AS SELECT s_nationkey AS nationkey FROM supplier;
        WITH output AS cn UNION sn;
        EXPORT output TO 'output';
        """
    ),
    "SELECT c_nationkey AS nationkey FROM customer "
    "UNION SELECT s_nationkey AS nationkey FROM supplier",
)

_register(
    # BUILDING-segment customers who placed a >300k order: non-empty at
    # every SF (34 rows at sf0.001, 295 at sf0.01) with partial overlap
    # on both sides, so the INTERSECT semantics (dedup + membership)
    # actually get exercised.
    "dtl_intersect",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        WITH customer AS IMPORT 'customer';
        WITH big AS SELECT o_custkey AS custkey FROM orders
            WHERE o_totalprice > 300000.0;
        WITH building AS SELECT c_custkey AS custkey FROM customer
            WHERE c_mktsegment = 'BUILDING';
        WITH output AS big INTERSECT building;
        EXPORT output TO 'output';
        """
    ),
    "SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0 "
    "INTERSECT "
    "SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'",
)

_register(
    # Customers who never placed a >300k order: both sides overlap
    # heavily and the difference is non-empty at every test SF (3 rows
    # at sf0.001, 30 at sf0.01), so the hash comparison has content —
    # the previous nationkey EXCEPT was vacuously 0 = 0 rows.
    "dtl_except",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH ck AS SELECT c_custkey AS custkey FROM customer;
        WITH bk AS SELECT o_custkey AS custkey FROM orders
            WHERE o_totalprice > 300000.0;
        WITH output AS ck EXCEPT bk;
        EXPORT output TO 'output';
        """
    ),
    "SELECT c_custkey AS custkey FROM customer "
    "EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0",
)

_register(
    # r18: grew the bytes-literal leg (`sig`) — the last grammar
    # element promoted to a real feature (reference nodes.py:42-44
    # declares the Bytes node; its eval crashes at eval.py:119 and its
    # lexer never emits the token).  The b'..' literal is load-bearing
    # against real data: prepended to encode(lang) and hex'd, so a
    # wrong byte value, a broken escape decode, or TEXT<->BYTES
    # coercion all change the hash.  Spark's hex(binary) and DuckDB's
    # hex(BLOB) are both uppercase — byte-exact cross-engine.
    "dtl_scalar_functions",
    _dtl(
        """
        WITH documents AS IMPORT 'documents';
        WITH output AS
            SELECT doc_id, upper(lang) AS lang_u, length(text) AS len,
                   substr(text, 1, 20) AS head,
                   concat(lang, '-', source) AS tag,
                   hex(concat(b'\\xD7L\\x00~', encode(lang))) AS sig
            FROM documents;
        EXPORT output TO 'output';
        """
    ),
    "SELECT doc_id, upper(lang) AS lang_u, CAST(length(text) AS BIGINT) AS len, "
    "substr(text, 1, 20) AS head, concat(lang, '-', source) AS tag, "
    "hex('\\xD7\\x4C\\x00\\x7E'::BLOB || encode(lang)) AS sig FROM documents",
)

_register(
    "dtl_temporal",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        WITH output AS
            SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m
            FROM orders
            WHERE o_orderdate >= timestamp('1998-01-01 00:00:00')
                & o_orderdate < timestamp('1999-01-01 00:00:00');
        EXPORT output TO 'output';
        """
    ),
    "SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m "
    "FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'",
)

_register(
    "dtl_conditional",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH output AS
            SELECT c_custkey,
                   if(c_acctbal < 0.0, 'negative', 'ok') AS status,
                   coalesce(c_name, 'unknown') AS name
            FROM customer;
        EXPORT output TO 'output';
        """
    ),
    "SELECT c_custkey, CASE WHEN c_acctbal < 0.0 THEN 'negative' ELSE 'ok' END "
    "AS status, coalesce(c_name, 'unknown') AS name FROM customer",
)

_register(
    "dtl_q6_forecast_revenue",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT round_to(sum(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= timestamp('1997-01-01 00:00:00')
                & l_shipdate < timestamp('1998-01-01 00:00:00')
                & l_discount >= 0.05 & l_discount <= 0.07
                & l_quantity < 24.0;
        EXPORT output TO 'output';
        """
    ),
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue "
    "FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
    "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24.0",
    headline=True,
)

_register(
    "dtl_q4_order_priority",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT o_orderpriority, count() AS order_count
            FROM orders
            SEMI JOIN lineitem ON o_orderkey = l_orderkey & l_quantity > 45.0
            WHERE o_orderdate >= timestamp('1997-07-01 00:00:00')
                & o_orderdate < timestamp('1997-10-01 00:00:00')
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority;
        EXPORT output TO 'output';
        """
    ),
    "SELECT o_orderpriority, count(*) AS order_count FROM orders o "
    "WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00' "
    "AND EXISTS (SELECT 1 FROM lineitem l WHERE o.o_orderkey = l.l_orderkey "
    "AND l.l_quantity > 45.0) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
)

_register(
    "dtl_q12_priority_lines",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT l_returnflag,
                   sum(if(o_orderpriority = '1-URGENT'
                          | o_orderpriority = '2-HIGH', 1, 0)) AS high_line_count,
                   sum(if(o_orderpriority = '1-URGENT'
                          | o_orderpriority = '2-HIGH', 0, 1)) AS low_line_count
            FROM orders
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE l_shipdate >= timestamp('1997-01-01 00:00:00')
                & l_shipdate < timestamp('1998-01-01 00:00:00')
            GROUP BY l_returnflag
            ORDER BY l_returnflag;
        EXPORT output TO 'output';
        """
    ),
    "SELECT l_returnflag, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) "
    "AS BIGINT) AS high_line_count, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) "
    "AS BIGINT) AS low_line_count "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' "
    "GROUP BY l_returnflag ORDER BY l_returnflag",
)

_register(
    "dtl_q10_returned_items",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH lineitem AS IMPORT 'lineitem';
        WITH nation AS IMPORT 'nation';
        WITH output AS
            SELECT
                c_custkey, c_name,
                round_to(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
                c_acctbal, n_name
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= timestamp('1997-10-01 00:00:00')
                & o_orderdate < timestamp('1998-01-01 00:00:00')
                & l_returnflag = 'R'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20;
        EXPORT output TO 'output';
        """
    ),
    "SELECT c_custkey, c_name, "
    "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue, "
    "c_acctbal, n_name "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' "
    "AND l_returnflag = 'R' "
    "GROUP BY c_custkey, c_name, c_acctbal, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
)

_approx_distinct_dtl = _dtl(
    """
    WITH lineitem AS IMPORT 'lineitem';
    WITH output AS
        SELECT l_returnflag,
               approx_count_distinct(l_partkey) AS approx_parts,
               count_distinct(l_partkey) AS exact_parts
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag;
    EXPORT output TO 'output';
    """
)


def _q_approx_distinct_parts(spark, sf_dir):
    """HLL++ approx distinct per returnflag THROUGH THE DTL ENGINE
    (§2.4 approx_count_distinct in the function registry).  The
    engine-private HLL++ estimate cannot be hashed, so the exact leg
    hashes directly and the estimate ships as the
    ``_sketch_within_tolerance`` flag (|est−exact| ≤ 15%·exact+2 — 3σ
    of the default rsd=0.05; measured error on these columns ≤ 2.7% at
    sf0.001/0.01/0.1, a >5× margin).  A broken sketch flips the flag
    and reddens the row; ``test_approx_distinct_tolerance_flag_is_not_
    vacuous`` pins that the flag actually can flip."""
    out = _approx_distinct_dtl(spark, sf_dir)
    return out.select(
        "l_returnflag",
        "exact_parts",
        _sketch_within_tolerance(
            F.col("approx_parts"), F.col("exact_parts")
        ).alias("approx_ok"),
    )


_register(
    "dtl_approx_distinct_parts",
    _q_approx_distinct_parts,
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


def _q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verifiable approximate distinct: deterministic KMV sketch
    (``stats.kmv_distinct``) — unlike the HLL++ row above, every step
    is elementary (md5 / k-min / max), so DuckDB replays the estimate
    bit-for-bit and this approximate aggregate gets a full value
    oracle."""
    return stats.kmv_distinct(
        _read(spark, sf_dir, "lineitem"), "l_partkey", ["l_returnflag"], k=256
    ).orderBy("l_returnflag")


_register(
    "lineitem_kmv_distinct",
    _q_kmv_distinct,
    """
    WITH h AS (
        SELECT DISTINCT l_returnflag,
               CAST(concat('0x', substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12))
                    AS BIGINT) AS hv
        FROM lineitem
        WHERE l_partkey IS NOT NULL
    ), r AS (
        SELECT l_returnflag, hv,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
        FROM h
    ), kth AS (
        SELECT l_returnflag, count(*) AS n_kept, max(hv) AS kv
        FROM r WHERE rn <= 256 GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(CASE WHEN n_kept < 256 THEN n_kept
                ELSE floor(CAST(255 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
                           / CAST(kv AS DOUBLE))
                END AS BIGINT) AS approx_distinct
    FROM kth ORDER BY l_returnflag
    """,
    headline=True,
)

_register(
    "dtl_q18_large_orders",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH orders AS IMPORT 'orders';
        WITH customer AS IMPORT 'customer';
        WITH big AS
            SELECT l_orderkey, round_to(sum(l_quantity), 2) AS qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250.0;
        WITH output AS
            SELECT c_name, c_custkey, o_orderkey, o_totalprice, qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 10;
        EXPORT output TO 'output';
        """
    ),
    "WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS qty "
    "FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250.0) "
    "SELECT c_name, c_custkey, o_orderkey, o_totalprice, qty "
    "FROM big JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)

_register(
    # TPC-H q7 volume-shipping shape (adapted constants: synthetic
    # nations are NATION_<k>; no l_shipmode column exists): revenue by
    # (supplier nation, customer nation, ship year) for a nation pair,
    # exercising a 5-way join with two roles of the same dimension
    # table and an OR-of-ANDs predicate.
    "dtl_q7_volume_shipping",
    _dtl(
        """
        WITH supplier AS IMPORT 'supplier';
        WITH lineitem AS IMPORT 'lineitem';
        WITH orders AS IMPORT 'orders';
        WITH customer AS IMPORT 'customer';
        WITH nation AS IMPORT 'nation';
        WITH n1 AS SELECT n_nationkey AS s_nk, n_name AS supp_nation FROM nation;
        WITH n2 AS SELECT n_nationkey AS c_nk, n_name AS cust_nation FROM nation;
        WITH shipping AS
            SELECT supp_nation, cust_nation,
                   year(l_shipdate) AS l_year,
                   round_to(l_extendedprice * (1.0 - l_discount) * 100.0, 0)
                     AS cents
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN n1 ON s_nationkey = s_nk
            JOIN n2 ON c_nationkey = c_nk
            WHERE ((supp_nation = 'NATION_3' & cust_nation = 'NATION_7')
                   | (supp_nation = 'NATION_7' & cust_nation = 'NATION_3'))
                & l_shipdate >= timestamp('1995-01-01 00:00:00')
                & l_shipdate < timestamp('1997-01-01 00:00:00');
        WITH output AS
            SELECT supp_nation, cust_nation, l_year,
                   sum(cents) / 100.0 AS revenue
            FROM shipping
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year;
        EXPORT output TO 'output';
        """
    ),
    # Cent-exact summation (round each row to integer cents before the
    # sum): integer-valued doubles add exactly in any order, so Spark's
    # partial-agg tree and DuckDB's sequential fold cannot diverge in
    # the last cent the way round(sum(double), 2) can.
    """
    WITH shipping AS (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(l_extendedprice * (1.0 - l_discount) * 100.0) AS cents
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
               OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT supp_nation, cust_nation, CAST(l_year AS BIGINT) AS l_year,
           sum(cents) / 100.0 AS revenue
    FROM shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

_register(
    # TPC-H q8 national-market-share shape (adapted: p_type values are
    # single words here; NATION_1 sits in AMERICA): share of one
    # nation's supplier volume within a region/part-type market per
    # order year.  The division happens in a second WITH binding over
    # the two aggregates — DTL expressions never nest arithmetic over
    # aggregate calls.
    "dtl_q8_market_share",
    _dtl(
        """
        WITH part AS IMPORT 'part';
        WITH supplier AS IMPORT 'supplier';
        WITH lineitem AS IMPORT 'lineitem';
        WITH orders AS IMPORT 'orders';
        WITH customer AS IMPORT 'customer';
        WITH nation AS IMPORT 'nation';
        WITH region AS IMPORT 'region';
        WITH n1 AS SELECT n_nationkey AS c_nk, n_regionkey AS c_rk FROM nation;
        WITH n2 AS SELECT n_nationkey AS s_nk, n_name AS supp_nation FROM nation;
        WITH all_nations AS
            SELECT year(o_orderdate) AS o_year,
                   l_extendedprice * (1.0 - l_discount) AS volume,
                   supp_nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN n1 ON c_nationkey = c_nk
            JOIN region ON c_rk = r_regionkey
            JOIN n2 ON s_nationkey = s_nk
            WHERE r_name = 'AMERICA'
                & p_type = 'ECONOMY'
                & o_orderdate >= timestamp('1996-01-01 00:00:00')
                & o_orderdate < timestamp('1998-01-01 00:00:00');
        WITH sums AS
            SELECT o_year,
                   sum(if(supp_nation = 'NATION_1', volume, 0.0)) AS nation_volume,
                   sum(volume) AS total_volume
            FROM all_nations
            GROUP BY o_year;
        WITH output AS
            SELECT o_year, round_to(nation_volume / total_volume, 4) AS mkt_share
            FROM sums
            ORDER BY o_year;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH all_nations AS (
        SELECT year(o_orderdate) AS o_year,
               l_extendedprice * (1.0 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ), sums AS (
        SELECT o_year,
               sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0.0 END)
                 AS nation_volume,
               sum(volume) AS total_volume
        FROM all_nations GROUP BY o_year
    )
    SELECT CAST(o_year AS BIGINT) AS o_year,
           round(nation_volume / total_volume, 4) AS mkt_share
    FROM sums ORDER BY o_year
    """,
)

_register(
    # TPC-H q9 product-type-profit shape (adapted: no partsupp table
    # exists, so profit = revenue without the supplycost term; part
    # names here are '<adj> <noun>' — 'widget' plays q9's '%green%'):
    # nation × order-year revenue for a part-name substring, via a
    # 5-way join with contains() and a two-key rollup.
    "dtl_q9_product_profit",
    _dtl(
        """
        WITH part AS IMPORT 'part';
        WITH lineitem AS IMPORT 'lineitem';
        WITH supplier AS IMPORT 'supplier';
        WITH orders AS IMPORT 'orders';
        WITH nation AS IMPORT 'nation';
        WITH profit AS
            SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   round_to(l_extendedprice * (1.0 - l_discount) * 100.0, 0)
                     AS cents
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE contains(p_name, 'widget');
        WITH sums AS
            SELECT nation, o_year, sum(cents) AS cents_sum
            FROM profit
            GROUP BY nation, o_year;
        WITH output AS
            SELECT nation, o_year, cents_sum / 100.0 AS sum_profit
            FROM sums
            ORDER BY nation, o_year DESC;
        EXPORT output TO 'output';
        """
    ),
    # Per-row cent rounding before the sum: integer-valued doubles sum
    # exactly in any order, so the grouped aggregate cannot pick up the
    # half-cent summation-order flake that round(sum(double), 2) has
    # (partial-agg order in Spark vs sequential in DuckDB).
    """
    WITH profit AS (
        SELECT n_name AS nation, year(o_orderdate) AS o_year,
               round(l_extendedprice * (1.0 - l_discount) * 100.0) AS cents
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE contains(p_name, 'widget')
    ), sums AS (
        SELECT nation, o_year, sum(cents) AS cents_sum
        FROM profit GROUP BY nation, o_year
    )
    SELECT nation, CAST(o_year AS BIGINT) AS o_year,
           cents_sum / 100.0 AS sum_profit
    FROM sums ORDER BY nation, o_year DESC
    """,
)

_register(
    # TPC-H q13 customer-distribution shape: orders per customer via
    # LEFT JOIN (count(col) skips nulls), then the distribution of
    # those counts — a two-level aggregation chain.
    "dtl_q13_customer_distribution",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH c_orders AS
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey;
        WITH output AS
            SELECT c_count, count() AS custdist
            FROM c_orders
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH c_orders AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

_register(
    # TPC-H q14 promo-revenue shape: conditional aggregation
    # (if/starts_with) with the percentage computed over the two sums
    # in a follow-up binding.
    "dtl_q14_promo_revenue",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH part AS IMPORT 'part';
        WITH flagged AS
            SELECT if(starts_with(p_type, 'PROMO'),
                      round_to(l_extendedprice * (1.0 - l_discount) * 100.0, 0),
                      0.0) AS promo_cents,
                   round_to(l_extendedprice * (1.0 - l_discount) * 100.0, 0)
                     AS volume_cents
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= timestamp('1997-09-01 00:00:00')
                & l_shipdate < timestamp('1997-10-01 00:00:00');
        WITH sums AS
            SELECT sum(promo_cents) AS promo_sum, sum(volume_cents) AS total
            FROM flagged;
        WITH output AS
            SELECT 100.0 * promo_sum / total AS promo_revenue
            FROM sums;
        EXPORT output TO 'output';
        """
    ),
    # Cent-exact per-row rounding before the sums: integer-valued
    # doubles add exactly in any aggregation order, and the final
    # percentage is then a quotient of identical integers in both
    # engines — no round-of-quotient, no summation-order flake.
    """
    WITH flagged AS (
        SELECT CASE WHEN starts_with(p_type, 'PROMO')
                    THEN round(l_extendedprice * (1.0 - l_discount) * 100.0)
                    ELSE 0.0 END AS promo_cents,
               round(l_extendedprice * (1.0 - l_discount) * 100.0)
                 AS volume_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    ), sums AS (
        SELECT sum(promo_cents) AS promo_sum, sum(volume_cents) AS total
        FROM flagged
    )
    SELECT 100.0 * promo_sum / total AS promo_revenue FROM sums
    """,
)

_register(
    # TPC-H q15 top-supplier shape: quarterly revenue per supplier,
    # global max via a single-row WITH binding, and an equi-join on the
    # aggregate value to select the winner(s).
    "dtl_q15_top_supplier",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH supplier AS IMPORT 'supplier';
        WITH lines AS
            SELECT l_suppkey,
                   round_to(l_extendedprice * (1.0 - l_discount) * 100.0, 0)
                     AS cents
            FROM lineitem
            WHERE l_shipdate >= timestamp('1997-01-01 00:00:00')
                & l_shipdate < timestamp('1997-04-01 00:00:00');
        WITH revenue AS
            SELECT l_suppkey AS supplier_no, sum(cents) / 100.0 AS total_revenue
            FROM lines
            GROUP BY l_suppkey;
        WITH mx AS SELECT max(total_revenue) AS max_revenue FROM revenue;
        WITH output AS
            SELECT s_suppkey, s_name, total_revenue
            FROM supplier
            JOIN revenue ON s_suppkey = supplier_no
            JOIN mx ON total_revenue = max_revenue
            ORDER BY s_suppkey;
        EXPORT output TO 'output';
        """
    ),
    # The winner is selected by equality on total_revenue, so the value
    # must be identical in both engines: per-row cent rounding before
    # the sum makes it an exact integer in any aggregation order
    # (round(sum(double), 2) can differ in the last cent between
    # Spark's partial-agg order and DuckDB's sequential sum, which
    # would crown a different supplier).
    """
    WITH lines AS (
        SELECT l_suppkey,
               round(l_extendedprice * (1.0 - l_discount) * 100.0) AS cents
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    ), revenue AS (
        SELECT l_suppkey AS supplier_no, sum(cents) / 100.0 AS total_revenue
        FROM lines GROUP BY l_suppkey
    ), mx AS (SELECT max(total_revenue) AS max_revenue FROM revenue)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    JOIN mx ON total_revenue = max_revenue
    ORDER BY s_suppkey
    """,
)

_register(
    # TPC-H q17 small-quantity-order shape (adapted: p_container does
    # not exist; the brand filter alone selects the part group): the
    # classic correlated-average rewritten as an aggregate WITH binding
    # joined back on the part key.
    "dtl_q17_small_quantity",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH part AS IMPORT 'part';
        WITH brand_parts AS
            SELECT p_partkey FROM part WHERE p_brand = 'Brand#13';
        WITH avgq AS
            SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
            FROM lineitem
            GROUP BY l_partkey;
        WITH small AS
            SELECT round_to(l_extendedprice * 100.0, 0) AS cents
            FROM lineitem
            JOIN brand_parts ON l_partkey = p_partkey
            JOIN avgq ON l_partkey = a_partkey
            WHERE l_quantity < 0.2 * avg_qty;
        WITH output AS
            SELECT sum(cents) / 100.0 AS total_price,
                   count() AS n_lines
            FROM small;
        EXPORT output TO 'output';
        """
    ),
    # Cent-exact summation — same rationale as the q7/q15 oracles:
    # integer cents add exactly in any aggregation order.
    """
    WITH brand_parts AS (
        SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'
    ), avgq AS (
        SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    ), small AS (
        SELECT round(l_extendedprice * 100.0) AS cents
        FROM lineitem
        JOIN brand_parts ON l_partkey = p_partkey
        JOIN avgq ON l_partkey = a_partkey
        WHERE l_quantity < 0.2 * avg_qty
    )
    SELECT sum(cents) / 100.0 AS total_price,
           count(*) AS n_lines
    FROM small
    """,
)

_register(
    "dtl_distinct_consecutive",
    _dtl_ordered(
        """
        WITH orders AS IMPORT 'orders';
        WITH s AS SELECT o_custkey, o_orderkey FROM orders ORDER BY o_orderkey;
        WITH output AS SELECT DISTINCT CONSECUTIVE o_custkey FROM s;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH s AS (
        SELECT o_custkey,
               lag(o_custkey) OVER (ORDER BY o_orderkey) AS prev
        FROM orders
    )
    SELECT o_custkey FROM s WHERE prev IS NULL OR prev <> o_custkey
    """,
)

_register(
    "dtl_group_consecutive",
    _dtl_ordered(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH s AS
            SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber;
        WITH output AS
            SELECT l_returnflag, count() AS n, round_to(sum(l_quantity), 2) AS qty
            FROM s
            GROUP CONSECUTIVE BY l_returnflag;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH s AS (
        SELECT l_returnflag, l_quantity,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem
    ), m AS (
        SELECT *, CASE WHEN lag(l_returnflag) OVER (ORDER BY rn)
                        IS DISTINCT FROM l_returnflag THEN 1 ELSE 0 END AS brk
        FROM s
    ), i AS (
        SELECT *, sum(brk) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS island
        FROM m
    )
    SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM i GROUP BY island, l_returnflag
    """,
)

_register(
    "dtl_update_where",
    _dtl(
        """
        WITH part AS IMPORT 'part';
        UPDATE part SET p_retailprice = p_retailprice * 1.1
            WHERE int64(p_size) >= 30;
        WITH output AS SELECT p_partkey, p_size, p_retailprice FROM part;
        EXPORT output TO 'output';
        """
    ),
    # UPDATE is copy-on-write (reference reserves the keyword with an
    # empty stub node, nodes.py:332-334): the post-state is exactly a
    # CASE WHEN projection, which is also how DuckDB replays it.
    "SELECT p_partkey, p_size, "
    "CASE WHEN p_size >= 30 THEN p_retailprice * 1.1 ELSE p_retailprice END "
    "AS p_retailprice FROM part",
    headline=True,
)

_register(
    "dtl_delete_where",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        DELETE FROM orders WHERE o_orderstatus = 'O';
        WITH output AS
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders;
        EXPORT output TO 'output';
        """
    ),
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
    "WHERE o_orderstatus IS NULL OR o_orderstatus <> 'O'",
)

_register(
    "dtl_insert_select",
    _dtl(
        """
        WITH nation AS IMPORT 'nation';
        INSERT INTO nation
            SELECT int32(int64(n_nationkey) + 100) AS n_nationkey,
                   n_name, n_regionkey
            FROM nation WHERE int64(n_regionkey) = 1;
        WITH output AS SELECT n_nationkey, n_name, n_regionkey FROM nation;
        EXPORT output TO 'output';
        """
    ),
    "SELECT n_nationkey, n_name, n_regionkey FROM nation "
    "UNION ALL "
    "SELECT CAST(n_nationkey + 100 AS INTEGER) AS n_nationkey, n_name, "
    "n_regionkey FROM nation WHERE n_regionkey = 1",
)

_register(
    "dtl_transaction_rollback",
    _dtl(
        """
        WITH orders AS IMPORT 'orders';
        BEGIN 'speculative cleanup, then abandon it';
        DELETE FROM orders;
        UPDATE orders SET o_totalprice = 0.0;
        ROLLBACK;
        WITH output AS
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice > 100000.0;
        EXPORT output TO 'output';
        """
    ),
    # ROLLBACK restores the binding snapshot: the mutations inside the
    # block must leave no trace in the result.
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000.0",
)

# ---------------------------------------------------------------------------
# Group B — training-data pipeline extensions (M6)
# ---------------------------------------------------------------------------

_TOKS_SQL = (
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
)


def _q_token_count(spark, sf_dir):
    return text.token_count(_read(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )


_register(
    "doc_token_count",
    _q_token_count,
    f"SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents",
    headline=True,
)


def _q_quality(spark, sf_dir):
    return text.quality_features(_read(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_words",
        "n_punct",
        "n_stopwords",
        "mean_word_len",
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


_STOPS_SQL = "['" + "', '".join(text.STOPWORDS_EN) + "']"


def _quality_sql_ctes(passthrough: str = "") -> str:
    """Shared CTE fragment (`base`, `ratios`) replaying
    ``text.quality_features`` — the ONE place the quality-score inputs
    are spelled in SQL; doc_quality_score, pipeline_clean_corpus and
    doc_weighted_sample all compose it so the three oracles cannot
    silently diverge from each other when the formula changes.
    ``passthrough`` threads extra source columns (e.g. ``text``)."""
    pt = (", " + passthrough) if passthrough else ""
    return f"""base AS (
        SELECT doc_id{pt},
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_words,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
               CAST(len(list_filter({_TOKS_SQL}, t -> list_contains({_STOPS_SQL}, lower(t)))) AS BIGINT) AS n_stopwords,
               CAST(coalesce(list_sum(list_transform({_TOKS_SQL}, t -> length(t))), 0) AS BIGINT) AS sum_wlen
        FROM documents
    ), ratios AS (
        SELECT doc_id{pt}, n_chars, n_words, n_punct, n_stopwords,
               CASE WHEN n_words > 0 THEN sum_wlen / n_words ELSE 0.0 END AS mean_word_len,
               CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio,
               CASE WHEN n_words > 0 THEN n_stopwords / n_words ELSE 0.0 END AS stopword_ratio
        FROM base
    )"""


_QUALITY_SCORE_EXPR = (
    "least(n_words / 100.0, 1.0) * 0.4"
    " + least(stopword_ratio * 5.0, 1.0) * 0.4"
    " + (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2"
)

_register(
    "doc_quality_score",
    _q_quality,
    f"""
    WITH {_quality_sql_ctes()}
    SELECT doc_id, n_words, n_punct, n_stopwords, mean_word_len, punct_ratio,
           stopword_ratio,
           {_QUALITY_SCORE_EXPR} AS quality_score
    FROM ratios
    """,
    headline=True,
)


def _q_lang_id(spark, sf_dir):
    return text.lang_id(_read(spark, sf_dir, "documents")).select("doc_id", "pred_lang")


def _lang_oracle() -> str:
    score_cols = []
    for lang in sorted(text.LANG_MARKERS):
        markers = "['" + "', '".join(text.LANG_MARKERS[lang]) + "']"
        score_cols.append(
            f"CAST(len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)), "
            f"t -> list_contains({markers}, t))) AS BIGINT) AS s_{lang}"
        )
    langs = sorted(text.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' "
    for lang in langs:
        case += f"WHEN s_{lang} = {best} THEN '{lang}' "
    case += "END"
    return (
        "WITH s AS (SELECT doc_id, "
        + ", ".join(score_cols)
        + " FROM documents) SELECT doc_id, "
        + case
        + " AS pred_lang FROM s"
    )


_register("doc_lang_id", _q_lang_id, _lang_oracle(), headline=True)


def _q_top_tokens(spark, sf_dir):
    """Corpus vocabulary: top-100 tokens by document frequency —
    explode + count + orderBy/limit (map-side combine, one shuffle)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(text.tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(100)
    )


_register(
    "doc_top_tokens",
    _q_top_tokens,
    f"""
    SELECT token, count(*) AS freq
    FROM (SELECT unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS token
          FROM documents)
    GROUP BY token ORDER BY freq DESC, token LIMIT 100
    """,
)


def _q_chunks(spark, sf_dir):
    """Context-window chunking: fixed-size character chunks with
    overlap, one output row per chunk (sequence + posexplode +
    substring, all codegen).  Compared by (start, length, md5) so the
    oracle result stays compact."""
    chunks = text.chunk_documents(
        _read(spark, sf_dir, "documents"), chunk_size=400, overlap=50
    )
    return chunks.select(
        "doc_id",
        "chunk_index",
        "chunk_start",
        F.length("chunk_text").cast("long").alias("chunk_len"),
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_md5"),
    )


_register(
    "doc_chunks",
    _q_chunks,
    """
    WITH starts AS (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - 50, 1) + 1, 350))
                 AS chunk_start
        FROM documents
    )
    SELECT doc_id,
           CAST((chunk_start - 1) // 350 AS BIGINT) AS chunk_index,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(length(substr(text, CAST(chunk_start AS INTEGER), 400)) AS BIGINT)
             AS chunk_len,
           md5(substr(text, CAST(chunk_start AS INTEGER), 400)) AS chunk_md5
    FROM starts
    """,
    headline=True,
)


def _q_tfidf(spark, sf_dir):
    """Top-5 characteristic terms per document by TF-IDF.  The rank is
    compared rather than the score: both engines order by the same
    doubles computed from identical integer inputs, but libm vs JVM
    log differ by ulps, so the score itself is not hash-stable.
    Residual risk, accepted: two DISTINCT (tf, df) pairs whose scores
    agree to ~1 ulp could rank differently across engines; on the
    fixed test fixture the comparison is deterministic, and equal
    (tf, df) ties are safe (identical doubles, term tiebreak)."""
    return text.tfidf_top_terms(
        _read(spark, sf_dir, "documents"), k=5
    ).select("doc_id", "term", "rank")


_register(
    "doc_tfidf_top_terms",
    _q_tfidf,
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT count(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.term,
               tf * ln((n_docs + 1) / (df + 1.0)) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ), ranked AS (
        SELECT doc_id, term,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rank
        FROM scored
    )
    SELECT doc_id, term, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
    headline=True,
)


def _q_pack(spark, sf_dir):
    """Concat-and-chunk sequence packing: documents assigned to
    fixed-budget training sequences within md5 hash groups — pure
    window arithmetic, replayed exactly by the oracle."""
    docs = text.token_count(_read(spark, sf_dir, "documents"))
    return text.pack_token_budget(docs, budget=512, num_groups=8)


_register(
    "doc_pack_sequences",
    _q_pack,
    f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                 AS pack_group
        FROM documents
    ), c AS (
        SELECT doc_id, pack_group, n_tokens,
               sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS s
        FROM t
    )
    SELECT doc_id, pack_group,
           CAST(s // 512 AS BIGINT) AS seq_index,
           CAST(s % 512 AS BIGINT) AS seq_offset
    FROM c
    """,
)


def _q_fingerprint(spark, sf_dir):
    return text.fingerprint_md5(_read(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


_register(
    "doc_fingerprint_md5",
    _q_fingerprint,
    "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) "
    "AS fingerprint FROM documents",
)


def _q_rolling_fp(spark, sf_dir):
    return text.rolling_fingerprint(_read(spark, sf_dir, "documents")).select(
        "doc_id", "rolling_fp"
    )


_register(
    "doc_rolling_fingerprint",
    _q_rolling_fp,
    # same fold, replayed with list_reduce: prepending the 0 seed makes
    # DuckDB's first-element-as-accumulator semantics match Spark's
    # explicit zero-seeded aggregate()
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ), hashed AS (
        SELECT doc_id,
               list_prepend(CAST(0 AS BIGINT), list_transform(tk,
                   t -> CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT)
                        % 2147483647)) AS hs
        FROM toks
    )
    SELECT doc_id,
           CAST(list_reduce(hs, (a, x) -> (a * 31 + x) % 2147483647)
                AS BIGINT) AS rolling_fp
    FROM hashed
    """,
)


def _q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_canonical(
        _read(spark, sf_dir, "documents"), "doc_id", ["text"]
    ).select("doc_id", "text")


_register(
    "dedup_exact",
    _q_dedup_exact,
    "SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text FROM documents GROUP BY text",
    headline=True,
)


def _q_dedup_exact_lineage(spark, sf_dir):
    """Provenance for exact dedup: every input row maps to its content
    group's canonical (min-key) survivor — identity row = survivor;
    the ManyToOne Where/Pick mapping shape extended from the DTL trace
    subsystem (same pattern as doc_dedup_paragraphs_lineage).  One
    null-safe content-keyed equi-join against the one-row-per-group
    canonical table."""
    docs = _read(spark, sf_dir, "documents")
    _, mapping = dedup.exact_dedup_canonical(
        docs, "doc_id", ["text"], with_lineage=True
    )
    return mapping.select("src_doc_id", "kept_doc_id")


_register(
    "dedup_exact_lineage",
    _q_dedup_exact_lineage,
    """
    SELECT d.doc_id AS src_doc_id,
           CAST(k.kept AS BIGINT) AS kept_doc_id
    FROM documents d
    JOIN (SELECT text, min(doc_id) AS kept FROM documents GROUP BY text) k
      ON d.text IS NOT DISTINCT FROM k.text
    """,
)


def _q_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), n=3, threshold=0.3
    )


_register(
    "dedup_ngram_jaccard",
    _q_jaccard,
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(s) AS f FROM sh
    ), sz AS (
        SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM sh
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(common AS BIGINT) AS common,
           sa.sz AS size_a, sb.sz AS size_b,
           common / (sa.sz + sb.sz - common) AS jaccard
    FROM common
    JOIN sz sa ON common.id_a = sa.doc_id
    JOIN sz sb ON common.id_b = sb.doc_id
    WHERE common / (sa.sz + sb.sz - common) >= 0.3
    """,
    # not headline: exact all-pairs is the correctness reference; the
    # LSH path below is the at-scale variant benchmarked
)


def _q_contamination(spark, sf_dir):
    """Train/test decontamination over the hash-deterministic split:
    test documents sharing >= 5 distinct 3-gram shingles with a train
    document.  The exact pre-training hygiene sweep, composed from
    hash_split + the inverted-index overlap operator."""
    docs = _read(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="s1"
    )
    # single-pass variant: the corpus is tokenized + shingled once and
    # the train/test sides are filters of that one explode
    return dedup.contamination_pairs_from_split(split, n=3, min_common=5)


_CONTAM_B = sampling.hash_bucket_sql("doc_id", seed="s1")

_register(
    "decontaminate_train_test",
    _q_contamination,
    f"""
    WITH split AS (
        SELECT doc_id, text,
               CASE WHEN doc_id IS NULL THEN NULL
                    WHEN {_CONTAM_B} < 8000 THEN 'train'
                    WHEN {_CONTAM_B} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), toks AS (
        SELECT doc_id, split,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS t
        FROM split
    ), sh AS (
        SELECT doc_id, split,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), t_ex AS (
        SELECT doc_id AS train_id, unnest(s) AS f FROM sh WHERE split = 'train'
    ), e_ex AS (
        SELECT doc_id AS eval_id, unnest(s) AS f FROM sh WHERE split = 'test'
    ), e_sz AS (
        SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT) AS eval_size
        FROM sh WHERE split = 'test'
    ), common AS (
        SELECT train_id, eval_id, count(*) AS common
        FROM t_ex JOIN e_ex USING (f)
        GROUP BY train_id, eval_id
        HAVING count(*) >= 5
    )
    SELECT train_id, eval_id, CAST(common AS BIGINT) AS common,
           eval_size, common / eval_size AS overlap
    FROM common JOIN e_sz USING (eval_id)
    """,
    headline=True,
)


def _q_minhash(spark, sf_dir):
    # 32 hashes / 16 bands (r=2): at the 0.3 threshold this has HIGHER
    # band-collision recall than 64/16 (r=4) and half the hash compute;
    # the exact-Jaccard verification stage makes precision identical.
    # Measured: same 256 pairs as 64/16 at sf0.1, ~3x faster.
    return dedup.minhash_lsh_pairs(
        _read(spark, sf_dir, "documents"), n=3, num_hashes=32, bands=16, threshold=0.3
    )


# Full-hash oracle despite the LSH candidate stage: the verified output
# is exact Jaccard >= 0.3 restricted to LSH candidates — a SUBSET of
# the exact all-pairs set — and on this (fixed xxhash64 seeds, fixed
# data) fixture the candidate recall is exactly 1 at every test SF
# (28 = 28 pairs at sf0.001, 25 = 25 at sf0.01, 256/256 at sf0.1 per
# the property test), so subset + equal count => identical sets and
# the exact-Jaccard SQL is a sound oracle.  The jaccard value itself
# is a single division of exact integers — bit-identical.
_register(
    "dedup_minhash_lsh",
    _q_minhash,
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(s) AS f FROM sh
    ), sz AS (
        SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM sh
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, common / (sa.sz + sb.sz - common) AS jaccard
    FROM common
    JOIN sz sa ON common.id_a = sa.doc_id
    JOIN sz sb ON common.id_b = sb.doc_id
    WHERE common / (sa.sz + sb.sz - common) >= 0.3
    """,
    headline=True,
)


def _q_crawl_delta(spark, sf_dir):
    """Incremental crawl-vs-corpus near-dup (registered r16, verdict
    item 4): the NEW-crawl delta probes the existing corpus's MinHash
    LSH index asymmetrically — only the crawl (and the Bloom-
    prefiltered index remnant) ever shuffles; corpus text is
    re-shingled only for candidate verification.  Fixture: the crawl
    is the ``doc_id % 5 == 0`` fifth of documents re-keyed at
    ``+300000`` with text UNCHANGED — every crawl doc is an exact copy
    of its source (jaccard 1.0, identical signature ⇒ guaranteed band
    collision), and every other reported pair is a cross-side
    restriction of the all-pairs jaccard ≥ 0.3 set whose LSH recall
    is exactly 1 on this fixed-seed fixture at every driver scale
    (the same subset + equal-count soundness argument as
    dedup_minhash_lsh, cross-side: a (crawl, corpus) pair's band
    collisions are those of the underlying (source, corpus) pair in
    the self-join fixture, because re-keying changes no shingle and
    hence no signature)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    crawl = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 300000).alias("doc_id"), "text"
    )
    return dedup.crawl_delta_pairs(
        docs, crawl, n=3, num_hashes=32, bands=16, threshold=0.3
    )


_register(
    "pipeline_crawl_delta",
    _q_crawl_delta,
    """
    WITH crawl AS (
        SELECT doc_id + 300000 AS doc_id, text
        FROM documents WHERE doc_id % 5 = 0
    ), ctoks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS t
        FROM documents
    ), etoks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS t
        FROM crawl
    ), csh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM ctoks
    ), esh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM etoks
    ), cex AS (
        SELECT doc_id, unnest(s) AS f FROM csh
    ), eex AS (
        SELECT doc_id, unnest(s) AS f FROM esh
    ), csz AS (
        SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM csh
    ), esz AS (
        SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM esh
    ), common AS (
        SELECT e.doc_id AS crawl_id, c.doc_id AS corpus_id, count(*) AS common
        FROM eex e JOIN cex c USING (f)
        GROUP BY 1, 2
    )
    SELECT crawl_id, corpus_id,
           common / (ea.sz + ca.sz - common) AS jaccard
    FROM common
    JOIN esz ea ON common.crawl_id = ea.doc_id
    JOIN csz ca ON common.corpus_id = ca.doc_id
    WHERE common / (ea.sz + ca.sz - common) >= 0.3
    """,
    headline=True,
)


def _uniquified_docs(spark, sf_dir):
    """``documents`` with every token prefixed by its ``doc_id``.

    Planted-fixture substrate for the hash-based near-dup operators
    (simhash / minhash-LSH), whose signatures (xxhash64) no SQL engine
    can replay: prefixing makes the token sets of distinct docs
    DISJOINT, so distinct docs share no shingle and their signatures
    are independent hashes — cross-doc band/block collisions are
    2^-64-scale events, absent on the fixed test data (asserted by
    ``tests/test_catalog.py``).  Exact copies keep the original
    prefix, so copy↔source stay identical-signature: the operator's
    output is then provably exactly the planted structure, which IS
    SQL-expressible.  Whitespace-only docs are excluded: their shingle
    set degenerates to {""} for every such doc, which would link them.
    """
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.filter(F.trim("text") != "").select(
        "doc_id",
        F.array_join(
            F.transform(
                text.tokens(F.lower(F.col("text"))),
                lambda t: F.concat(F.col("doc_id").cast("string"), F.lit("_"), t),
            ),
            " ",
        ).alias("text"),
    )


def _plant_copies(uniq):
    """Union exact copies at ``+100000`` (doc_id % 3 == 0) and
    ``+200000`` (doc_id % 6 == 0): mixed cluster sizes 1 / 2 / 3."""
    return uniq.unionByName(
        uniq.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    ).unionByName(
        uniq.filter(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )


_PLANT_DOCS_GUARD = "trim(text) <> ''"


def _q_simhash(spark, sf_dir):
    # Planted fixture (see _uniquified_docs): exact copies are Hamming 0
    # and pigeonhole blocking recalls radius<=max_hamming pairs with
    # probability 1, so the output is exactly the planted pairs — the
    # simhash values themselves (xxhash64 votes) are not SQL-replayable,
    # making this the strongest oracle the operator admits.  Natural
    # near-dup behavior is covered by the brute-force property test in
    # tests/test_dedup.py.
    aug = _plant_copies(_uniquified_docs(spark, sf_dir))
    return dedup.simhash_near_pairs(aug, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


_register(
    "dedup_simhash",
    _q_simhash,
    f"""
    WITH base AS (SELECT doc_id FROM documents WHERE {_PLANT_DOCS_GUARD})
    SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
    FROM base WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, doc_id + 200000, CAST(0 AS BIGINT)
    FROM base WHERE doc_id % 6 = 0
    UNION ALL
    SELECT doc_id + 100000, doc_id + 200000, CAST(0 AS BIGINT)
    FROM base WHERE doc_id % 6 = 0
    """,
)


def _q_lsh_dedup_keep(spark, sf_dir):
    # Planted fixture: disjoint token sets make cross-doc bucket
    # collisions vanish (see _uniquified_docs), exact copies share ALL
    # bands with their source, so the bucket graph's components are
    # exactly the planted clusters {i}, {i, i+100000} or
    # {i, i+100000, i+200000} and min-label propagation must converge
    # to cluster_id = i with keep only on the base doc.  Unlike the
    # previous rows-only fixture, the full (doc_id, cluster_id, keep)
    # assignment is value-checked, duplicates included.
    aug = _plant_copies(_uniquified_docs(spark, sf_dir))
    return dedup.lsh_dedup_keep(aug)


_register(
    "dedup_lsh_keep",
    _q_lsh_dedup_keep,
    f"""
    WITH base AS (SELECT doc_id FROM documents WHERE {_PLANT_DOCS_GUARD})
    SELECT doc_id, doc_id AS cluster_id, TRUE AS keep FROM base
    UNION ALL
    SELECT doc_id + 100000, doc_id, FALSE FROM base WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 200000, doc_id, FALSE FROM base WHERE doc_id % 6 = 0
    """,
)


def _q_minhash_lineage(spark, sf_dir):
    """Provenance for the near-dup flagship (r11 verdict ask #4): every
    input doc maps to its cluster's surviving minimum id — "why was
    this document dropped".  The mapping is a zero-cost projection of
    the converged min-label state (cluster_id IS the survivor), the
    same ManyToOne Where/Pick shape as dedup_exact_lineage, bridged to
    the DTL trace subsystem by record_pipeline_step (walk-tested in
    tests/test_lineage.py).  Planted fixture: disjoint token sets kill
    cross-doc bucket collisions, so components are exactly the planted
    {i} / {i, i+100000} / {i, i+100000, i+200000} clusters and the
    oracle enumerates the full mapping."""
    aug = _plant_copies(_uniquified_docs(spark, sf_dir))
    _, mapping = dedup.lsh_dedup_keep(aug, with_lineage=True)
    return mapping.select("src_doc_id", "kept_doc_id")


_register(
    "dedup_minhash_lineage",
    _q_minhash_lineage,
    f"""
    WITH base AS (SELECT doc_id FROM documents WHERE {_PLANT_DOCS_GUARD})
    SELECT doc_id AS src_doc_id, doc_id AS kept_doc_id FROM base
    UNION ALL
    SELECT doc_id + 100000, doc_id FROM base WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 200000, doc_id FROM base WHERE doc_id % 6 = 0
    """,
)


def _q_embed_near_dup(spark, sf_dir):
    # The synthetic embeddings have no natural near-duplicates (max
    # pairwise cosine ~0.51 at sf0.01), so an honest high threshold
    # finds nothing and verifies nothing.  Plant known duplicates:
    # union the corpus with an exact copy at vec_id+100000.  Identical
    # vectors hash to identical LSH signatures, so candidate recall on
    # the planted pairs is exactly 1 and the output — one (i, i+100000)
    # pair per corpus row — is deterministic and hash-checkable against
    # an exact-cosine SQL oracle.
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = base.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
    )
    return dedup.embedding_near_dup_pairs(
        base.unionByName(planted), threshold=0.95, dim=64
    ).select("id_a", "id_b")


_register(
    "dedup_embedding_cosine",
    _q_embed_near_dup,
    """
    WITH aug AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.95
    """,
)


def _q_semdedup(spark, sf_dir):
    """SemDedup (Abbas et al. 2023) as one verb (``dedup.semdedup``):
    sampled-KMeans clusters -> within-cluster exact cosine pairs ->
    keep-one connected components.  Planted fixture: every 5th
    embedding is copied at vec_id+100000; exact copies get identical
    KMeans assignments (bit-identical distance computations), and the
    corpus's natural max pairwise cosine is ~0.51 — far under the 0.9
    threshold — so no true pair can straddle clusters and the
    clustering-independent all-pairs oracle replays the output
    exactly, keep flags included."""
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = base.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
    )
    # n_centroids intentionally omitted: exercises the corpus-derived
    # default (corpus_size / target_cluster_size — the SCALING.md
    # sizing rule), which the clustering-independent oracle replays
    # regardless of granularity
    return dedup.semdedup(
        base.unionByName(planted), threshold=0.9, seed=13
    ).orderBy("vec_id")


_register(
    "dedup_semdedup",
    _q_semdedup,
    """
    WITH RECURSIVE aug AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, CAST(embedding AS DOUBLE[])
        FROM embeddings WHERE vec_id % 5 = 0
    ), pr AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.9
    ), edges AS (
        SELECT ia AS a, ib AS b FROM pr
        UNION ALL
        SELECT ib, ia FROM pr
    ), reach(a, b) AS (
        SELECT vec_id, vec_id FROM aug
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS (
        SELECT a AS vec_id, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT vec_id, cluster_id, vec_id = cluster_id AS keep
    FROM labels ORDER BY vec_id
    """,
    headline=True,
)


def _q_embed_normalize(spark, sf_dir):
    """L2 normalization summary: the norm and the largest unit-vector
    component per embedding — raw doubles, no rounding: Spark's
    sequential fold and DuckDB's list_sum are bit-identical (measured
    on this data)."""
    out = embeddings_ops.l2_normalize(_read(spark, sf_dir, "embeddings"))
    return out.select(
        "vec_id",
        "l2_norm",
        F.array_max("embedding_unit").alias("max_unit"),
    )


_register(
    "embed_l2_normalize",
    _q_embed_normalize,
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), n AS (
        SELECT vec_id, e,
               sqrt(list_sum(list_transform(e, x -> x * x))) AS l2_norm
        FROM v
    )
    SELECT vec_id, l2_norm,
           list_max(list_transform(e, x -> x / l2_norm)) AS max_unit
    FROM n
    """,
)


def _q_embed_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization summary: scale plus
    integer stats of the quantized vector (L1 mass, min, max) — the
    integer outputs are hash-exact across engines."""
    out = embeddings_ops.quantize_int8(_read(spark, sf_dir, "embeddings"))
    q_abs = F.transform("embedding_q8", lambda x: F.abs(x).cast("long"))
    return out.select(
        "vec_id",
        "q_scale",
        F.aggregate(q_abs, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_l1"),
        F.array_min("embedding_q8").cast("long").alias("q_min"),
        F.array_max("embedding_q8").cast("long").alias("q_max"),
    )


_register(
    "embed_quantize_int8",
    _q_embed_quantize,
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), s AS (
        SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m
        FROM v
    ), q AS (
        SELECT vec_id, m / 127.0 AS q_scale,
               list_transform(e, x -> CAST(round(x * 127.0 / m) AS BIGINT)) AS qv
        FROM s
    )
    SELECT vec_id, q_scale,
           CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS q_l1,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           CAST(list_max(qv) AS BIGINT) AS q_max
    FROM q
    """,
    headline=True,
)


def _q_random_projection(spark, sf_dir):
    """Seeded Rademacher JL projection (``embeddings.random_projection``,
    Achlioptas 2003): 64 → 16 dims as a pure row-local map with the
    matrix compiled into the plan.  ±2⁻²-scaled entries keep products
    exact in double, so the oracle (same literal matrix inlined)
    hash-matches bit-for-bit."""
    # scalar projections of the projected vector (the comparator does
    # not hash array columns): three components + the extrema pin the
    # whole projection bit-for-bit
    rp = F.col("embedding_rp")
    return embeddings_ops.random_projection(
        _read(spark, sf_dir, "embeddings"), dim=64, out_dim=16, seed=7
    ).select(
        "vec_id",
        rp[0].alias("rp_c0"),
        rp[7].alias("rp_c7"),
        rp[15].alias("rp_c15"),
        F.array_min(rp).alias("rp_min"),
        F.array_max(rp).alias("rp_max"),
    )


def _rp_oracle() -> str:
    from python_dtl_spark.operators.embeddings import projection_matrix

    rows = projection_matrix(64, 16, 7)
    comps = ",\n           ".join(
        "list_dot_product(e, [" + ", ".join(repr(x) for x in row) + "])"
        for row in rows
    )
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), p AS (
        SELECT vec_id, [{comps}] AS rp FROM v
    )
    SELECT vec_id, rp[1] AS rp_c0, rp[8] AS rp_c7, rp[16] AS rp_c15,
           list_min(rp) AS rp_min, list_max(rp) AS rp_max
    FROM p
    """


_register("embed_random_projection", _q_random_projection, _rp_oracle())


def _q_topk_projected(spark, sf_dir):
    """Coarse search in the JL-projected space + exact full-dim rescore
    (``similarity.projected_topk``): deterministic end to end, so
    value-oracled on the real corpus like the quantized path.  Uses the
    round-7 default proj_dim=32 (recall@10 = 1.000 at 8× AND 32×
    growth; 16 dims measured 0.694 at 8×, 24 dims 0.875 at 32× —
    SCALING.md)."""
    corpus = _read(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.projected_topk(
        corpus, queries, k=10, rescore_factor=4
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def _projected_topk_oracle() -> str:
    from python_dtl_spark.operators.embeddings import projection_matrix

    rows = projection_matrix(64, 32, 7)
    comps = ",\n               ".join(
        "list_dot_product(e, [" + ", ".join(repr(x) for x in row) + "])"
        for row in rows
    )
    return f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), p AS (
        SELECT vec_id, e, [{comps}] AS rp FROM v
    ), q AS (
        SELECT vec_id AS query_id, e AS qe, rp AS qrp FROM p WHERE vec_id < 8
    ), scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, c.e AS ce, q.qe AS qe2,
               list_dot_product(c.rp, q.qrp) AS coarse
        FROM p c, q WHERE c.vec_id <> q.query_id
    ), cand AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY coarse DESC, neighbor_id
        ) AS crank
        FROM scored
    ), rescored AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_cosine_similarity(ce, qe2) DESC, neighbor_id
               ) AS rank
        FROM cand WHERE crank <= 40
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM rescored WHERE rank <= 10
    """


_register(
    "similarity_topk_projected",
    _q_topk_projected,
    _projected_topk_oracle(),
    headline=True,
)


def _q_topk(spark, sf_dir):
    corpus = _read(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(corpus, queries, k=10).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


_register(
    "similarity_topk_cosine",
    _q_topk,
    """
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 8
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    headline=True,
)


def _planted_ann_corpus(spark, sf_dir):
    """Embeddings augmented with 10 exact copies of each query vector
    (ids ``100000 + query*10 + j``).

    Makes approximate top-k provably EQUAL exact top-k, so the
    approximate operators get a genuine exact-cosine SQL oracle: the
    copies score cosine 1.0 against their query (natural max pairwise
    cosine on this data is ~0.52), filling all k=10 slots, and an
    identical vector is a guaranteed candidate — same hyperplane signs
    ⇒ same LSH bucket (the query's first probe), same nearest centroid
    ⇒ inside any n_probe ≥ 1 IVF probe set, for ANY fitted centroids.
    Ties among the ten 1.0-cosine copies break by neighbor_id on both
    engines.  Recall on natural neighbors stays measured separately in
    SCALING.md / tests/test_similarity.py.
    """
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = (
        base.filter(F.col("vec_id") < 8)
        .select(
            "vec_id",
            "embedding",
            F.explode(F.array(*[F.lit(j) for j in range(10)])).alias("__j"),
        )
        .select(
            (F.lit(100000) + F.col("vec_id") * 10 + F.col("__j")).alias("vec_id"),
            "embedding",
        )
    )
    queries = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return base.unionByName(planted), queries


_ANN_PLANTED_ORACLE = """
    WITH aug AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT 100000 + vec_id * 10 + t.j, CAST(embedding AS DOUBLE[])
        FROM embeddings, range(10) t(j) WHERE vec_id < 8
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM aug WHERE vec_id < 8
    ), scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(e.v, q.qv) AS cos
        FROM aug e, q WHERE e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
"""


def _q_topk_lsh(spark, sf_dir):
    corpus, queries = _planted_ann_corpus(spark, sf_dir)
    return similarity.lsh_bucketed_topk(corpus, queries, k=10, dim=64).select(
        "query_id", "neighbor_id", F.col("rank").cast("long").alias("rank")
    )


# exact-cosine oracle: sound because bucketed top-k == exact top-k on
# the planted corpus (see _planted_ann_corpus)
_register("similarity_topk_lsh", _q_topk_lsh, _ANN_PLANTED_ORACLE)


def _q_topk_ivf(spark, sf_dir):
    corpus, queries = _planted_ann_corpus(spark, sf_dir)
    return similarity.ivf_topk(
        corpus, queries, k=10, n_centroids=16, n_probe=8
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


_register("similarity_topk_ivf", _q_topk_ivf, _ANN_PLANTED_ORACLE)


def _q_topk_quantized(spark, sf_dir):
    """Two-stage flat-index ANN (int8 candidate scan + exact rescore,
    ``similarity.quantized_topk``).  Every stage is deterministic —
    integer dot products, fixed tie-breaks — so unlike LSH/IVF this
    approximate path is value-oracled on the REAL corpus, not a
    planted fixture."""
    corpus = _read(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.quantized_topk(
        corpus, queries, k=10, rescore_factor=4
    ).select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


_register(
    "similarity_topk_quantized",
    _q_topk_quantized,
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), st AS (
        SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS m FROM v
    ), qz AS (
        SELECT vec_id, e,
               CASE WHEN m = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(e,
                        x -> CAST(round(x * 127.0 / m) AS BIGINT))
               END AS qv,
               m / 127.0 AS s
        FROM st
    ), q AS (
        SELECT vec_id AS query_id, e AS qe, qv AS qqv, s AS qs
        FROM qz WHERE vec_id < 8
    ), scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id, c.e AS ce, q.qe AS qe2,
               CAST(list_dot_product(CAST(c.qv AS DOUBLE[]),
                                     CAST(q.qqv AS DOUBLE[])) AS DOUBLE)
                   * c.s * q.qs AS approx
        FROM qz c, q WHERE c.vec_id <> q.query_id
    ), cand AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY approx DESC, neighbor_id
        ) AS arank
        FROM scored
    ), rescored AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_cosine_similarity(ce, qe2) DESC, neighbor_id
               ) AS rank
        FROM cand WHERE arank <= 40
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM rescored WHERE rank <= 10
    """,
    headline=True,
)


def _q_cluster_balance(spark, sf_dir):
    """Cluster-balanced sampling (new r14): cap every EMBEDDING
    CLUSTER's contribution at 5 rows by md5 rank — the
    semantic-diversity complement of the source-keyed mixers (a
    domain cap can't see topic over-representation inside one
    domain; SemDedup's clustering + a per-cluster quota can).
    ``similarity.cluster_assign`` (sampled-KMeans, broadcast
    model.transform) → ``sampling.domain_quota`` on the cluster key.

    Oracle soundness (the SemDedup/ANN planted-fixture pattern): the
    corpus is 25 exact copies of each of 8 natural embeddings —
    k-means with k=8 provably recovers that grouping (global optimum:
    one zero-cost center per distinct point; recovery additionally
    asserted by a unit test), and the kept set is LABEL-INVARIANT
    (quota-per-cluster needs the grouping, not the arbitrary cluster
    numbers), so DuckDB replays the selection exactly from the
    fixture arithmetic + the md5 rank.  On natural data the grouping
    is approximate-by-design (the LSH/IVF caveat), covered by the
    semantics tests.

    Scale shape: fit at bounded-sample scale; assignment is one
    broadcast-model map pass (zero Exchange, zero Python);
    domain_quota's literal rank limit restores the WindowGroupLimit
    map-side prune — a 100 TB hot cluster funnels quota ×
    n_map_partitions rows, never its full size."""
    base = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
    )
    planted = base.select(
        "vec_id",
        "embedding",
        F.explode(F.array(*[F.lit(j) for j in range(25)])).alias("__j"),
    ).select(
        (F.lit(100000) + F.col("vec_id") * 25 + F.col("__j")).alias(
            "vec_id"
        ),
        "embedding",
    )
    kept = similarity.cluster_balanced_sample(
        planted, quota=5, n_centroids=8, seed=7, sample_seed="cb1"
    )
    return kept.select("vec_id")


_register(
    "embed_cluster_balance",
    _q_cluster_balance,
    """
    WITH members AS (
        SELECT vec_id AS g, 100000 + vec_id * 25 + t.j AS vec_id
        FROM embeddings, range(25) t(j) WHERE vec_id < 8
    ), ranked AS (
        SELECT vec_id,
               row_number() OVER (
                   PARTITION BY g
                   ORDER BY md5('cb1' || CAST(vec_id AS VARCHAR)), vec_id
               ) AS r
        FROM members
    )
    SELECT vec_id FROM ranked WHERE r <= 5
    """,
    headline=True,
)


def _q_tumbling(spark, sf_dir):
    return tumbling_event_stats(_read_events(spark, sf_dir), "1 hour")


_register(
    "events_tumbling_stats",
    _q_tumbling,
    "SELECT date_trunc('hour', ts) AS window_start, event_type, "
    "count(*) AS n_events, round(sum(value), 2) AS value_sum "
    "FROM events GROUP BY 1, 2",
    headline=True,
)


def _q_sliding(spark, sf_dir):
    return sliding_event_counts(_read_events(spark, sf_dir), "1 hour", "30 minutes")


_register(
    "events_sliding_counts",
    _q_sliding,
    """
    WITH starts AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start, event_type FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes', event_type FROM events
    )
    SELECT window_start, event_type, count(*) AS n_events FROM starts GROUP BY 1, 2
    """,
)


def _q_sessions(spark, sf_dir):
    # second-truncated session bounds: the raw parquet timestamps carry
    # nanosecond precision DuckDB keeps but Spark floors to microseconds;
    # truncating both sides to seconds makes the comparison resolution-proof
    return session_windows(_read_events(spark, sf_dir), "30 minutes").select(
        F.date_trunc("second", F.col("session_start")).alias("session_start_s"),
        F.date_trunc("second", F.col("session_end")).alias("session_end_s"),
        "user_id",
        "n_events",
    )


_register(
    "events_session_windows",
    _q_sessions,
    """
    WITH o AS (
        SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ), f AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
        FROM o
    ), i AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
        FROM f
    )
    SELECT date_trunc('second', min(ts)) AS session_start_s,
           date_trunc('second', max(ts) + INTERVAL '30 minutes') AS session_end_s,
           user_id, count(*) AS n_events
    FROM i GROUP BY user_id, island
    """,
    headline=True,
)


def _q_asof(spark, sf_dir):
    """Each error event joined to the latest click at-or-before it per
    user.  Right side pre-aggregated to unique (user_id, ts) so both
    engines' tie handling is moot."""
    events = _read_events(spark, sf_dir)
    errors = events.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    return joins.asof_join(
        errors, clicks, on="ts", by="user_id", value_cols=["click_value"]
    ).select("event_id", "user_id", "click_value")


_register(
    "events_asof_join",
    _q_asof,
    """
    WITH errors AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ), clicks AS (
        SELECT user_id, ts, max(value) AS click_value
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    )
    SELECT e.event_id, e.user_id, c.click_value
    FROM errors e
    ASOF LEFT JOIN clicks c ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
    headline=True,
)


def _q_topn_per_customer(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    return windows.top_n_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        n=3,
    ).select("o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))


_register(
    "orders_topn_per_customer",
    _q_topn_per_customer,
    """
    WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders
    )
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
    headline=True,
)


def _q_running_total(spark, sf_dir):
    orders = _read(spark, sf_dir, "orders")
    return windows.running_total(
        orders,
        ["o_custkey"],
        [F.asc("o_orderdate"), F.asc("o_orderkey")],
        "o_totalprice",
    ).select(
        "o_custkey",
        "o_orderkey",
        F.round("running_total", 2).alias("running_total"),
    )


_register(
    "orders_running_total",
    _q_running_total,
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2)
             AS running_total
    FROM orders
    """,
    headline=True,
)


def _q_range_join(spark, sf_dir):
    """Assign every event to its containing session (computed by the
    session-window operator) via the bucketed range join."""
    events = _read_events(spark, sf_dir)
    sess = session_windows(events, "30 minutes").select(
        "user_id", "session_start", "session_end"
    )
    out = joins.range_join_point_in_interval(
        events.select("event_id", "user_id", "ts"),
        sess,
        point_col="ts",
        start_col="session_start",
        end_col="session_end",
        by="user_id",
        bucket_seconds=3600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_trunc("second", F.col("session_start")).alias("session_start_s"),
    )


_register(
    "events_range_join_sessions",
    _q_range_join,
    """
    WITH o AS (
        SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM events
    ), f AS (
        SELECT user_id, ts,
               CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s
        FROM o
    ), i AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS island
        FROM f
    ), sess AS (
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end
        FROM i GROUP BY user_id, island
    )
    SELECT e.event_id, e.user_id,
           date_trunc('second', s.session_start) AS session_start_s
    FROM events e JOIN sess s
      ON e.user_id = s.user_id
     AND e.ts >= s.session_start AND e.ts <= s.session_end
    """,
    headline=True,
)


def _q_time_rollup(spark, sf_dir):
    out = rollup.time_rollup(
        _read_events(spark, sf_dir),
        "ts",
        dims=["event_type"],
        value_cols=["value"],
        grains=["hour", "day"],
    )
    # avg derived from the ROUNDED sum, with NO further rounding: double
    # summation order differs between Spark partitions and DuckDB, so
    # rounding the raw avg can straddle a boundary — and re-rounding
    # round(sum)/n creates exact decimal ties (e.g. 76.75/2) where the
    # engines' tie-breaking on binary doubles diverges.  The bare
    # quotient of bit-identical rounded sums by identical counts is
    # bit-identical.
    return out.select(
        "grain",
        "bucket_start",
        "event_type",
        "n_rows",
        F.round("sum_value", 2).alias("sum_value"),
        (F.round("sum_value", 2) / F.col("n_rows")).alias("avg_value"),
    )


_register(
    "events_time_rollup",
    _q_time_rollup,
    """
    WITH fine AS (
        SELECT date_trunc('hour', ts) AS bucket_start, event_type,
               count(*) AS n_rows, sum(value) AS sum_value
        FROM events GROUP BY 1, 2
    )
    SELECT 'hour' AS grain, bucket_start, event_type,
           CAST(n_rows AS BIGINT) AS n_rows,
           round(sum_value, 2) AS sum_value,
           round(sum_value, 2) / n_rows AS avg_value
    FROM fine
    UNION ALL
    SELECT 'day', date_trunc('day', bucket_start), event_type,
           CAST(sum(n_rows) AS BIGINT),
           round(sum(sum_value), 2),
           round(sum(sum_value), 2) / sum(n_rows)
    FROM fine GROUP BY 2, 3
    """,
    headline=True,
)


def _q_hash_split(spark, sf_dir):
    return sampling.hash_split(
        _read(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed="s1",
    ).select("doc_id", "split")


_B = sampling.hash_bucket_sql("doc_id", seed="s1")

_register(
    "doc_hash_split",
    _q_hash_split,
    f"""
    SELECT doc_id,
           CASE WHEN doc_id IS NULL THEN NULL
                WHEN {_B} < 8000 THEN 'train'
                WHEN {_B} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)


def _q_stratified_sample(spark, sf_dir):
    return sampling.stratified_sample(
        _read(spark, sf_dir, "documents"),
        "lang",
        {"en": 0.5, "de": 0.2},
        key_col="doc_id",
        seed="s2",
        default_fraction=0.1,
    ).select("doc_id", "lang")


_B2 = sampling.hash_bucket_sql("doc_id", seed="s2")

_register(
    "doc_stratified_sample",
    _q_stratified_sample,
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {_B2} < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
                  ELSE 1000 END
    """,
)


def _q_event_deltas(spark, sf_dir):
    """Inter-arrival gaps per user, in integer microseconds (both
    engines floor nanos→micros identically, so the delta is exact)."""
    ev = _read_events(spark, sf_dir).select("event_id", "user_id", "ts")
    out = windows.event_deltas(ev, ["user_id"], "ts", out_col="__delta_s")
    return out.select(
        "event_id",
        "user_id",
        (
            epoch_micros(F.col("ts"))
            - epoch_micros(F.lag("ts").over(
                Window.partitionBy("user_id").orderBy("ts")
            ))
        ).alias("delta_us"),
    )


_register(
    "events_inter_arrival",
    _q_event_deltas,
    """
    SELECT event_id, user_id,
           epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
             AS delta_us
    FROM events
    """,
    headline=True,
)


def _q_resample_ffill(spark, sf_dir):
    """Daily per-user resample with forward fill (gapfill + locf,
    ``windows.resample_ffill``): last observation per (user, day)
    picked deterministically by (event time, event_id); missing days
    generated and filled from the most recent earlier value.  Values
    are moved, never recomputed — hash-exact across engines."""
    return windows.resample_ffill(
        _read_events(spark, sf_dir),
        group_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        tiebreak_col="event_id",
        step_seconds=86400,
    )


_register(
    "events_resample_ffill",
    _q_resample_ffill,
    """
    WITH e AS (
        -- exact integer bucket index (us - us mod step) / step: the
        -- numerator is an exact multiple so // has no remainder to
        -- truncate; the old float floor diverges beyond 2^53 us
        SELECT user_id, ts, event_id, value,
               CAST((epoch_us(ts)
                     - ((epoch_us(ts) % 86400000000 + 86400000000)
                        % 86400000000)) // 86400000000 AS BIGINT) AS bucket
        FROM events
    ), p AS (
        SELECT user_id, bucket,
               max(struct_pack(t := epoch_us(ts), tb := event_id, v := value))
                   AS pk
        FROM e GROUP BY 1, 2
    ), o AS (
        SELECT user_id, bucket, pk.v AS obs FROM p
    ), s AS (
        SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM o GROUP BY 1
    ), g AS (
        -- mirror of the max_buckets=1000000 guard: in-span groups get
        -- the generated grid, over-span groups emit observed buckets
        -- only (never gap-filled, never dropped)
        SELECT user_id, unnest(range(lo, hi + 1)) AS bucket
        FROM s WHERE hi - lo < 1000000
        UNION ALL
        SELECT o.user_id, o.bucket
        FROM o JOIN s USING (user_id) WHERE s.hi - s.lo >= 1000000
    ), j AS (
        SELECT g.user_id, g.bucket, o.obs FROM g LEFT JOIN o USING (user_id, bucket)
    )
    SELECT user_id, make_timestamp(bucket * 86400000000) AS bucket_start,
           last_value(obs IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
           obs IS NOT NULL AS observed
    FROM j
    """,
    headline=True,
)


def _q_interval_join(spark, sf_dir):
    """Click-to-purchase attribution: each purchase matched to the
    clicks of the same user within the preceding 4 hours — the
    stream-stream interval join run on batch frames (batch parity is
    exactly what streaming correctness rests on for this module).
    Deltas compared in integer microseconds (both engines floor
    nanos→micros identically)."""
    ev = _read_events(spark, sf_dir).select("event_id", "user_id", "event_type", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = interval_join(
        purchases, clicks, by="user_id", ts_col="ts", max_delay="4 hours",
        right_cols=["event_id"],
    )
    return out.select(
        F.col("event_id").alias("purchase_id"),
        F.col("event_id_right").alias("click_id"),
        "user_id",
        (epoch_micros(F.col("ts")) - epoch_micros(F.col("ts_right"))).alias(
            "delay_us"
        ),
    )


_register(
    "events_interval_join",
    _q_interval_join,
    """
    SELECT a.event_id AS purchase_id, b.event_id AS click_id, a.user_id,
           epoch_us(a.ts) - epoch_us(b.ts) AS delay_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'purchase' AND b.event_type = 'click'
     AND b.ts <= a.ts AND b.ts >= a.ts - INTERVAL '4 hours'
    """,
    headline=True,
)


def _q_multimodal(spark, sf_dir):
    assets = multimodal.synth_assets(spark, n=256)
    return multimodal.extract_image_features(assets, fake=True)


# The fake decoder is deterministic (FNV-1a over the payload bytes,
# which for synth_assets are the UTF-8 hex of sha256(asset_id)), so the
# whole mapInPandas pipeline is exactly expressible in DuckDB:
# list_reduce replays the FNV fold in HUGEINT arithmetic, and the
# feature fields are bit-slices of the 64-bit state.  This promotes the
# multimodal plumbing (Arrow batches, schema, 1 row per asset) from a
# rows-only check to a full value-hash oracle.
_register(
    "multimodal_image_features",
    _q_multimodal,
    """
    WITH assets AS (
        SELECT range::BIGINT AS asset_id,
               sha256(CAST(range AS VARCHAR)) AS hex
        FROM range(256)
    ), fnv AS (
        SELECT asset_id,
               list_reduce(
                   list_prepend(
                       CAST(14695981039346656037 AS HUGEINT),
                       [CAST(ord(substr(hex, i, 1)) AS HUGEINT)
                        FOR i IN range(1, len(hex) + 1)]),
                   (h, b) -> (xor(h, b) * 1099511628211)
                             % 18446744073709551616
               ) AS h
        FROM assets
    )
    SELECT asset_id,
           CAST(64 + h % 256 AS INTEGER) AS width,
           CAST(64 + (h // 256) % 256 AS INTEGER) AS height,
           CAST((h // 65536) % 65536 AS DOUBLE) / 65535.0 AS mean_luma,
           CAST(h // 2 AS BIGINT) AS phash
    FROM fnv
    """,
)


_register(
    "dtl_promo_parts_by_brand",
    _dtl(
        """
        WITH lineitem AS IMPORT 'lineitem';
        WITH part AS IMPORT 'part';
        WITH output AS
            SELECT p_brand, count(l_quantity) AS n_items,
                   round_to(sum(l_extendedprice), 2) AS revenue
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE starts_with(p_type, 'PROMO')
            GROUP BY p_brand
            ORDER BY p_brand;
        EXPORT output TO 'output';
        """
    ),
    """
    SELECT p_brand, count(l_quantity) AS n_items,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type LIKE 'PROMO%'
    GROUP BY p_brand
    ORDER BY p_brand
    """,
)

def _q_clean_corpus(spark, sf_dir):
    """End-to-end training-corpus prep: quality-gate -> exact dedup
    (canonical min doc_id per text) -> deterministic train/val/test
    split -> per-split stats.  Composes text, dedup, and sampling
    operators; every stage is JVM-side, two shuffles total (dedup
    groupBy + final stats groupBy)."""
    docs = _read(spark, sf_dir, "documents")
    scored = text.quality_features(docs)
    kept = scored.filter(F.col("quality_score") >= 0.5).select("doc_id", "text")
    deduped = dedup.exact_dedup_canonical(kept, "doc_id", ["text"])
    split = sampling.hash_split(
        deduped, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="corpus"
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select("split", "n_docs", "n_chars")
    )


_CB = sampling.hash_bucket_sql("doc_id", seed="corpus")

_register(
    "pipeline_clean_corpus",
    _q_clean_corpus,
    f"""
    WITH {_quality_sql_ctes("text")}, scored AS (
        SELECT doc_id, text, {_QUALITY_SCORE_EXPR} AS quality_score
        FROM ratios
    ), kept AS (
        SELECT doc_id, text FROM scored WHERE quality_score >= 0.5
    ), deduped AS (
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, text FROM kept GROUP BY text
    ), split AS (
        SELECT doc_id, text,
               CASE WHEN doc_id IS NULL THEN NULL
                    WHEN {_CB} < 8000 THEN 'train'
                    WHEN {_CB} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM deduped
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM split GROUP BY split
    """,
    headline=True,
)

# ---------------------------------------------------------------------------
# Group F — provenance / trace mode (SURVEY.md §2.7; reference mappings.py,
# manifest.py, io.py:75-122)
# ---------------------------------------------------------------------------

_TRACE_SCRIPT = """
WITH orders AS IMPORT 'orders';
WITH priced AS
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 100000.0;
WITH by_cust AS
    SELECT o_custkey, count(o_orderkey) AS n_orders, sum(o_totalprice) AS total
    FROM priced
    GROUP BY o_custkey;
EXPORT by_cust TO 'by_cust';
"""


def _q_trace_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run a traced script and summarize the resulting trace graph:
    per snapshot, its level, row count, and how many row-level lineage
    pairs arrive from its sources.  Deterministic, so fully
    oracle-checkable — the mapping cardinalities follow from the data
    (filter: one pair per surviving row; aggregation: one pair per
    contributing input row; export passthrough: identity)."""
    import shutil
    import tempfile

    from python_dtl_spark.lineage import FileSystemTracer, TraceReader, run_traced
    from python_dtl_spark.sources import InMemoryExporter

    trace_dir = tempfile.mkdtemp(prefix="dtl_trace_")
    try:
        run_traced(
            _TRACE_SCRIPT,
            spark=spark,
            importer=FileSystemImporter(spark, sf_dir),
            exporter=InMemoryExporter(),
            tracer=FileSystemTracer(trace_dir),
        )
        reader = TraceReader(spark, trace_dir)
        tables = reader.manifest["tables"]
        # One job: tag every snapshot row and every lineage pair with
        # its table id, union, and count per (id, what).  The summary is
        # collected so the trace directory can go before returning.
        tagged = None
        for t in tables:
            part = reader.snapshot(t["id"]).select(
                F.lit(t["id"]).alias("id"), F.lit("rows").alias("what")
            )
            tagged = part if tagged is None else tagged.unionByName(part)
        edges = dict.fromkeys((m["src"], m["tgt"]) for m in reader.manifest["mappings"])
        for src, tgt in edges:
            tagged = tagged.unionByName(
                reader.mapping(src, tgt).select(
                    F.lit(tgt).alias("id"), F.lit("pairs").alias("what")
                )
            )
        counts = {
            (r["id"], r["what"]): r["n"]
            for r in tagged.groupBy("id", "what").agg(F.count("*").alias("n")).collect()
        }
    finally:
        shutil.rmtree(trace_dir, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                t["name"],
                t["level"],
                counts.get((t["id"], "rows"), 0),
                counts.get((t["id"], "pairs"), 0),
            )
            for t in tables
        ],
        "table_name string, level string, n_rows long, n_lineage_pairs long",
    )


_register(
    "trace_provenance",
    _q_trace_provenance,
    """
    WITH priced AS (SELECT * FROM orders WHERE o_totalprice > 100000.0),
         by_cust AS (SELECT o_custkey FROM priced GROUP BY o_custkey)
    SELECT 'orders' AS table_name, 'STATEMENT' AS level,
           (SELECT count(*) FROM orders) AS n_rows,
           0 AS n_lineage_pairs
    UNION ALL
    SELECT 'priced', 'STATEMENT',
           (SELECT count(*) FROM priced),
           (SELECT count(*) FROM priced)
    UNION ALL
    SELECT 'by_cust', 'STATEMENT',
           (SELECT count(*) FROM by_cust),
           (SELECT count(*) FROM priced)
    UNION ALL
    SELECT 'by_cust', 'EXPORT',
           (SELECT count(*) FROM by_cust),
           (SELECT count(*) FROM by_cust)
    """,
)


_XWORLD_SCRIPT = """
WITH docs AS IMPORT 'documents';
WITH kept AS
    SELECT doc_id, text
    FROM docs
    WHERE n_chars >= 120;
EXPORT kept TO 'kept';
"""


def _q_lineage_cross_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-world lineage, end to end (r11 verdict stretch ask): a
    traced DTL script (IMPORT -> WHERE filter -> EXPORT) feeds a
    pipeline dedup operator, the operator's ManyToOne mapping bridges
    back via record_pipeline_step, one explicit rid->natural-key hop
    mapping stitches the DTL export's synthetic rids to the pipeline
    table's doc_id rids, and TraceReader.lineage() walks the WHOLE
    composed chain (DTL filter mapping ∘ export identity ∘ hop ∘
    dedup mapping) from the IMPORT statement to the deduped output.
    The emitted (src_doc_id, kept_doc_id) pairs are deterministic —
    synthetic rids cancel out through the snapshot join-backs — so the
    oracle replays the filter + canonical dedup directly in SQL: the
    walk must reconstruct exactly the relation the operators computed.
    """
    import shutil
    import tempfile

    from pyspark.sql.types import StructType

    from python_dtl_spark.lineage import (
        FileSystemTracer,
        TraceReader,
        record_pipeline_step,
        run_traced,
    )
    from python_dtl_spark.sources import InMemoryExporter

    trace_dir = tempfile.mkdtemp(prefix="dtl_xworld_")
    try:
        tracer = FileSystemTracer(trace_dir)
        exporter = InMemoryExporter()
        run_traced(
            _XWORLD_SCRIPT,
            spark=spark,
            importer=FileSystemImporter(spark, sf_dir),
            exporter=exporter,
            tracer=tracer,
        )
        exported = exporter.tables["kept"]
        result, mapping = dedup.exact_dedup_canonical(
            exported, "doc_id", ["text"], with_lineage=True
        )
        src_uid, _ = record_pipeline_step(
            tracer,
            src_name="kept_corpus",
            tgt_name="deduped",
            src_df=exported,
            tgt_df=result,
            mapping=mapping,
            src_key="doc_id",
            tgt_key="doc_id",
        )
        # the cross-world hop: the EXPORT statement's synthetic rids ->
        # the pipeline src table's natural doc_id rids, read off the
        # export snapshot (which carries both) with its recorded schema
        export_rec = next(
            t for t in tracer.tables if t.level == "EXPORT" and t.name == "kept"
        )
        export_snap = spark.read.schema(
            StructType.fromJson(export_rec.schema)
        ).parquet(f"{trace_dir}/{export_rec.path}")
        tracer.record_mapping(
            export_rec.id,
            src_uid,
            kind="by_key",
            pairs=export_snap.select(
                F.col(export_rec.row_id).alias("src_rid"),
                F.col("doc_id").alias("tgt_rid"),
            ),
        )
        tracer.write_manifest()

        reader = TraceReader(spark, trace_dir)
        lin = reader.lineage("docs", "deduped")
        # synthetic import rids -> doc_ids via the import snapshot;
        # the deduped side's rids ARE doc_ids (natural-key bridge).
        # Collected so the trace directory can go before returning.
        docs_snap = reader.snapshot("docs").select(
            F.col("__rid").alias("src_rid"), F.col("doc_id").alias("src_doc_id")
        )
        out = lin.join(docs_snap, on="src_rid").select(
            "src_doc_id", F.col("tgt_rid").cast("long").alias("kept_doc_id")
        )
        schema, rows = out.schema, out.collect()
    finally:
        shutil.rmtree(trace_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


_register(
    "lineage_cross_world",
    _q_lineage_cross_world,
    """
    WITH kept AS (
        SELECT doc_id, text FROM documents WHERE n_chars >= 120
    ), canon AS (
        SELECT text, min(doc_id) AS kept_id FROM kept GROUP BY text
    )
    SELECT kept.doc_id AS src_doc_id,
           CAST(canon.kept_id AS BIGINT) AS kept_doc_id
    FROM kept JOIN canon ON kept.text IS NOT DISTINCT FROM canon.text
    """,
)


# ---------------------------------------------------------------------------
# Group F — grouped statistics / multi-dim aggregation / sessionization
# ---------------------------------------------------------------------------


def _q_sessionize(spark, sf_dir):
    return windows.sessionize(
        _read_events(spark, sf_dir).select("user_id", "ts"),
        key_col="user_id",
        ts_col="ts",
        gap_minutes=30,
    )


_register(
    "events_sessionize",
    _q_sessionize,
    # same gaps-and-islands formulation: lag-gap flag, cumulative sum,
    # aggregate per island.  Boundaries depend only on each key's
    # sorted timestamp multiset (ties have gap 0), so the result is
    # deterministic despite ambiguous order among equal timestamps.
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS BIGINT) AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_seq
    """,
    headline=True,
)


def _q_value_percentiles(spark, sf_dir):
    return stats.grouped_percentiles(
        _read_events(spark, sf_dir),
        value_col="value",
        by=["event_type"],
        ps=[0.5, 0.9, 0.99],
    )


_register(
    "events_value_percentiles",
    _q_value_percentiles,
    # percentile_disc = smallest actual value whose cumulative
    # distribution reaches p; replayed via cume_dist so no engine's
    # quantile interpolation enters the comparison (outputs are input
    # elements, hash-exact)
    """
    WITH ranked AS (
        -- NULL values excluded, mirroring percentile_disc (which
        -- ignores them): cume_dist would otherwise count NULL rows in
        -- its denominator and shift every edge
        SELECT event_type, value,
               cume_dist() OVER (
                   PARTITION BY event_type ORDER BY value
               ) AS cd
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           min(CASE WHEN cd >= 0.5 THEN value END) AS p5,
           min(CASE WHEN cd >= 0.9 THEN value END) AS p9,
           min(CASE WHEN cd >= 0.99 THEN value END) AS p99
    FROM ranked
    GROUP BY event_type
    """,
)


def _q_status_pivot(spark, sf_dir):
    return stats.pivot_table(
        _read(spark, sf_dir, "orders"),
        row_col="o_orderpriority",
        pivot_col="o_orderstatus",
        pivot_values=["F", "O", "P"],
        value_expr=F.lit(1),
        agg="count",
    )


_register(
    "orders_status_pivot",
    _q_status_pivot,
    """
    SELECT o_orderpriority,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
    FROM orders
    GROUP BY o_orderpriority
    """,
)


def _q_lineitem_rollup(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem").withColumn(
        "cents",
        F.round(F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0),
    )
    return stats.rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            (F.sum("cents") / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )


_register(
    "lineitem_rollup",
    _q_lineitem_rollup,
    # DuckDB's GROUPING() bitmask matches Spark's grouping_id()
    # (verified: last rollup column = LSB); cent-exact revenue
    """
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS grouping_id,
           sum(round(l_extendedprice * (1.0 - l_discount) * 100.0)) / 100.0
             AS revenue,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    headline=True,
)


def _q_multimodal_audio(spark, sf_dir):
    assets = multimodal.synth_assets(spark, n=256, kind="audio")
    return multimodal.extract_audio_features(assets, fake=True)


# Same FNV-1a replay idea as multimodal_image_features: the fake audio
# decode derives sample_rate/duration/rms from bit-slices of the 64-bit
# FNV state, so DuckDB reproduces every value exactly (the double
# divisions have identical operands in both engines — IEEE division is
# deterministic).
_register(
    "multimodal_audio_features",
    _q_multimodal_audio,
    """
    WITH assets AS (
        SELECT range::BIGINT AS asset_id,
               sha256(CAST(range AS VARCHAR)) AS hex
        FROM range(256)
    ), fnv AS (
        SELECT asset_id,
               list_reduce(
                   list_prepend(
                       CAST(14695981039346656037 AS HUGEINT),
                       [CAST(ord(substr(hex, i, 1)) AS HUGEINT)
                        FOR i IN range(1, len(hex) + 1)]),
                   (h, b) -> (xor(h, b) * 1099511628211)
                             % 18446744073709551616
               ) AS h
        FROM assets
    )
    SELECT asset_id,
           CAST(8000 * (1 + h % 4) AS INTEGER) AS sample_rate,
           CAST((h // 4) % 65536 AS DOUBLE) / 1000.0 AS duration_s,
           CAST((h // 262144) % 65536 AS DOUBLE) / 65535.0 AS rms
    FROM fnv
    """,
)


def _q_multimodal_frames(spark, sf_dir):
    assets = multimodal.synth_assets(spark, n=256, kind="video")
    return multimodal.sample_frames(assets, every_n=10, fake=True).select(
        "asset_id", "frame_index"
    )


# The 1:N frame fan-out is the point of this check (mapInPandas rows
# multiplying per asset): n_frames = 1 + (h & 31), sampled every 10 —
# the (asset_id, frame_index) structure replays exactly; the frame
# bytes themselves are sliced payload and are covered by unit tests
# (blob construction is awkward to replicate portably in SQL).
_register(
    "multimodal_frame_sample",
    _q_multimodal_frames,
    """
    WITH assets AS (
        SELECT range::BIGINT AS asset_id,
               sha256(CAST(range AS VARCHAR)) AS hex
        FROM range(256)
    ), fnv AS (
        SELECT asset_id,
               list_reduce(
                   list_prepend(
                       CAST(14695981039346656037 AS HUGEINT),
                       [CAST(ord(substr(hex, i, 1)) AS HUGEINT)
                        FOR i IN range(1, len(hex) + 1)]),
                   (h, b) -> (xor(h, b) * 1099511628211)
                             % 18446744073709551616
               ) AS h
        FROM assets
    )
    SELECT asset_id,
           CAST(unnest(range(0, CAST(1 + h % 32 AS BIGINT), 10)) AS INTEGER)
             AS frame_index
    FROM fnv
    """,
)


def _q_salted_join(spark, sf_dir):
    # skew-resilient join: events (large, hot user_ids) salted 16 ways
    # against the customer dim replicated per salt value.  Salting must
    # be semantically invisible — the oracle is the PLAIN join — so the
    # post-join aggregate is what gets hash-compared (cent-exact sum).
    ev = _read_events(spark, sf_dir).select(
        "user_id", F.round(F.col("value") * 100.0).alias("cents")
    )
    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = joins.salted_join(ev, cust, on=["user_id"], salt=16)
    return joined.groupBy("c_mktsegment").agg(
        (F.sum("cents") / 100.0).alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


_register(
    "events_salted_join",
    _q_salted_join,
    """
    SELECT c_mktsegment,
           sum(round(value * 100.0)) / 100.0 AS total_value,
           count(*) AS n_events
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)


def _q_embed_dedup_keep(spark, sf_dir):
    # keep-one over the SAME planted-duplicate fixture as
    # dedup_embedding_cosine: corpus ∪ exact copies at vec_id+100000.
    # Components are exactly the planted (i, i+100000) pairs (no
    # natural near-dups at this threshold — max natural cosine ~0.51),
    # so connected components reduce to min-of-pair, which is what the
    # single-step SQL oracle computes.
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    aug = base.unionByName(
        base.select((F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding")
    )
    pairs = dedup.embedding_near_dup_pairs(aug, threshold=0.95, dim=64)
    return dedup.keep_one_from_pairs(aug, pairs, id_col="vec_id")


_register(
    "dedup_embedding_keep",
    _q_embed_dedup_keep,
    """
    WITH aug AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
    ), pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= 0.95
    ), nbr AS (
        SELECT vec_id, min(partner) AS m
        FROM (
            SELECT id_a AS vec_id, id_b AS partner FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs
        )
        GROUP BY vec_id
    )
    SELECT aug.vec_id,
           least(aug.vec_id, coalesce(nbr.m, aug.vec_id)) AS cluster_id,
           aug.vec_id = least(aug.vec_id, coalesce(nbr.m, aug.vec_id)) AS keep
    FROM aug LEFT JOIN nbr ON aug.vec_id = nbr.vec_id
    """,
)


# ---------------------------------------------------------------------------
# Group G2 — round-3 pipeline additions
# ---------------------------------------------------------------------------


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.gopher_quality_flags(_read(spark, sf_dir, "documents"))


_register(
    # Gopher-style quality rules (word-shape subset): every feature is
    # an exact int/int ratio so thresholds compare bit-identically in
    # DuckDB — the whole operator is one codegen'd map stage.
    "doc_gopher_quality",
    _q_gopher_quality,
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ), feat AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
                   / greatest(len(tk), 1) AS mean_word_len,
               CAST(len(list_distinct(tk)) AS DOUBLE)
                   / greatest(len(tk), 1) AS type_token_ratio,
               CAST(list_max(list_transform(
                       list_distinct(tk),
                       w -> len(list_filter(tk, t -> t = w)))) AS DOUBLE)
                   / greatest(len(tk), 1) AS top_word_frac,
               CAST(len(list_filter(
                       list_distinct(tk),
                       t -> list_contains(
                           ['the','a','an','and','or','of','to','in','is',
                            'it','for','on','with','as','by','at','from'],
                           lower(t)))) AS BIGINT) AS stopword_hits
        FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, type_token_ratio, top_word_frac,
           stopword_hits,
           coalesce(n_words >= 20 AND n_words <= 100000, false)
               AS rule_word_count,
           coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false)
               AS rule_word_len,
           coalesce(type_token_ratio >= 0.3, false) AS rule_ttr,
           coalesce(top_word_frac <= 0.12, false) AS rule_top_word,
           coalesce(stopword_hits >= 1, false) AS rule_stopwords,
           (coalesce(n_words >= 20 AND n_words <= 100000, false)
            AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0, false)
            AND coalesce(type_token_ratio >= 0.3, false)
            AND coalesce(top_word_frac <= 0.12, false)
            AND coalesce(stopword_hits >= 1, false)) AS keep
    FROM feat
    """,
    headline=True,
)


def _q_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition rules (registered r16): the other
    half of Gopher's §A1.1 repetition battery beside ngram_dominance —
    duplicate line/paragraph fraction and duplicate-character fraction
    per document, with the Gopher drop thresholds.  The real documents
    carry no newlines (the dedup_paragraphs precedent), so the fixture
    synthesizes multi-line multi-paragraph docs identically in both
    engines: paragraphs [A\\nB, C, D] with A = own text, B = the
    4-block leader's text (B = A exactly when doc_id % 4 == 0),
    C = A when doc_id % 3 == 0 else A || ' q', and D = A\\nB when
    doc_id % 5 == 0 else B\\nA — modular interplay plants line-dup
    fractions in {{2/5..4/5}} and paragraph dups exactly when
    doc_id % 5 == 0 or % 4 == 0.  Every metric is an exact integer
    ratio (single IEEE division) — bit-identical cross-engine.

    Scale shape: entirely row-local (two array splits + per-value
    count folds inside whole-stage codegen) — zero exchanges beyond
    the scan; a pure map stage at 100 TB."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    leaders = docs.select(
        F.col("doc_id").alias("__lid"), F.col("text").alias("__b")
    )
    nl = F.lit("\n")
    nl2 = F.lit("\n\n")
    base = docs.join(
        leaders, (F.col("doc_id") - F.col("doc_id") % 4) == F.col("__lid")
    ).select(
        "doc_id",
        F.concat(
            F.col("text"), nl, F.col("__b"), nl2,
            F.when(F.col("doc_id") % 3 == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" q"))
            ),
            nl2,
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), nl, F.col("__b")),
            ).otherwise(F.concat(F.col("__b"), nl, F.col("text"))),
        ).alias("text"),
    )
    return text.repetition_flags(base)


_REP_METRIC_SQL = """
        CAST(len({a}) AS BIGINT) AS n_{p},
        CASE WHEN len({a}) > 0
             THEN CAST(len({a}) - len(list_distinct({a})) AS DOUBLE)
                  / len({a})
             ELSE 0.0 END AS dup_{p}_frac,
        CASE WHEN coalesce(list_sum(list_transform({a}, x -> length(x))), 0) > 0
             THEN CAST(list_sum(list_transform(
                      list_distinct({a}),
                      v -> CASE WHEN len(list_filter({a}, x -> x = v)) > 1
                                THEN (len(list_filter({a}, x -> x = v)) - 1)
                                     * length(v)
                                ELSE 0 END)) AS DOUBLE)
                  / list_sum(list_transform({a}, x -> length(x)))
             ELSE 0.0 END AS dup_{p}_char_frac
"""

_register(
    "doc_repetition_flags",
    _q_repetition_flags,
    f"""
    WITH base AS (
        SELECT d.doc_id,
               d.text || chr(10) || l.text || chr(10) || chr(10) ||
               CASE WHEN d.doc_id % 3 = 0 THEN d.text
                    ELSE d.text || ' q' END || chr(10) || chr(10) ||
               CASE WHEN d.doc_id % 5 = 0
                    THEN d.text || chr(10) || l.text
                    ELSE l.text || chr(10) || d.text END AS text
        FROM documents d
        JOIN documents l ON l.doc_id = d.doc_id - (d.doc_id % 4)
    ), arrs AS (
        -- content test = the explicit class [^ \\t\\n\\r], NOT trim():
        -- trim strips spaces only, so a whitespace-only paragraph with
        -- an interior newline would count as content (the r16
        -- hypothesis find); matches the Spark-side rlike exactly
        SELECT doc_id,
               coalesce(list_filter(regexp_split_to_array(text, '\\n'),
                                    x -> regexp_matches(x, '[^ \\t\\n\\r]')),
                        []) AS ls,
               coalesce(list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                                    x -> regexp_matches(x, '[^ \\t\\n\\r]')),
                        []) AS ps
        FROM base
    ), m AS (
        SELECT doc_id,
        {_REP_METRIC_SQL.format(a="ls", p="lines")},
        {_REP_METRIC_SQL.format(a="ps", p="paras")}
        FROM arrs
    )
    SELECT doc_id, n_lines, dup_lines_frac AS dup_line_frac,
           dup_lines_char_frac AS dup_line_char_frac,
           n_paras, dup_paras_frac AS dup_para_frac,
           dup_paras_char_frac AS dup_para_char_frac,
           (coalesce(dup_lines_frac <= 0.30, false)
            AND coalesce(dup_paras_frac <= 0.30, false)
            AND coalesce(dup_lines_char_frac <= 0.20, false)
            AND coalesce(dup_paras_char_frac <= 0.20, false)) AS keep
    FROM m
    """,
    headline=True,
)


def _q_char_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution junk-blob filter (registered r16): the
    r15-staged character-entropy candidate, shipped in its
    exact-rational formulation — Simpson concentration
    ``Σ c·(c−1) / (n·(n−1))`` plus modal-glyph share, every emitted
    metric a BIGINT and every threshold a permille-integer
    cross-multiplication, so the cross-engine hash is exact with zero
    float-determinism argument needed (the staging note's named
    alternative to log-entropy ULP drift).

    Fixture plants the three blob shapes the filter exists to catch —
    single-glyph runs of modular length (``repeat('z', 40+40·(id%7))``,
    Simpson 1), tiny-alphabet cycles (``repeat('ab ', 40)``, Simpson
    → 1/3 with modal share 1/3), and empty docs (the ``n < min_chars``
    keep path) — every 13th doc, leaving the rest as natural prose
    that must PASS (spaces included: Simpson ≈ 0.06–0.08, modal
    (space) ≈ 1/6).

    Scale shape: pure map — sort each doc's char array, ONE 5-field
    struct fold (run-length Σ run·(run−1) + max run + distinct-run
    count) inside whole-stage codegen; zero exchanges, zero Python
    (``test_char_concentration_is_pure_map_stage``)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    planted = (
        F.when(
            did % 13 == 0,
            F.repeat(F.lit("z"), ((did % 7) * 40 + 40).cast("int")),
        )
        .when(did % 13 == 1, F.repeat(F.lit("ab "), 40))
        .when(did % 13 == 2, F.lit(""))
        .otherwise(F.col("text"))
    )
    return text.char_concentration_flags(docs.withColumn("text", planted))


_register(
    "doc_char_concentration",
    _q_char_concentration,
    """
    WITH fixture AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0
                    THEN repeat('z', CAST(40 + (doc_id % 7) * 40 AS INT))
                    WHEN doc_id % 13 = 1 THEN repeat('ab ', 40)
                    WHEN doc_id % 13 = 2 THEN ''
                    ELSE text END AS text
        FROM documents WHERE doc_id IS NOT NULL
    ), chars AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ''), c -> c <> '')) AS ch
        FROM fixture
    ), counts AS (
        SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ), m AS (
        SELECT doc_id, sum(c) AS n, count(*) AS nd,
               sum(c * (c - 1)) AS num, max(c) AS topc
        FROM counts GROUP BY doc_id
    )
    -- NULL/empty texts produce no char rows: LEFT JOIN + coalesce 0
    -- mirrors Spark's coalesce-to-empty-array convention.
    SELECT f.doc_id,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n_chars,
           CAST(coalesce(m.nd, 0) AS BIGINT) AS n_distinct_chars,
           CAST(coalesce(m.num, 0) AS BIGINT) AS simpson_num,
           CAST(coalesce(m.topc, 0) AS BIGINT) AS top_char_count,
           (coalesce(m.n, 0) < 20
            OR (1000 * coalesce(m.num, 0)
                    <= 100 * coalesce(m.n, 0) * (coalesce(m.n, 0) - 1)
                AND 1000 * coalesce(m.topc, 0)
                    <= 250 * coalesce(m.n, 0))) AS keep
    FROM fixture f LEFT JOIN m USING (doc_id)
    """,
)


def _dup_windows_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ full copies (doc_id%10=0, +10000) ∪ first-half
    copies (doc_id%10=5, +20000): gives dup_frac exactly 1.0 on full
    pairs, intermediate on half pairs, plus whatever cross-document
    repetition the corpus naturally contains."""
    base = _read(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    full = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    half = base.filter(F.col("doc_id") % 10 == 5).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.expr("substring(text, 1, CAST(n_chars DIV 2 AS INT))").alias("text"),
    )
    return (
        base.select("doc_id", "text").unionByName(full).unionByName(half)
    )


def _q_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.duplicated_token_windows(
        _dup_windows_corpus(spark, sf_dir), window_tokens=16
    )


_register(
    # Exact-substring duplication census (Lee et al. 2022 detection
    # half): md5-fingerprinted 16-token sliding windows, counted across
    # documents.  md5 of the space-joined window makes the fingerprint
    # engine-portable, so DuckDB replays the operator bit-exactly.
    "doc_dup_windows",
    _q_dup_windows,
    """
    WITH aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000, text FROM documents WHERE doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 20000, substr(text, 1, CAST(n_chars // 2 AS INT))
        FROM documents WHERE doc_id % 10 = 5
    ), toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM aug
    ), wins AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(array_to_string(
                   tk[CAST(i AS INT) + 1 : CAST(i AS INT) + 16], ' ')), 1, 15))
                    AS BIGINT) AS w_hash
        FROM toks, UNNEST(range(0, len(tk) - 16 + 1)) AS u(i)
    ), counts AS (
        SELECT w_hash, count(DISTINCT doc_id) AS n_docs
        FROM wins GROUP BY w_hash
    ), per AS (
        SELECT doc_id,
               count(*) AS nw,
               sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS nd
        FROM wins JOIN counts USING (w_hash)
        GROUP BY doc_id
    )
    -- LEFT JOIN from the doc list: short docs (no windows) keep an
    -- n_windows=0 row instead of vanishing, mirroring the engine's
    -- explode_outer
    SELECT t.doc_id,
           CAST(coalesce(nw, 0) AS BIGINT) AS n_windows,
           CAST(coalesce(nd, 0) AS BIGINT) AS n_dup_windows,
           CASE WHEN coalesce(nw, 0) > 0
                THEN CAST(nd AS DOUBLE) / nw ELSE 0.0 END AS dup_frac
    FROM toks t LEFT JOIN per USING (doc_id)
    """,
    headline=True,
)


def _q_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram statistics: top-30 adjacent token pairs.

    zip_with over two shifted slices of the materialized token array
    builds the pair list row-locally (no sequence() — a bare
    sequence(1, 0) is NOT empty, Spark infers step -1); one hash
    aggregation then TakeOrderedAndProject for the top-k — no global
    window, so the ordering cost is O(partitions x k) on the driver,
    not a single-reducer sort."""
    tk = F.col("__toks")
    staged = _read(spark, sf_dir, "documents").select(
        text.tokens(F.col("text")).alias("__toks")
    )
    bigrams = staged.filter(F.size(tk) >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(tk, 1, F.size(tk) - 1),
                F.slice(tk, 2, F.size(tk) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


_register(
    "doc_bigram_counts",
    _q_bigram_counts,
    """
    WITH toks AS (
        SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ), bi AS (
        SELECT tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] AS bigram
        FROM toks, UNNEST(range(1, len(tk))) AS u(i)
        WHERE len(tk) >= 2
    ), counts AS (
        SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bi GROUP BY bigram
    )
    SELECT bigram, n FROM counts ORDER BY n DESC, bigram LIMIT 30
    """,
)


def _q_ngram_dominance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signal: per-document share of bigram instances
    held by the most frequent bigram (``text.ngram_dominance``, n=2 —
    the most discriminating n on this corpus).  Two map-side-partial
    hash aggs keyed on (doc_id, gram); nothing corpus-global, nothing
    collected."""
    return text.ngram_dominance(_read(spark, sf_dir, "documents"), n=2)


_register(
    "doc_ngram_dominance",
    _q_ngram_dominance,
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ), grams AS (
        SELECT doc_id,
               array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 1], ' ') AS g
        FROM toks, UNNEST(range(1, len(tk))) AS u(i)
        WHERE len(tk) >= 2
    ), gc AS (
        SELECT doc_id, g, count(*) AS cnt FROM grams GROUP BY doc_id, g
    ), per AS (
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
               CAST(max(cnt) AS BIGINT) AS top_count
        FROM gc GROUP BY doc_id
    )
    -- LEFT JOIN from the doc list: docs shorter than n keep an
    -- n_grams=0 row (engine explode_outer contract)
    SELECT t.doc_id,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(top_count, 0) AS top_count,
           CASE WHEN coalesce(n_grams, 0) > 0
                THEN CAST(top_count AS DOUBLE) / n_grams ELSE 0.0 END
               AS top_share
    FROM toks t LEFT JOIN per USING (doc_id)
    """,
    headline=True,
)


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction with a planted fixture: every document gets a
    deterministic email + phone appended (the corpus itself contains
    none), so the oracle proves both the match counts and the exact
    redacted text (md5), not a vacuous identity pass.  The planted
    email is MIXED-case (round-7 ADVICE: the patterns are (?i) and the
    fixture must exercise that) — odd doc_ids get an upper-cased
    local-part and domain, even ones stay lowercase, so both branches
    are represented in every run.  The scrub is row-local regexp work
    (``text.pii_scrub``) — zero shuffle."""
    local = F.concat(F.lit("user"), F.col("doc_id").cast("string"))
    domain = F.lit("@mail.example.com")
    email = F.when(
        F.col("doc_id") % 2 == 1,
        F.concat(F.upper(local), F.lit("@Mail.Example.COM")),
    ).otherwise(F.concat(local, domain))
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            email,
            F.lit(" or call 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return text.pii_scrub(docs).select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5(F.col("text").cast("binary")).alias("scrub_fp"),
        F.length("text").cast("long").alias("n_chars_scrubbed"),
    )


_register(
    "doc_pii_scrub",
    _q_pii_scrub,
    """
    WITH planted AS (
        SELECT doc_id,
               text || ' contact ' ||
               CASE WHEN doc_id % 2 = 1
                    THEN upper('user' || CAST(doc_id AS VARCHAR)) ||
                         '@Mail.Example.COM'
                    ELSE 'user' || CAST(doc_id AS VARCHAR) ||
                         '@mail.example.com' END ||
               ' or call 555-' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0') AS text
        FROM documents
    ), em AS (
        SELECT doc_id,
               len(regexp_extract_all(
                   text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS n_emails,
               regexp_replace(
                   text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
                   '<EMAIL>', 'g') AS text
        FROM planted
    ), scrubbed AS (
        -- phones counted on the EMAIL-REDACTED text, mirroring the
        -- engine: a phone-shaped run inside an email local part is
        -- swallowed by <EMAIL> and must not count
        SELECT doc_id, n_emails,
               len(regexp_extract_all(
                   text, '\\b555-[0-9]{3,10}\\b')) AS n_phones,
               regexp_replace(
                   text, '\\b555-[0-9]{3,10}\\b', '<PHONE>', 'g') AS text
        FROM em
    )
    SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           md5(text) AS scrub_fp,
           CAST(length(text) AS BIGINT) AS n_chars_scrubbed
    FROM scrubbed
    """,
    headline=True,
)


def _q_card_scrub(spark, sf_dir):
    """Luhn-verified payment-card redaction (the PAN leg of the PII
    battery): plant the %7 fixture arms — valid Visa/MC/Amex plain and
    grouped, a bad-check-digit twin, a too-short run, and BOTH
    r18-advisor classes (absorbed PAN `4111111111119 000`; a verified
    value recurring inside a longer invalid run) — row-locally over
    the real documents table, then scrub.  The oracle replays the
    ENTIRE algorithm (candidate regex, split-rebuild, separator-
    bounded sub-run scan, exact-integer Luhn fold) via
    ``text.card_scrub_replay_sql``, so natural corpus digit runs are
    judged identically by construction — algorithm-complete, not a
    planted-truth shortcut."""
    did = F.col("doc_id")
    plant = (
        F.when(did % 7 == 0, F.lit(" pay 4111111111111111."))
        .when(did % 7 == 1, F.lit(" card 5500-0000-0000-0004 x"))
        .when(did % 7 == 2, F.lit(" ref 4111111111111112 (bad)"))
        .when(did % 7 == 3, F.lit(" amex 378282246310005"))
        .when(did % 7 == 4, F.lit(" card 4111111111119 000."))
        .when(
            did % 7 == 5,
            F.lit(" pay 4111111111119 and ref 4111111111119 000"),
        )
        .otherwise(F.lit(" order 123456789012"))
    )
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
        .withColumn("text", F.concat(F.col("text"), plant))
    )
    return text.card_scrub(docs)


_CARD_SCRUB_DOCS_SRC = """(
    SELECT doc_id,
           text || CASE doc_id % 7
               WHEN 0 THEN ' pay 4111111111111111.'
               WHEN 1 THEN ' card 5500-0000-0000-0004 x'
               WHEN 2 THEN ' ref 4111111111111112 (bad)'
               WHEN 3 THEN ' amex 378282246310005'
               WHEN 4 THEN ' card 4111111111119 000.'
               WHEN 5 THEN ' pay 4111111111119 and '
                           || 'ref 4111111111119 000'
               ELSE ' order 123456789012' END AS text
    FROM documents
    WHERE doc_id IS NOT NULL AND text IS NOT NULL
)"""

_register(
    "doc_card_scrub",
    _q_card_scrub,
    text.card_scrub_replay_sql(_CARD_SCRUB_DOCS_SRC),
)


def _q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate REMOVAL (``text.remove_duplicated_
    spans`` — the cut half of Lee et al. 2022, composing with the
    ``doc_dup_windows`` census): duplicated >=16-token windows merge
    into maximal spans and are cut from every document.  The corpus
    has real cross-doc duplication (45 docs at sf0.01), so the cut is
    non-vacuous; the oracle replays fingerprinting, island merging and
    the splice, and compares the post-cut text md5-exactly."""
    docs = _read(spark, sf_dir, "documents")
    out = text.remove_duplicated_spans(docs, window_tokens=16)
    return out.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("clean_fp"),
        "n_tokens",
        "n_tokens_kept",
        "n_spans_removed",
    )


_register(
    "doc_dedup_spans",
    _q_dedup_spans,
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ), wins AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               CAST(concat('0x', substr(md5(array_to_string(
                   tk[CAST(i AS INT) + 1 : CAST(i AS INT) + 16], ' ')), 1, 15))
                    AS BIGINT) AS h
        FROM toks, UNNEST(range(0, greatest(len(tk) - 16 + 1, 0))) u(i)
    ), counts AS (
        SELECT h, count(DISTINCT doc_id) AS nd FROM wins GROUP BY h
    ), flagged AS (
        SELECT doc_id, i, i + 15 AS e
        FROM wins JOIN counts USING (h) WHERE nd > 1
    ), isl AS (
        SELECT doc_id, i, e,
               CASE WHEN i > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -2) + 1
                    THEN 1 ELSE 0 END AS brk
        FROM flagged
    ), isl2 AS (
        SELECT doc_id, i, e,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
    ), merged AS (
        SELECT doc_id, island, min(i) AS lo, max(e) AS hi
        FROM isl2 GROUP BY doc_id, island
    ), nspans AS (
        SELECT doc_id, count(*) AS n_spans FROM merged GROUP BY doc_id
    ), covered AS (
        SELECT DISTINCT doc_id, lo + d AS idx
        FROM merged, UNNEST(range(0, hi - lo + 1)) v(d)
    ), tokidx AS (
        SELECT doc_id, CAST(i AS BIGINT) AS idx,
               tk[CAST(i AS INT) + 1] AS tok
        FROM toks, UNNEST(range(0, len(tk))) u(i)
    ), kept AS (
        SELECT t.doc_id, t.idx, t.tok
        FROM tokidx t LEFT JOIN covered c
          ON t.doc_id = c.doc_id AND t.idx = c.idx
        WHERE c.idx IS NULL
    ), agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS txt,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           md5(coalesce(a.txt, '')) AS clean_fp,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
           CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans_removed
    FROM toks t
    LEFT JOIN agg a USING (doc_id)
    LEFT JOIN nspans s USING (doc_id)
    """,
    headline=True,
)


def _q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation v2 composing the round-3 operators: Gopher
    quality rules → exact-substring duplication census (drop docs that
    are >50% duplicated content) → token counting → fixed-budget
    sequence packing; summarized per pack group.  Every stage is the
    same catalog operator the driver checks individually, so this row
    proves the composition, not new primitives."""
    docs = _read(spark, sf_dir, "documents")
    # ONE tokenization / ONE scan of documents for the whole pipeline:
    # every downstream stage consumes the staged __toks array.  The
    # gopher stage appends its keep flag in-line (append=True) so the
    # kept set is a filter, not a join back into a second scan; kept
    # (post-filter doc_id + tokens, the pipeline's working set) is
    # persisted because both the duplication census and the final
    # anti-join/packing branch consume it — without the cache the
    # census subtree would recompute the scan+tokenize per branch
    # (previously 3 full corpus scans; at 100 TB, the difference
    # between one pass and three).
    # spread first: a single-file parquet corpus arrives as one split
    # and would tokenize on one core; at real scale (files >> cores)
    # this is a no-op
    from python_dtl_spark.operators.partitioning import spread

    staged = spread(docs).select(
        "doc_id", text.tokens(F.col("text")).alias("__toks")
    )
    kept = (
        text.gopher_quality_flags(staged, tokens_col="__toks", append=True)
        .filter(F.col("keep"))
        .select("doc_id", "__toks")
        .persist()
    )
    heavy_dup = (
        text.duplicated_token_windows(kept, window_tokens=16, tokens_col="__toks")
        .filter(F.col("dup_frac") > 0.5)
        .select("doc_id")
    )
    curated = kept.join(heavy_dup, on="doc_id", how="left_anti")
    packed = text.pack_token_budget(
        text.token_count(curated, tokens_col="__toks"), budget=512, num_groups=8
    )
    out = (
        packed.groupBy("pack_group")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.max("seq_index") + 1).cast("long").alias("n_seqs"),
        )
        .orderBy("pack_group")
    )
    return dedup._release_after(out, kept)


_register(
    "pipeline_curate_corpus",
    _q_curate_corpus,
    f"""
    WITH toks AS (
        SELECT doc_id, text,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ), feat AS (
        SELECT doc_id, text, tk,
               CAST(len(tk) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
                   / greatest(len(tk), 1) AS mean_word_len,
               CAST(len(list_distinct(tk)) AS DOUBLE)
                   / greatest(len(tk), 1) AS ttr,
               CAST(list_max(list_transform(
                       list_distinct(tk),
                       w -> len(list_filter(tk, t -> t = w)))) AS DOUBLE)
                   / greatest(len(tk), 1) AS top_frac,
               len(list_filter(
                       list_distinct(tk),
                       t -> list_contains(
                           ['the','a','an','and','or','of','to','in','is',
                            'it','for','on','with','as','by','at','from'],
                           lower(t)))) AS stop_hits
        FROM toks
    ), kept AS (
        SELECT doc_id, tk FROM feat
        WHERE n_words >= 20 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND ttr >= 0.3 AND top_frac <= 0.12 AND stop_hits >= 1
    ), wins AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(array_to_string(
                   tk[CAST(i AS INT) + 1 : CAST(i AS INT) + 16], ' ')), 1, 15))
                    AS BIGINT) AS w_hash
        FROM kept, UNNEST(range(0, len(tk) - 16 + 1)) AS u(i)
    ), counts AS (
        SELECT w_hash, count(DISTINCT doc_id) AS n_docs FROM wins GROUP BY w_hash
    ), dupstats AS (
        SELECT doc_id,
               count(*) AS n_w,
               sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS n_d
        FROM wins JOIN counts USING (w_hash)
        GROUP BY doc_id
    ), heavy AS (
        SELECT doc_id FROM dupstats WHERE CAST(n_d AS DOUBLE) / n_w > 0.5
    ), curated AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                 AS pack_group
        FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM heavy)
    ), c AS (
        SELECT doc_id, pack_group, n_tokens,
               sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS s
        FROM curated
    )
    SELECT pack_group,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(s // 512) + 1 AS BIGINT) AS n_seqs
    FROM c
    GROUP BY pack_group
    ORDER BY pack_group
    """,
    headline=True,
)


def _q_pipeline_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup deduplication: MinHash-LSH candidate pairs
    (exact-Jaccard verified) → keep-one connected components → corpus
    summary of the kept documents per source.  Composes the full M6
    near-dup stack through one lazy DAG; the oracle replays components
    with a recursive transitive closure over the exact-Jaccard edge
    set (sound because LSH pair recall is exactly 1 on this corpus —
    same subset+equal-count argument as dedup_minhash_lsh)."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, n=3, num_hashes=32, bands=16, threshold=0.3
    )
    labeled = dedup.keep_one_from_pairs(
        docs.select("doc_id"), pairs, id_col="doc_id"
    )
    kept = docs.join(
        labeled.filter(F.col("keep")).select("doc_id"), on="doc_id", how="left_semi"
    )
    out = (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_chars").cast("long").alias("n_chars_kept"),
        )
        .orderBy("source")
    )
    return dedup._release_after(out, labeled)


_register(
    "pipeline_dedup_corpus",
    _q_pipeline_dedup,
    """
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), ex AS (
        SELECT doc_id, unnest(s) AS f FROM sh
    ), sz AS (
        SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM sh
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jac AS (
        SELECT id_a, id_b
        FROM common
        JOIN sz sa ON common.id_a = sa.doc_id
        JOIN sz sb ON common.id_b = sb.doc_id
        WHERE common / (sa.sz + sb.sz - common) >= 0.3
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM jac
        UNION ALL
        SELECT id_b, id_a FROM jac
    ), reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS (
        SELECT a AS doc_id, min(b) AS cl FROM reach GROUP BY a
    ), keep AS (
        SELECT doc_id FROM labels WHERE doc_id = cl
    )
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(d.n_chars) AS BIGINT) AS n_chars_kept
    FROM documents d JOIN keep USING (doc_id)
    GROUP BY d.source ORDER BY d.source
    """,
    headline=True,
)


# ---------------------------------------------------------------------------
# Group H — TPC-H completion (q2/q11/q16/q19/q20/q21/q22 shapes)
# ---------------------------------------------------------------------------
# The remaining seven TPC-H queries, adapted to the driver schema (no
# partsupp table — supplier×part relationships route through lineitem;
# no l_commitdate/l_receiptdate — q21 lateness is l_shipdate vs
# o_orderdate via datediff_days; no c_phone — q22 selects nation keys
# directly).  With these, all 22 TPC-H query shapes run through the DTL
# engine end-to-end.  Money sums follow the cent-exact discipline
# (round each row to integer cents before summing: integer-valued
# doubles add exactly in any order, so Spark's partial-agg tree and
# DuckDB's sequential fold cannot diverge).

_register(
    # TPC-H q2 minimum-cost-supplier shape: for each LARGE European
    # part, the supplier(s) with the minimum account balance among
    # those that have shipped it.  Exercises the correlated-min
    # pattern: aggregate per group, join back on (group, min) — the
    # scale-safe decorrelation of q2's scalar subquery (two shuffles on
    # p_partkey, no per-row subquery execution).
    "dtl_q2_min_cost_supplier",
    _dtl(
        """
        WITH part AS IMPORT 'part';
        WITH supplier AS IMPORT 'supplier';
        WITH lineitem AS IMPORT 'lineitem';
        WITH nation AS IMPORT 'nation';
        WITH region AS IMPORT 'region';
        WITH shipped AS
            SELECT DISTINCT l_partkey AS q_part, l_suppkey AS q_supp
            FROM lineitem;
        WITH cand AS
            SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
            FROM part
            JOIN shipped ON p_partkey = q_part
            JOIN supplier ON q_supp = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE' & p_type = 'LARGE'
                & int64(p_size) >= 25;
        WITH best AS
            SELECT p_partkey AS bp, min(s_acctbal) AS min_bal
            FROM cand
            GROUP BY p_partkey;
        WITH output AS
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name
            FROM cand
            JOIN best ON p_partkey = bp & s_acctbal = min_bal
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH shipped AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
        SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
        FROM part
        JOIN shipped ON p_partkey = l_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE' AND p_type = 'LARGE' AND p_size >= 25
    ),
    best AS (
        SELECT p_partkey AS bp, min(s_acctbal) AS min_bal
        FROM cand GROUP BY p_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name
    FROM cand JOIN best ON p_partkey = bp AND s_acctbal = min_bal
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)

_register(
    # TPC-H q11 important-stock shape: per-part value of lineitem
    # volume shipped by two nations' suppliers, kept where the part's
    # share exceeds a fraction of the total.  The global total enters
    # as a broadcast single-row aggregate cross join — the scale-safe
    # decorrelation of q11's HAVING scalar subquery.
    "dtl_q11_important_parts",
    _dtl(
        """
        WITH supplier AS IMPORT 'supplier';
        WITH lineitem AS IMPORT 'lineitem';
        WITH nation AS IMPORT 'nation';
        WITH natsupp AS
            SELECT s_suppkey AS nk
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_5' | n_name = 'NATION_6';
        WITH value_by_part AS
            SELECT
                l_partkey,
                sum(round_to(l_extendedprice * (1.0 - l_discount) * 100.0, 0))
                    AS part_cents
            FROM lineitem
            SEMI JOIN natsupp ON l_suppkey = nk
            GROUP BY l_partkey;
        WITH total AS
            SELECT sum(part_cents) AS total_cents FROM value_by_part;
        WITH output AS
            SELECT l_partkey, part_cents / 100.0 AS value
            FROM value_by_part
            CROSS JOIN total
            WHERE part_cents > total_cents * 0.001
            ORDER BY value DESC, l_partkey;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH natsupp AS (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_5', 'NATION_6')
    ),
    value_by_part AS (
        SELECT l_partkey,
               sum(round(l_extendedprice * (1.0 - l_discount) * 100.0))
                   AS part_cents
        FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM natsupp)
        GROUP BY l_partkey
    ),
    total AS (SELECT sum(part_cents) AS total_cents FROM value_by_part)
    SELECT l_partkey, part_cents / 100.0 AS value
    FROM value_by_part, total
    WHERE part_cents > total_cents * 0.001
    ORDER BY value DESC, l_partkey
    """,
)

_register(
    # TPC-H q16 supplier-part-count shape: distinct supplier count per
    # (brand, type, size) for non-excluded parts, with "complaint"
    # suppliers (negative balance here) removed by ANTI JOIN — q16's
    # NOT IN subquery as a broadcastable anti join.
    "dtl_q16_part_supplier_counts",
    _dtl(
        """
        WITH part AS IMPORT 'part';
        WITH supplier AS IMPORT 'supplier';
        WITH lineitem AS IMPORT 'lineitem';
        WITH bad AS
            SELECT s_suppkey AS bk FROM supplier WHERE s_acctbal < 0.0;
        WITH shipped AS
            SELECT DISTINCT l_partkey AS sp_part, l_suppkey AS sp_supp
            FROM lineitem
            ANTI JOIN bad ON l_suppkey = bk;
        WITH output AS
            SELECT
                p_brand, p_type, p_size,
                count_distinct(sp_supp) AS supplier_cnt
            FROM part
            JOIN shipped ON p_partkey = sp_part
            WHERE p_brand != 'Brand#1' & p_type != 'PROMO'
                & int64(p_size) >= 10
            GROUP BY p_brand, p_type, p_size
            ORDER BY supplier_cnt DESC, p_brand, p_type, p_size;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH bad AS (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0),
    shipped AS (
        SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    )
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN shipped ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size >= 10
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

_register(
    # TPC-H q19 discounted-revenue shape: single join with a
    # disjunction of brand/size/quantity conjunctions.  Catalyst pulls
    # the common p_partkey = l_partkey out as the join key and keeps
    # the OR-of-ANDs as a post-join filter; each disjunct's part-side
    # constraints also push into the part scan.
    "dtl_q19_discounted_revenue",
    _dtl(
        """
        WITH part AS IMPORT 'part';
        WITH lineitem AS IMPORT 'lineitem';
        WITH output AS
            SELECT
                sum(round_to(l_extendedprice * (1.0 - l_discount) * 100.0, 0))
                    / 100.0 AS revenue
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#12' & int64(p_size) <= 5
                   & l_quantity >= 1.0 & l_quantity <= 11.0)
                | (p_brand = 'Brand#23' & int64(p_size) <= 10
                   & l_quantity >= 10.0 & l_quantity <= 20.0)
                | (p_brand = 'Brand#15' & int64(p_size) <= 15
                   & l_quantity >= 20.0 & l_quantity <= 30.0);
        EXPORT output TO 'output';
        """
    ),
    """
    SELECT sum(round(l_extendedprice * (1.0 - l_discount) * 100.0)) / 100.0
               AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size <= 5
           AND l_quantity BETWEEN 1.0 AND 11.0)
       OR (p_brand = 'Brand#23' AND p_size <= 10
           AND l_quantity BETWEEN 10.0 AND 20.0)
       OR (p_brand = 'Brand#15' AND p_size <= 15
           AND l_quantity BETWEEN 20.0 AND 30.0)
    """,
    headline=True,
)

_register(
    # TPC-H q20 promotion-supplier shape: suppliers that moved a large
    # quantity of PROMO-type parts in the target year.  Two chained
    # semi joins (lineitem→promo parts, supplier→qualified shippers)
    # replace q20's nested IN subqueries; the per-(supplier, part)
    # HAVING does the availqty-threshold role.
    "dtl_q20_promotion_suppliers",
    _dtl(
        """
        WITH part AS IMPORT 'part';
        WITH supplier AS IMPORT 'supplier';
        WITH lineitem AS IMPORT 'lineitem';
        WITH nation AS IMPORT 'nation';
        WITH promo AS
            SELECT p_partkey AS pk FROM part WHERE p_type = 'PROMO';
        WITH sp AS
            SELECT
                l_suppkey, l_partkey,
                sum(round_to(l_quantity * 100.0, 0)) AS qty_cents
            FROM lineitem
            SEMI JOIN promo ON l_partkey = pk
            WHERE l_shipdate >= timestamp('2000-01-01 00:00:00')
                & l_shipdate < timestamp('2001-01-01 00:00:00')
            GROUP BY l_suppkey, l_partkey
            HAVING sum(round_to(l_quantity * 100.0, 0)) > 5000.0;
        WITH output AS
            SELECT s_name, s_acctbal, n_name
            FROM supplier
            SEMI JOIN sp ON s_suppkey = l_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            ORDER BY s_name;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
    sp AS (
        SELECT l_suppkey
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM promo)
          AND l_shipdate >= TIMESTAMP '2000-01-01'
          AND l_shipdate < TIMESTAMP '2001-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(round(l_quantity * 100.0)) > 5000.0
    )
    SELECT s_name, s_acctbal, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM sp)
    ORDER BY s_name
    """,
)

_register(
    # TPC-H q21 waiting-supplier shape: suppliers that shipped >120
    # days after the order date on finalized multi-supplier orders
    # where they were the ONLY late supplier.  q21's EXISTS becomes a
    # SEMI JOIN (another supplier in the order) and its NOT EXISTS an
    # ANTI JOIN (no other LATE supplier) — both equi-keyed on
    # l_orderkey so they shuffle-partition cleanly, with the != as a
    # residual condition.  `members` is deliberately NOT deduplicated:
    # semi-join existence semantics make the DISTINCT redundant, and
    # dropping it removes a full lineitem-wide aggregation (~40% of the
    # query's warm time at sf0.1).
    "dtl_q21_waiting_suppliers",
    _dtl(
        """
        WITH supplier AS IMPORT 'supplier';
        WITH lineitem AS IMPORT 'lineitem';
        WITH orders AS IMPORT 'orders';
        WITH late AS
            SELECT DISTINCT l_orderkey AS lo, l_suppkey AS ls
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
                & datediff_days(l_shipdate, o_orderdate) > 120;
        WITH members AS
            SELECT l_orderkey AS mo, l_suppkey AS ms
            FROM lineitem;
        WITH late_b AS
            SELECT lo AS lo2, ls AS ls2 FROM late;
        WITH waiting AS
            SELECT lo, ls
            FROM late
            SEMI JOIN members ON lo = mo & ls != ms;
        WITH sole AS
            SELECT lo, ls
            FROM waiting
            ANTI JOIN late_b ON lo = lo2 & ls != ls2;
        WITH output AS
            SELECT s_name, count() AS numwait
            FROM sole
            JOIN supplier ON ls = s_suppkey
            GROUP BY s_name
            ORDER BY numwait DESC, s_name
            LIMIT 20;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH late AS (
        SELECT DISTINCT l_orderkey AS lo, l_suppkey AS ls
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderstatus = 'F'
          AND date_diff('day', CAST(o_orderdate AS DATE),
                        CAST(l_shipdate AS DATE)) > 120
    ),
    members AS (
        SELECT DISTINCT l_orderkey AS mo, l_suppkey AS ms FROM lineitem
    ),
    waiting AS (
        SELECT lo, ls FROM late
        WHERE EXISTS (SELECT 1 FROM members WHERE mo = lo AND ms <> ls)
    ),
    sole AS (
        SELECT lo, ls FROM waiting w
        WHERE NOT EXISTS (
            SELECT 1 FROM late l2 WHERE l2.lo = w.lo AND l2.ls <> w.ls
        )
    )
    SELECT s_name, count(*) AS numwait
    FROM sole JOIN supplier ON ls = s_suppkey
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    headline=True,
)

_register(
    # TPC-H q22 global-sales-opportunity shape: customers from seven
    # nations with above-average positive balance and no recent orders.
    # The average enters as an exact cents ratio from a broadcast
    # single-row aggregate (sum and count are both exact, so the
    # division is bit-identical across engines); "no recent orders" is
    # an ANTI JOIN against the date-filtered orders scan.
    "dtl_q22_global_sales_opportunity",
    _dtl(
        """
        WITH customer AS IMPORT 'customer';
        WITH orders AS IMPORT 'orders';
        WITH nation AS IMPORT 'nation';
        WITH pos AS
            SELECT
                sum(round_to(c_acctbal * 100.0, 0)) AS sum_cents,
                count() AS n_pos
            FROM customer
            WHERE c_acctbal > 0.0;
        WITH avg_bal AS
            SELECT sum_cents / double(n_pos) AS avg_cents FROM pos;
        WITH sel AS
            SELECT c_custkey, c_nationkey, c_acctbal
            FROM customer
            WHERE int64(c_nationkey) = 1 | int64(c_nationkey) = 3
                | int64(c_nationkey) = 5 | int64(c_nationkey) = 7
                | int64(c_nationkey) = 9 | int64(c_nationkey) = 11
                | int64(c_nationkey) = 13;
        WITH rich AS
            SELECT c_custkey, c_nationkey, c_acctbal
            FROM sel
            CROSS JOIN avg_bal
            WHERE round_to(c_acctbal * 100.0, 0) > avg_cents;
        WITH recent AS
            SELECT o_custkey
            FROM orders
            WHERE o_orderdate >= timestamp('2001-01-01 00:00:00');
        WITH noorder AS
            SELECT c_custkey, c_nationkey, c_acctbal
            FROM rich
            ANTI JOIN recent ON c_custkey = o_custkey;
        WITH output AS
            SELECT
                n_name,
                count() AS numcust,
                sum(round_to(c_acctbal * 100.0, 0)) / 100.0 AS totacctbal
            FROM noorder
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY n_name;
        EXPORT output TO 'output';
        """
    ),
    """
    WITH pos AS (
        SELECT sum(round(c_acctbal * 100.0)) AS sum_cents,
               count(*) AS n_pos
        FROM customer WHERE c_acctbal > 0.0
    ),
    sel AS (
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
    ),
    rich AS (
        SELECT sel.* FROM sel, pos
        WHERE round(c_acctbal * 100.0) > sum_cents / n_pos
    ),
    noorder AS (
        SELECT * FROM rich
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2001-01-01'
        )
    )
    SELECT n_name, count(*) AS numcust,
           sum(round(c_acctbal * 100.0)) / 100.0 AS totacctbal
    FROM noorder JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)


# ---------------------------------------------------------------------------
# Group I — round-7: CDC changeset application, SCD2 history, key-skew
# profiling, z-score anomaly gate, Bloom-style decontamination prefilter
# ---------------------------------------------------------------------------


def _q_apply_changes(spark, sf_dir):
    """CDC merge: the orders snapshot updated by a changeset derived
    deterministically from lineitem (each line = one change to its
    order, sequenced by line number; returned lines are deletes).
    Covers all three paths: update (latest upsert wins), delete, and
    insert (synthetic keys beyond the snapshot's range)."""
    snap = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    li = _read(spark, sf_dir, "lineitem")
    base_ch = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_linenumber").cast("long").alias("seq"),
        F.when(F.col("l_returnflag") == "R", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("l_partkey").alias("o_custkey"),
        F.col("l_linestatus").alias("o_orderstatus"),
        F.col("l_extendedprice").alias("o_totalprice"),
    )
    inserts = base_ch.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(3000000)
    )
    return cdc.apply_changes(
        snap,
        base_ch.unionByName(inserts),
        keys=["o_orderkey"],
        seq_col="seq",
        op_col="op",
    )


_register(
    "orders_apply_changes",
    _q_apply_changes,
    """
    WITH base_ch AS (
        SELECT l_orderkey AS o_orderkey,
               CAST(l_linenumber AS BIGINT) AS seq,
               CASE WHEN l_returnflag = 'R' THEN 'delete' ELSE 'upsert' END AS op,
               l_partkey AS o_custkey,
               l_linestatus AS o_orderstatus,
               l_extendedprice AS o_totalprice
        FROM lineitem
    ), ch AS (
        SELECT * FROM base_ch
        UNION ALL
        SELECT o_orderkey + 3000000, seq, op, o_custkey, o_orderstatus,
               o_totalprice
        FROM base_ch WHERE o_orderkey % 7 = 0
    ), latest AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderkey
            ORDER BY seq DESC, CASE WHEN op = 'delete' THEN 0 ELSE 1 END ASC,
                     o_custkey ASC NULLS LAST,
                     o_orderstatus ASC NULLS LAST,
                     o_totalprice ASC NULLS LAST
        ) AS rn
        FROM ch
    ), l1 AS (
        SELECT * FROM latest WHERE rn = 1
    )
    SELECT COALESCE(s.o_orderkey, c.o_orderkey) AS o_orderkey,
           CASE WHEN c.op = 'upsert' THEN c.o_custkey
                ELSE s.o_custkey END AS o_custkey,
           CASE WHEN c.op = 'upsert' THEN c.o_orderstatus
                ELSE s.o_orderstatus END AS o_orderstatus,
           CASE WHEN c.op = 'upsert' THEN c.o_totalprice
                ELSE s.o_totalprice END AS o_totalprice
    FROM orders s FULL OUTER JOIN l1 c
        ON s.o_orderkey IS NOT DISTINCT FROM c.o_orderkey
    WHERE c.op IS NULL OR c.op <> 'delete'
    """,
    headline=True,
)


def _q_scd2(spark, sf_dir):
    """Type-2 dimension history: each order's lineitem change log as
    validity intervals (valid_from = line number, closed by the next
    line, open interval = current)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("seq"),
        F.col("l_linestatus").alias("status"),
        F.col("l_extendedprice").alias("price"),
    )
    return cdc.scd2_history(li, keys=["l_orderkey"], seq_col="seq")


_register(
    "orders_scd2_history",
    _q_scd2,
    """
    WITH d AS (
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS seq,
               max(l_linestatus) AS status, max(l_extendedprice) AS price
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_orderkey, status, price, seq AS valid_from,
           lead(seq) OVER (PARTITION BY l_orderkey ORDER BY seq) AS valid_to,
           lead(seq) OVER (PARTITION BY l_orderkey ORDER BY seq) IS NULL
               AS is_current
    FROM d
    """,
)


def _q_key_profile(spark, sf_dir):
    """Heavy-hitter profile of orders.o_custkey — the pre-flight skew
    report run before keying a shuffle on a column."""
    return stats.key_profile(
        _read(spark, sf_dir, "orders"), ["o_custkey"], top_n=25
    )


_register(
    "orders_key_profile",
    _q_key_profile,
    """
    WITH c AS (
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS total FROM orders
    ), top AS (
        SELECT * FROM c ORDER BY cnt DESC, o_custkey ASC LIMIT 25
    )
    SELECT row_number() OVER (ORDER BY cnt DESC, o_custkey ASC) AS rank,
           o_custkey, cnt,
           CAST(cnt AS DOUBLE) / total AS share,
           CAST(sum(cnt) OVER (ORDER BY cnt DESC, o_custkey ASC
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) / total AS cum_share
    FROM top, t
    """,
    headline=True,
)


def _q_zscore(spark, sf_dir):
    """Per-event-type z-score anomaly gate over the events stream.
    Emits row identity + the z statistic (rounded to 6dp); margins
    between every |z| and the 3.0 threshold are >= 3e-4 at this corpus
    (measured at sf0.01 and sf0.1), orders of magnitude above
    cross-engine double-summation ulp noise, so the oracle is a full
    value hash."""
    ev = _read_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = stats.zscore_outliers(ev, "value", ["event_type"], z=3.0)
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("zscore", 6).alias("zscore_r"),
    )


_register(
    "events_zscore_outliers",
    _q_zscore,
    """
    WITH s AS (
        -- NaN masked from the aggregates, mirroring the engine: one
        -- corrupt reading would otherwise poison the group's stats
        SELECT event_type,
               avg(CASE WHEN NOT isnan(value) THEN value END) AS m,
               stddev_pop(CASE WHEN NOT isnan(value) THEN value END) AS sd
        FROM events GROUP BY 1
    ), j AS (
        SELECT e.event_id, e.event_type, e.value,
               CASE WHEN sd > 0.0 AND NOT isnan(value)
                    THEN (value - m) / sd ELSE 0.0 END AS z
        -- null-safe join-back mirroring the engine's eqNullSafe
        -- (stats.py zscore_outliers): NULL event_type is a group like
        -- any other; USING would silently drop its outliers — the
        -- same divergence fixed for mad_outliers in round 9
        FROM events e JOIN s ON e.event_type IS NOT DISTINCT FROM s.event_type
    )
    SELECT event_id, event_type, value, round(z, 6) AS zscore_r
    FROM j WHERE abs(z) > 3.0
    """,
)


def _q_decontaminate_prefiltered(spark, sf_dir):
    """decontaminate_train_test's exact output through the Bloom-style
    train-side prefilter (broadcast semi join on xxhash64 % m bucket
    ids — a single-hash Bloom expressed relationally).  Same oracle
    SQL as the unfiltered query: the prefilter is lossless because
    false positives die in the exact equi-join."""
    docs = _read(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="s1"
    )
    train = split.filter(F.col("split") == "train").select("doc_id", "text")
    evals = split.filter(F.col("split") == "test").select("doc_id", "text")
    return dedup.contamination_pairs(
        train, evals, n=3, min_common=5, prefilter_buckets=1 << 22
    )


_register(
    "decontaminate_prefiltered",
    _q_decontaminate_prefiltered,
    f"""
    WITH split AS (
        SELECT doc_id, text,
               CASE WHEN doc_id IS NULL THEN NULL
                    WHEN {_CONTAM_B} < 8000 THEN 'train'
                    WHEN {_CONTAM_B} < 9000 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), toks AS (
        SELECT doc_id, split,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS t
        FROM split
    ), sh AS (
        SELECT doc_id, split,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), t_ex AS (
        SELECT doc_id AS train_id, unnest(s) AS f FROM sh WHERE split = 'train'
    ), e_ex AS (
        SELECT doc_id AS eval_id, unnest(s) AS f FROM sh WHERE split = 'test'
    ), e_sz AS (
        SELECT doc_id AS eval_id, CAST(len(s) AS BIGINT) AS eval_size
        FROM sh WHERE split = 'test'
    ), common AS (
        SELECT train_id, eval_id, count(*) AS common
        FROM t_ex JOIN e_ex USING (f)
        GROUP BY train_id, eval_id
        HAVING count(*) >= 5
    )
    SELECT train_id, eval_id, CAST(common AS BIGINT) AS common,
           eval_size, common / eval_size AS overlap
    FROM common JOIN e_sz USING (eval_id)
    """,
)


def _q_domain_quota(spark, sf_dir):
    """Per-domain contribution cap: at most 15 documents per source,
    selected by hashed-doc_id order — deterministic across retries and
    engines, rank-limit pruned map-side (WindowGroupLimit)."""
    return sampling.domain_quota(
        _read(spark, sf_dir, "documents"), "source", "doc_id", quota=15, seed="q1"
    ).select("doc_id", "source")


_register(
    "doc_domain_quota",
    _q_domain_quota,
    """
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('q1' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS r
        FROM documents WHERE doc_id IS NOT NULL
    ) WHERE r <= 15
    """,
    headline=True,
)


def _q_temperature_mix(spark, sf_dir):
    """Temperature-based language rebalancing (alpha = 1/2): every lang
    keeps fraction (n_min/n_lang)^(1/2), decided by an exact integer
    comparison — no floating pow anywhere, so the oracle replays the
    boundary bit-for-bit."""
    from fractions import Fraction

    return sampling.temperature_resample(
        _read(spark, sf_dir, "documents"),
        "lang",
        "doc_id",
        alpha=Fraction(1, 2),
        seed="t1",
    ).select("doc_id", "lang")


_register(
    "doc_temperature_mix",
    _q_temperature_mix,
    "SELECT doc_id, lang FROM ("
    + sampling.temperature_thresholds_sql(
        "documents", "lang", "doc_id", __import__("fractions").Fraction(1, 2), seed="t1"
    )
    + ")",
    headline=True,
)


def _q_target_mix(spark, sf_dir):
    """Exact target-mixture resample (staged in r11, registered r12):
    keep w_s x K rows per source for K = min floor(n_s / w_s) — the
    LLM data-mixture knob, decided in integer arithmetic and selected
    by md5-hash rank, so DuckDB re-derives counts, K, quotas and the
    kept set exactly (oracle pre-validated in
    tests/test_operators.py::test_target_mix_resample_matches_duckdb_replay
    at sf0.001/0.01/0.1 before registration).  At 100 TB a hot stratum
    pre-caps with domain_quota to restore the WindowGroupLimit map-side
    prune (see pipeline_mix_precap and test_plans.py)."""
    return sampling.target_mix_resample(
        _read(spark, sf_dir, "documents"),
        "source",
        "doc_id",
        {"src1": 3, "src2": 2, "src3": 1},
        seed="m1",
    ).select("doc_id", "source")


_register(
    "doc_target_mix",
    _q_target_mix,
    """
    WITH w(source, wt) AS (VALUES ('src1', 3), ('src2', 2), ('src3', 1)),
    n AS (
        SELECT d.source, count(*) AS n, any_value(w.wt) AS wt
        FROM documents d JOIN w USING (source)
        WHERE d.doc_id IS NOT NULL
        GROUP BY d.source
    ), k AS (SELECT min(n // wt) AS k FROM n),
    q AS (SELECT source, wt * (SELECT k FROM k) AS quota FROM n)
    SELECT doc_id, source FROM (
        SELECT d.doc_id, d.source, q.quota,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('m1' || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id
               ) AS rn
        FROM documents d JOIN q USING (source)
        WHERE d.doc_id IS NOT NULL
    ) WHERE rn <= quota
    """,
    headline=True,
)

# DuckDB replay fragments for the NB classifier oracle, shared with the
# composed curation row: whitespace tokens (the engine's tokens() rule)
# and the deterministic md5 fit sample (hash_bucket with seed nb-l).
_NB_TOKS = (
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
    " x -> x <> '')"
)
_NB_SAMPLE = sampling.hash_bucket_sql("doc_id", seed="nb-l") + " < 5000"


def _nb_oracle_sql(extra: str = "") -> str:
    """The full NB replay: md5-sampled fit, per-class token counts,
    (freq DESC, token ASC) vocabulary prune to 200, per-document
    Laplace log scores, (score DESC, label ASC) argmax.  ``extra``
    appends post-classification SQL (the curation row's filter)."""
    return f"""
    WITH labeled AS (
        SELECT doc_id, lang AS label, {_NB_TOKS} AS t
        FROM documents WHERE lang IS NOT NULL AND {_NB_SAMPLE}
    ), tokc AS (
        SELECT token, label, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT label, unnest(t) AS token FROM labeled)
        GROUP BY token, label
    ), vocab AS (
        SELECT token FROM (
            SELECT token,
                   row_number() OVER (ORDER BY sum(freq) DESC, token) AS rn
            FROM tokc GROUP BY token HAVING sum(freq) >= 1
        ) WHERE rn <= 200
    ), tc AS (SELECT tokc.* FROM tokc JOIN vocab USING (token)),
    cstat AS (
        SELECT d.label, d.n_docs, coalesce(s.n_tokens, 0) AS n_tokens
        FROM (SELECT lang AS label, count(*) AS n_docs FROM documents
              WHERE lang IS NOT NULL AND {_NB_SAMPLE} GROUP BY lang) d
        LEFT JOIN (SELECT label, sum(freq) AS n_tokens FROM tc
                   GROUP BY label) s USING (label)
    ), vsz AS (SELECT count(DISTINCT token) AS V FROM tc),
    alltoks AS (
        SELECT doc_id, unnest({_NB_TOKS}) AS token FROM documents
    ), scored AS (
        SELECT a.doc_id, c.label,
               sum(ln((coalesce(tc.freq, 0) + 1.0) /
                      (c.n_tokens + 1.0 * (v.V + 1)))) AS s
        FROM alltoks a
        CROSS JOIN cstat c
        CROSS JOIN vsz v
        LEFT JOIN tc ON tc.token = a.token AND tc.label = c.label
        GROUP BY a.doc_id, c.label
    ), final AS (
        SELECT d.doc_id, c.label,
               coalesce(s.s, 0.0) + ln(c.n_docs) AS score
        FROM (SELECT doc_id FROM documents) d
        CROSS JOIN cstat c
        LEFT JOIN scored s ON s.doc_id = d.doc_id AND s.label = c.label
    ), classified AS (
        SELECT doc_id, label AS predicted_label FROM (
            SELECT doc_id, label,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, label) AS rn
            FROM final
        ) WHERE rn = 1
    )
    {extra if extra else "SELECT doc_id, predicted_label FROM classified"}
    """


def _q_nb_classify(spark, sf_dir):
    """Naive-Bayes language classifier (staged in r11, registered r12):
    fit exact integer sufficient statistics on a deterministic md5-hash
    half of the labeled corpus, score every document, emit the argmax.
    Output is argmax-only (no float columns): measured min top-2 score
    gap is ~5e-4 in log space, five orders above cross-engine libm
    drift, so the label is engine-stable (oracle pre-validated in
    tests/test_operators.py::test_nb_language_matches_duckdb_replay at
    sf0.001/0.01/0.1 before registration).  Scale shape: fit = one
    explode + one (token, label) agg + TakeOrderedAndProject vocab
    prune; apply = explode -> ONE broadcast model join -> one doc-grain
    agg + id join-back; zero Python."""
    docs = _read(spark, sf_dir, "documents")
    # ONE tokenize pass shared by fit and scoring (r20): both default
    # to tokens(lower(text)) per document; staging the array once and
    # passing tokens_col halves the regex-split work (fit-at-sample +
    # full-corpus score would otherwise each re-tokenize).  Persisted
    # (MEMORY_AND_DISK, release-registered) — the curate_corpus staged-
    # tokens precedent.
    docs = docs.withColumn(
        "__toks", text.tokens(F.lower(F.col("text")))
    ).persist()
    tc, cs = classify.nb_fit(
        docs, "lang", sample_fraction=0.5, sample_seed="nb-l",
        min_count=1, max_vocab=200, tokens_col="__toks",
    )
    out = classify.nb_apply(
        docs, tc, cs, alpha=1.0, tokens_col="__toks"
    ).select("doc_id", "predicted_label")
    return dedup._release_after(out, docs)


_register(
    "doc_nb_classify",
    _q_nb_classify,
    _nb_oracle_sql(),
    headline=True,
)


def _q_nb_curate(spark, sf_dir):
    """The GPT-3-style classifier-curation pipeline the NB operator
    exists for: fit the language model on the deterministic md5-hash
    labeled sample, score the WHOLE corpus, keep documents the
    classifier calls English, then cap any one source's contribution
    (the C4 / Pile "quality-filter then de-bias the mix" chain).
    The oracle replays the entire composition: the NB fit sample,
    vocabulary prune, per-document argmax AND the md5-rank domain cap.

    Scale shape: the model fit runs at sample scale collecting only
    model-sized results; the corpus path is one explode -> broadcast
    model join -> doc-grain agg -> id join-back -> filter, then the
    quota rank's ONE hash exchange with WindowGroupLimit pruning on
    both sides (plan-asserted) — the classifier filter only SHRINKS
    the rows entering the cap's shuffle."""
    docs = _read(spark, sf_dir, "documents")
    # ONE tokenize pass shared by fit and scoring (r20): both default
    # to tokens(lower(text)) per document; staging the array once and
    # passing tokens_col halves the regex-split work (fit-at-sample +
    # full-corpus score would otherwise each re-tokenize).  Persisted
    # (MEMORY_AND_DISK, release-registered) — the curate_corpus staged-
    # tokens precedent.
    docs = docs.withColumn(
        "__toks", text.tokens(F.lower(F.col("text")))
    ).persist()
    tc, cs = classify.nb_fit(
        docs, "lang", sample_fraction=0.5, sample_seed="nb-l",
        min_count=1, max_vocab=200, tokens_col="__toks",
    )
    scored = classify.nb_apply(docs, tc, cs, alpha=1.0, tokens_col="__toks")
    kept = scored.filter(F.col("predicted_label") == "en")
    out = sampling.domain_quota(
        kept, "source", "doc_id", quota=10, seed="c1"
    ).select("doc_id", "source")
    return dedup._release_after(out, docs)


_register(
    "pipeline_nb_curate",
    _q_nb_curate,
    _nb_oracle_sql(
        """
    SELECT doc_id, source FROM (
        SELECT d.doc_id, d.source,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('c1' || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id
               ) AS r
        FROM documents d JOIN classified c USING (doc_id)
        WHERE c.predicted_label = 'en' AND d.doc_id IS NOT NULL
    ) WHERE r <= 10
    """
    ),
    headline=True,
)

# DuckDB replay fragments for the bigram-LM oracle (registered r13 per
# COVERAGE.md's staging plan), shared with the composed curation row:
# same whitespace tokens as the NB rows, md5 fit sample with seed lm-l.
_LM_SAMPLE = sampling.hash_bucket_sql("doc_id", seed="lm-l") + " < 5000"


def _lm_oracle_sql(extra: str = "") -> str:
    """The full bigram-LM replay: md5-sampled fit, unigram/bigram
    counts, (freq DESC, w ASC) vocabulary prune to 300, per-document
    transition joins and the five EXACT-INTEGER diagnostics.  The
    ``diag`` CTE also carries the float ``ll`` log-likelihood sum and
    vocabulary size ``V`` so a composed ``extra`` can replay the
    perplexity threshold the curation pipeline filters on (the NB
    ``extra`` pattern); the plain row selects integers only."""
    return f"""
    WITH fit AS (
        SELECT doc_id, {_NB_TOKS} AS t FROM documents WHERE {_LM_SAMPLE}
    ), uni_all AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(t) AS w FROM fit) GROUP BY w
    ), vocab AS (
        SELECT w, freq FROM (
            SELECT w, freq,
                   row_number() OVER (ORDER BY freq DESC, w) AS rn
            FROM uni_all WHERE freq >= 1
        ) WHERE rn <= 300
    ), vsz AS (SELECT count(*) AS V FROM vocab),
    bi_all AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT p['w1'] AS w1, p['w2'] AS w2 FROM (
                SELECT unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                               FOR i IN range(1, len(t))]) AS p
                FROM fit
            )
        ) GROUP BY w1, w2
    ), bi AS (
        SELECT b.* FROM bi_all b
        JOIN vocab x ON b.w1 = x.w
        JOIN vocab y ON b.w2 = y.w
    ), trans AS (
        SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
            SELECT doc_id,
                   unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                           FOR i IN range(1, len(t))]) AS p
            FROM (SELECT doc_id, {_NB_TOKS} AS t FROM documents)
        )
    ), scored AS (
        SELECT tr.doc_id,
               count(*) AS n_trans,
               sum(CASE WHEN bi.freq IS NULL THEN 1 ELSE 0 END) AS n_unseen,
               sum(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END) AS n_oov_ctx,
               sum(coalesce(bi.freq, 0)) AS sum_bigram_freq,
               sum(coalesce(v.freq, 0)) AS sum_context_freq,
               sum(ln((coalesce(bi.freq, 0) + 1.0) /
                      (coalesce(v.freq, 0) + 1.0 * ((SELECT V FROM vsz) + 1))))
                   AS ll
        FROM trans tr
        LEFT JOIN bi ON bi.w1 = tr.w1 AND bi.w2 = tr.w2
        LEFT JOIN vocab v ON v.w = tr.w1
        GROUP BY tr.doc_id
    ), diag AS (
        SELECT d.doc_id,
               CAST(coalesce(s.n_trans, 0) AS BIGINT) AS n_trans,
               CAST(coalesce(s.n_unseen, 0) AS BIGINT) AS n_unseen,
               CAST(coalesce(s.n_oov_ctx, 0) AS BIGINT) AS n_oov_ctx,
               CAST(coalesce(s.sum_bigram_freq, 0) AS BIGINT)
                   AS sum_bigram_freq,
               CAST(coalesce(s.sum_context_freq, 0) AS BIGINT)
                   AS sum_context_freq,
               s.ll AS ll
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN scored s USING (doc_id)
    )
    {extra if extra else '''SELECT doc_id, n_trans, n_unseen, n_oov_ctx,
           sum_bigram_freq, sum_context_freq FROM diag'''}
    """


def _q_lm_score(spark, sf_dir):
    """Bigram-LM perplexity quality scorer (staged in r12, registered
    r13): fit smoothed bigram statistics on a deterministic md5-hash
    half of the corpus, score every document, emit the EXACT-INTEGER
    diagnostics that pin every model lookup (the CCNet / LLaMA "score
    the crawl with a cheap LM" filter, Wenzek et al. 2020; the float
    perplexity column stays out of the driver hash — a sum of ln()
    terms is neither order-stable nor libm-portable, the same
    argmax-vs-log split as doc_nb_classify; oracle pre-validated in
    tests/test_operators.py::test_lm_perplexity_matches_duckdb_replay
    at sf0.001/0.01/0.1 before registration).  Scale shape: fit = one
    explode + ONE (w1, w2) hash agg + TakeOrderedAndProject vocab
    prune; apply = pair explode -> ONE broadcast bigram join + ONE
    broadcast unigram join -> one doc-grain agg + id join-back; zero
    Python."""
    docs = _read(spark, sf_dir, "documents")
    # ONE tokenize pass shared by fit and scoring (r20): both default
    # to tokens(lower(text)) per document; staging the array once and
    # passing tokens_col halves the regex-split work (fit-at-sample +
    # full-corpus score would otherwise each re-tokenize).  Persisted
    # (MEMORY_AND_DISK, release-registered) — the curate_corpus staged-
    # tokens precedent.
    docs = docs.withColumn(
        "__toks", text.tokens(F.lower(F.col("text")))
    ).persist()
    bi, uni = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300, tokens_col="__toks",
    )
    out = classify.lm_perplexity(
        docs, bi, uni, tokens_col="__toks"
    ).select(
        "doc_id", "n_trans", "n_unseen", "n_oov_ctx",
        "sum_bigram_freq", "sum_context_freq",
    )
    return dedup._release_after(out, docs)


_register(
    "doc_lm_score",
    _q_lm_score,
    _lm_oracle_sql(),
    headline=True,
)


def _q_epoch_upsample(spark, sf_dir):
    """Per-stratum integer epoch upsampling (staged in r12, registered
    r13): every src1 row appears 3 times, src3 twice, src2 is dropped,
    unlisted sources default to 1 epoch — The Pile's per-component
    epoch recipe, the upsample complement of the downsample-only
    mixers (oracle pre-validated in tests/test_operators.py::
    test_epoch_upsample_matches_duckdb_replay at sf0.001/0.01/0.1
    before registration).  Scale shape: ONE broadcast join against the
    3-row epoch map + a row-local explode(sequence) fan-out — zero
    shuffle, zero Python (plan-asserted in test_plans.py)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.epoch_upsample(
        docs, "source", {"src1": 3, "src2": 0, "src3": 2}
    ).select("doc_id", "source", "epoch")


_register(
    "doc_epoch_upsample",
    _q_epoch_upsample,
    """
    WITH m(source, e) AS (VALUES ('src1', 3), ('src2', 0), ('src3', 2)),
    j AS (
        SELECT d.doc_id, d.source, coalesce(m.e, 1) AS n
        FROM documents d LEFT JOIN m USING (source)
    )
    SELECT doc_id, source,
           CAST(unnest([i FOR i IN range(0, n)]) AS BIGINT) AS epoch
    FROM j WHERE n > 0
    """,
    headline=True,
)


def _q_lm_curate(spark, sf_dir):
    """The CCNet-style perplexity-curation pipeline the LM operator
    exists for (Wenzek et al. 2020): fit the bigram LM on the
    deterministic md5-hash half of the corpus, perplexity-score the
    WHOLE corpus, keep the low-perplexity "head" slice (perplexity <=
    30.0), then cap any one source's contribution — the quality-filter
    then de-bias-the-mix chain, mirroring pipeline_nb_curate.  The
    oracle replays the entire composition: fit sample, vocab prune,
    per-doc ln-sum perplexity, the threshold, AND the md5-rank cap.

    The 30.0 threshold's hash-stability: the filter compares a float
    (exp of an ln-sum) but the measured min relative margin
    |perplexity - 30| / 30 over every document is 4.1e-4 at sf0.01
    (the driver gate), 1.2e-4 at sf0.001 and 1.9e-5 at sf0.1 — at
    least EIGHT orders above cross-engine libm + summation-order
    drift (~1e-13), the same measured-gap argument that lets
    doc_nb_classify hash its argmax.  Kept slice is a real split at
    every scale: 179/500, 192/500, 373/5000.

    Scale shape: fit at sample scale; score = pair explode -> two
    broadcast model joins -> ONE doc-grain agg + id join-back; the
    threshold filter SHRINKS rows entering the cap's single
    WindowGroupLimit-pruned hash exchange (the pipeline_nb_curate
    plan shape)."""
    docs = _read(spark, sf_dir, "documents")
    # ONE tokenize pass shared by fit and scoring (r20): both default
    # to tokens(lower(text)) per document; staging the array once and
    # passing tokens_col halves the regex-split work (fit-at-sample +
    # full-corpus score would otherwise each re-tokenize).  Persisted
    # (MEMORY_AND_DISK, release-registered) — the curate_corpus staged-
    # tokens precedent.
    docs = docs.withColumn(
        "__toks", text.tokens(F.lower(F.col("text")))
    ).persist()
    bi, uni = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300, tokens_col="__toks",
    )
    scored = classify.lm_perplexity(docs, bi, uni, tokens_col="__toks")
    kept = scored.filter(
        (F.col("n_trans") > 0) & (F.col("perplexity") <= 30.0)
    )
    out = sampling.domain_quota(
        kept, "source", "doc_id", quota=10, seed="lc1"
    ).select("doc_id", "source")
    return dedup._release_after(out, docs)


_register(
    "pipeline_lm_curate",
    _q_lm_curate,
    _lm_oracle_sql(
        """
    SELECT doc_id, source FROM (
        SELECT d.doc_id, d.source,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY md5('lc1' || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id
               ) AS r
        FROM documents d JOIN diag g USING (doc_id)
        WHERE g.n_trans > 0 AND exp(-g.ll / g.n_trans) <= 30.0
          AND d.doc_id IS NOT NULL
    ) WHERE r <= 10
    """
    ),
    headline=True,
)


def _q_epoch_emit(spark, sf_dir):
    """The full training-data EMISSION chain under one hash: exact
    target mixture (src1:src2:src3 = 3:2:1 by md5 rank) -> per-stratum
    epoch replication (src1 x2, src3 x3, src2 defaults to 1) ->
    deterministic shuffle-sharding of the REPLICAS on the composite
    key doc_id#epoch (the recipe property-tested in
    test_epoch_upsample_composes_with_shuffle_shards: replicas of one
    document are independent emission rows, landing in different
    shards, reproducibly).  "Mix -> epochs -> shards" is how an LLM
    run actually consumes a curated corpus (The Pile's per-component
    epochs over a fixed mixture).

    Scale shape: the mix's one rank exchange; the upsample adds ZERO
    exchanges (broadcast 2-row map join + row-local explode(sequence));
    the sharder adds exactly ONE hash exchange on shard with
    per-shard parallel sorts (plan-asserted in test_plans.py).  Every
    coordinate is md5-derived, so DuckDB replays the whole chain
    bit-for-bit."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    mixed = sampling.target_mix_resample(
        docs, "source", "doc_id", {"src1": 3, "src2": 2, "src3": 1},
        seed="em1",
    )
    up = sampling.epoch_upsample(mixed, "source", {"src1": 2, "src3": 3})
    keyed = up.withColumn(
        "__emit_key", F.concat_ws("#", F.col("doc_id"), F.col("epoch"))
    )
    return sampling.shuffle_shards(keyed, "__emit_key", 8, seed="sh-e").select(
        "doc_id", "source", "epoch", "shard", "shard_pos"
    )


_EMIT_KEY_SQL = "CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)"
_EMIT_SHARD, _EMIT_ORD = sampling.shuffle_shards_sql(
    _EMIT_KEY_SQL, 8, seed="sh-e"
)

_register(
    "pipeline_epoch_emit",
    _q_epoch_emit,
    f"""
    WITH w(source, wt) AS (VALUES ('src1', 3), ('src2', 2), ('src3', 1)),
    n AS (
        SELECT d.source, count(*) AS n, any_value(w.wt) AS wt
        FROM documents d JOIN w USING (source)
        WHERE d.doc_id IS NOT NULL
        GROUP BY d.source
    ), k AS (SELECT min(n // wt) AS k FROM n),
    q AS (SELECT source, wt * (SELECT k FROM k) AS quota FROM n),
    mixed AS (
        SELECT doc_id, source FROM (
            SELECT d.doc_id, d.source, q.quota,
                   row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY md5('em1' || CAST(d.doc_id AS VARCHAR)),
                                d.doc_id
                   ) AS rn
            FROM documents d JOIN q USING (source)
            WHERE d.doc_id IS NOT NULL
        ) WHERE rn <= quota
    ), m(source, e) AS (VALUES ('src1', 2), ('src3', 3)),
    j AS (
        SELECT x.doc_id, x.source, coalesce(m.e, 1) AS reps
        FROM mixed x LEFT JOIN m USING (source)
    ), up AS (
        SELECT doc_id, source,
               CAST(unnest([i FOR i IN range(0, reps)]) AS BIGINT) AS epoch
        FROM j WHERE reps > 0
    ), h AS (
        SELECT doc_id, source, epoch,
               CAST({_EMIT_SHARD} AS INTEGER) AS shard,
               {_EMIT_ORD} AS o,
               {_EMIT_KEY_SQL} AS kk
        FROM up
    )
    SELECT doc_id, source, epoch, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY o, kk
           ) AS BIGINT) AS shard_pos
    FROM h
    """,
    headline=True,
)


# DuckDB replay fragments for the DSIR oracle (registered r14 per
# COVERAGE.md's staging plan; Xie et al. 2023): the same whitespace
# tokens as the NB/LM rows, unigram + space-joined-bigram features,
# md5 hash_bucket with seed ds1 into the paper's 10,000-bucket table.
_DSIR_BKT = sampling.hash_bucket_sql("f", seed="ds1")


def _dsir_oracle_sql(extra: str = "") -> str:
    """The full DSIR replay: feature CTE (unigrams UNION ALL adjacent
    bigrams), md5 bucketing, both fitted count tables (target = the
    src1 slice, raw = the whole corpus), per-doc EXACT-INTEGER
    diagnostics.  The ``diag`` CTE also carries the float ``lw``
    log-weight sum so a composed ``extra`` can replay the rank-based
    selection the pipeline filters on (the LM ``extra`` pattern); the
    plain row selects integers only."""
    return f"""
    WITH feats AS (
        SELECT doc_id, unnest(t) AS f
        FROM (SELECT doc_id, {_NB_TOKS} AS t FROM documents)
        UNION ALL
        SELECT doc_id, p['w1'] || ' ' || p['w2'] AS f FROM (
            SELECT doc_id,
                   unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                           FOR i IN range(1, len(t))]) AS p
            FROM (SELECT doc_id, {_NB_TOKS} AS t FROM documents)
        )
    ), fb AS (SELECT doc_id, {_DSIR_BKT} AS bucket FROM feats),
    tmodel AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS tf
        FROM fb JOIN documents USING (doc_id)
        WHERE documents.source = 'src1' GROUP BY bucket
    ), rmodel AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS rf
        FROM fb GROUP BY bucket
    ), tot AS (
        SELECT (SELECT sum(tf) FROM tmodel) AS T,
               (SELECT sum(rf) FROM rmodel) AS R
    ), scored AS (
        SELECT fb.doc_id,
               count(*) AS n_feats,
               sum(coalesce(t.tf, 0)) AS sum_target_freq,
               sum(coalesce(r.rf, 0)) AS sum_raw_freq,
               sum(CASE WHEN t.tf IS NULL THEN 1 ELSE 0 END)
                   AS n_unseen_target,
               sum(CASE WHEN r.rf IS NULL THEN 1 ELSE 0 END)
                   AS n_unseen_raw,
               sum(ln((coalesce(t.tf, 0) + 1.0) / (tot.T + 10000.0))
                   - ln((coalesce(r.rf, 0) + 1.0) / (tot.R + 10000.0)))
                   AS lw
        FROM fb CROSS JOIN tot
        LEFT JOIN tmodel t USING (bucket)
        LEFT JOIN rmodel r USING (bucket)
        GROUP BY fb.doc_id
    ), diag AS (
        SELECT d.doc_id,
               CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
               CAST(coalesce(s.sum_target_freq, 0) AS BIGINT)
                   AS sum_target_freq,
               CAST(coalesce(s.sum_raw_freq, 0) AS BIGINT)
                   AS sum_raw_freq,
               CAST(coalesce(s.n_unseen_target, 0) AS BIGINT)
                   AS n_unseen_target,
               CAST(coalesce(s.n_unseen_raw, 0) AS BIGINT)
                   AS n_unseen_raw,
               coalesce(s.lw, 0.0) AS lw
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN scored s USING (doc_id)
    )
    {extra if extra else '''SELECT doc_id, n_feats, sum_target_freq,
           sum_raw_freq, n_unseen_target, n_unseen_raw FROM diag'''}
    """


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weighting (staged in r13, registered r14; Xie
    et al. 2023 "Data Selection for Language Models via Importance
    Resampling" — the standard "select pretraining data that looks
    like the target domain" recipe, the selection complement of the
    LM perplexity filter): fit hashed unigram+bigram bucket counts on
    the TARGET slice (source src1) and the RAW corpus, score every
    document's log importance weight, emit the EXACT-INTEGER per-doc
    diagnostics that pin every model lookup (the doc_lm_score split:
    the float log weight is a sum of ln() terms — neither
    order-stable nor libm-portable — so it stays unit-verified
    against a literal reference and an independent DuckDB replay,
    tests/test_operators.py::test_dsir_weights_match_duckdb_replay,
    pre-validated at sf0.001/0.01/0.1 before registration).

    Scale shape: fit = row-local feature explode → ONE bucket-grain
    hash agg (≤ 10,000 groups, map-side partials), zero joins; the
    model is bucket-table-sized whatever the corpus.  Apply = feature
    explode → TWO broadcast joins against the ≤ 10,000-row models →
    ONE doc-grain agg + id join-back in one lazy plan that caches
    nothing and computes one bucket-grain shuffle for both models (the
    totals' scalar subqueries are pruned: no weight is emitted); zero
    Python (tests/test_plans.py)."""
    docs = _read(spark, sf_dir, "documents")
    # one-pass split fit over a SHARED pre-bucketed feature plan: its
    # target and raw slices compute one bucket shuffle between them
    # (AQE reuses it), and the scoring explodes the corpus once more —
    # identical tables to the two dsir_fit calls this replaced
    feats = classify.dsir_features(
        docs, F.col("source") == "src1", seed="ds1"
    )
    tc, rc = classify.dsir_fit_split(
        docs, F.col("source") == "src1", seed="ds1", features=feats
    )
    return classify.dsir_weights(
        docs, tc, rc, seed="ds1", features=feats
    ).select(
        "doc_id", "n_feats", "sum_target_freq", "sum_raw_freq",
        "n_unseen_target", "n_unseen_raw",
    )


_register(
    "doc_dsir_weights",
    _q_dsir_weights,
    _dsir_oracle_sql(),
    headline=True,
)


def _q_dsir_select(spark, sf_dir):
    """The composition DSIR exists for (registered r14): keep the top
    ceil(25% · n) documents by (log_weight DESC, doc_id ASC) — the
    importance-resampling selection step.  RANK-based, not a fixed
    weight threshold, because thresholds measurably do not transfer
    across corpus sizes (the whole log-weight distribution shifts
    with the model totals: range [-242, -18] at sf0.001 vs [-63, -3]
    at sf0.1 — COVERAGE.md r14 plan).

    Hash-safety of the float rank boundary is MEASURED, not assumed
    (the pipeline_lm_curate argument, rank form): the gap
    w[k] − w[k+1] between last-kept and first-dropped is 3.2e-1 /
    4.8e-1 / 5.7e-3 at sf0.001/0.01/0.1 — ≥ 10 orders above
    cross-engine ln/summation drift (~1e-13) — pinned by the
    parametrized margin guard
    tests/test_operators.py::test_dsir_select_boundary_gap_is_wide,
    and the full selection replay (DuckDB recomputes the float
    weights INDEPENDENTLY and selects the identical doc set) was
    pre-validated at all three scales before registration.  The
    driver row hashes only the kept docs' integer diagnostics.

    Scale shape: scoring as doc_dsir_weights; the global rank runs
    via sampling.top_fraction's two-phase valve — approxQuantile
    coarse floor (one pass, one driver float) lands as a pushed
    Filter, then Catalyst rewrites the literal-k row_number into
    TakeOrderedAndProject (per-partition top-k + merge — NO
    SinglePartition exchange, no global range sort; plan-asserted in
    test_top_fraction_plans_prefiltered_take_ordered), so no task
    ever sees more than the ≈27% survivor slice of its partition;
    output is exactly the true top-k regardless of the prefilter
    (guarded fallback)."""
    docs = _read(spark, sf_dir, "documents")
    # one-pass split fit over a SHARED pre-bucketed feature plan: its
    # target and raw slices compute one bucket shuffle between them
    # (AQE reuses it), and the scoring explodes the corpus once more —
    # identical tables to the two dsir_fit calls this replaced
    feats = classify.dsir_features(
        docs, F.col("source") == "src1", seed="ds1"
    )
    tc, rc = classify.dsir_fit_split(
        docs, F.col("source") == "src1", seed="ds1", features=feats
    )
    # project BEFORE the selection: top_fraction persists its input
    # for the count/quantile/rank passes, and the rank only needs the
    # id + hashed diagnostics + weight — never the text column
    scored = classify.dsir_weights(
        docs, tc, rc, seed="ds1", features=feats
    ).select(
        "doc_id", "n_feats", "sum_target_freq", "sum_raw_freq",
        "log_weight",
    )
    kept = sampling.top_fraction(
        scored, "log_weight", Fraction(1, 4), "doc_id"
    )
    return kept.select(
        "doc_id", "n_feats", "sum_target_freq", "sum_raw_freq"
    )


_DSIR_K = sampling.top_fraction_quota_sql(
    "SELECT count(*) FROM documents WHERE doc_id IS NOT NULL",
    Fraction(1, 4),
)

_register(
    "pipeline_dsir_select",
    _q_dsir_select,
    _dsir_oracle_sql(
        f"""
    SELECT doc_id, n_feats, sum_target_freq, sum_raw_freq FROM (
        SELECT doc_id, n_feats, sum_target_freq, sum_raw_freq,
               row_number() OVER (ORDER BY lw DESC, doc_id) AS r
        FROM diag WHERE doc_id IS NOT NULL
    ) WHERE r <= ({_DSIR_K})
    """
    ),
    headline=True,
)


def _q_quality_floor(spark, sf_dir):
    """FineWeb-style per-stratum QUALITY FLOOR (staged in r13,
    registered r14): keep the best 30% of EVERY source by
    quality_score — a global score cut would let one high-scoring
    domain crowd out the rest, a per-domain quota ignores quality;
    this keeps the best slice OF EACH domain
    (sampling.stratified_top_fraction over text.quality_features).

    Unlike the float-threshold rows this needs NO measured-margin
    argument: quality_score is exact arithmetic over counts (integer
    divisions and exactly-rounded IEEE ops, bit-identical across
    engines), so the per-stratum (score DESC, doc_id) rank replays
    exactly; the quota is exact rational integer-ceil
    ``(n·3 + 9) div 10`` on BOTH engines (advisor r13 — an IEEE
    ``ceil(n * fraction)`` and a decimal one disagree for many
    (count, fraction) pairs).  Replay pre-validated at
    sf0.001/0.01/0.1 before registration
    (test_stratified_top_fraction_matches_duckdb_replay).  The driver
    row hashes the kept docs' integer quality counters.

    Scale shape: one tiny per-stratum count agg broadcast back as
    quotas + ONE rank window per stratum (strata sort in parallel;
    plan-asserted: one rank exchange, broadcast quotas, zero Python);
    a mega-stratum pre-filters with a coarse score floor to cap the
    window input at 100 TB (docstring note on the operator)."""
    docs = _read(spark, sf_dir, "documents")
    scored = text.quality_features(docs)
    kept = sampling.stratified_top_fraction(
        scored, "source", "quality_score", Fraction(3, 10), "doc_id"
    )
    return kept.select(
        "doc_id", "source", "n_words", "n_punct", "n_stopwords"
    )


_register(
    "pipeline_quality_floor",
    _q_quality_floor,
    f"""
    WITH {_quality_sql_ctes(passthrough="source")},
    q0 AS (
        SELECT doc_id, source, n_words, n_punct, n_stopwords,
               {_QUALITY_SCORE_EXPR} AS s
        FROM ratios
        WHERE source IS NOT NULL AND doc_id IS NOT NULL
    ), q AS (SELECT * FROM q0 WHERE s IS NOT NULL),
    n AS (
        SELECT source,
               CAST({sampling.top_fraction_quota_sql("count(*)", Fraction(3, 10))}
                    AS BIGINT) AS quota
        FROM q GROUP BY source
    )
    SELECT doc_id, source, n_words, n_punct, n_stopwords FROM (
        SELECT q.doc_id, q.source, q.n_words, q.n_punct, q.n_stopwords,
               n.quota,
               row_number() OVER (
                   PARTITION BY q.source
                   ORDER BY q.s DESC, q.doc_id
               ) AS r
        FROM q JOIN n USING (source)
    ) WHERE r <= quota
    """,
    headline=True,
)


def _q_token_budget_mix(spark, sf_dir):
    """Per-stratum TOKEN-BUDGET mixture (pre-validated while staged,
    registered late r14): keep each source's md5-rank prefix of
    documents while the exact-integer running n_chars total fits the
    source's budget — an LLM recipe is ultimately a TOKEN budget per
    component ("300B web, 30B code"), not a doc count, and document
    lengths are heavy-tailed enough that a count quota misses a token
    target badly.  Exact integer arithmetic end-to-end (windowed SUM
    ROWS UNBOUNDED PRECEDING ≤ budget) — no margin argument needed;
    replay pre-validated at sf0.001 (unit test
    test_token_budget_mix_matches_duckdb_replay), sf0.01/0.1 (ad-hoc
    MATCH), plus a random-inputs property test vs a literal greedy
    reference.

    Scale shape: ONE broadcast join against the |budgets|-row model +
    one per-stratum rank/cumsum window (strata sort in parallel);
    data-dependent budgets cannot WindowGroupLimit-prune — pre-cap a
    100 TB hot stratum with a literal-quota domain_quota at the same
    seed (lossless for precap ≥ budget+1 when min row size ≥ 1,
    operator docstring).  Probed sublinear at 32× (SCALING.md)."""
    docs = _read(spark, sf_dir, "documents")
    kept = sampling.token_budget_mix(
        docs, "source", "doc_id", "n_chars",
        {"src1": 4000, "src2": 2500, "src3": 60000}, seed="tb-l",
    )
    return kept.select("doc_id", "source", "n_chars")


_register(
    "doc_token_budget_mix",
    _q_token_budget_mix,
    """
    WITH b(source, budget) AS (
        VALUES ('src1', 4000), ('src2', 2500), ('src3', 60000)
    ),
    cum AS (
        SELECT d.doc_id, d.source, d.n_chars, b.budget,
               sum(d.n_chars) OVER (
                   PARTITION BY d.source
                   ORDER BY md5('tb-l' || CAST(d.doc_id AS VARCHAR)),
                            d.doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS running
        FROM documents d JOIN b USING (source)
        WHERE d.doc_id IS NOT NULL AND d.n_chars IS NOT NULL
    )
    SELECT doc_id, source, n_chars FROM cum WHERE running <= budget
    """,
    headline=True,
)


def _q_dsir_resample(spark, sf_dir):
    """Seeded IMPORTANCE RESAMPLING (pre-validated while staged,
    registered late r14): the actual resampling step of DSIR (Xie et
    al. 2023 SAMPLE from the importance distribution rather than
    taking the deterministic head — the head over-concentrates on
    near-duplicate high-weight documents, resampling preserves
    diversity ∝ weight).  Keep 25% of the corpus sampled ∝
    exp(log_weight) WITHOUT replacement via deterministic Gumbel
    top-k: priority = log_weight + (−ln(−ln(u))) with u EXACT from
    md5(seed||doc_id) first-12-hex + 0.5 over 2^48 (both engines
    compute u identically; only the two ln() calls drift, ~1e-16).

    Hash-safety is MEASURED (the pipeline_dsir_select argument,
    Gumbel form): rank-boundary gap 3.5e-1 / 1.9e-2 / 5.2e-3 at
    sf0.001/0.01/0.1 — ≥ 10 orders above drift — pinned by
    test_dsir_resample_boundary_gap_is_wide (parametrized over all
    three scales); the oracle has DuckDB recompute the weights AND
    the Gumbel priorities independently.  The driver row hashes only
    the kept docs' integer diagnostics.  Weightedness, a literal
    brute-force reference (priorities to 1e-12) and a random-inputs
    property test back the operator itself.

    Scale shape: scoring as doc_dsir_weights; the priority is one
    row-local expression; selection reuses top_fraction's coarse
    floor + TakeOrderedAndProject (no SinglePartition exchange);
    probed sublinear at 32× (SCALING.md staged-r15 section)."""
    docs = _read(spark, sf_dir, "documents")
    # one-pass split fit over a SHARED pre-bucketed feature plan: its
    # target and raw slices compute one bucket shuffle between them
    # (AQE reuses it), and the scoring explodes the corpus once more —
    # identical tables to the two dsir_fit calls this replaced
    feats = classify.dsir_features(
        docs, F.col("source") == "src1", seed="ds1"
    )
    tc, rc = classify.dsir_fit_split(
        docs, F.col("source") == "src1", seed="ds1", features=feats
    )
    scored = classify.dsir_weights(
        docs, tc, rc, seed="ds1", features=feats
    ).select(
        "doc_id", "n_feats", "sum_target_freq", "sum_raw_freq",
        "log_weight",
    )
    kept = sampling.importance_resample(
        scored, "log_weight", "doc_id", Fraction(1, 4), seed="ir-l"
    )
    return kept.select(
        "doc_id", "n_feats", "sum_target_freq", "sum_raw_freq"
    )


_DSIR_GUMBEL = sampling.gumbel_priority_sql("lw", "doc_id", seed="ir-l")

_register(
    "pipeline_dsir_resample",
    _q_dsir_resample,
    _dsir_oracle_sql(
        f"""
    SELECT doc_id, n_feats, sum_target_freq, sum_raw_freq FROM (
        SELECT doc_id, n_feats, sum_target_freq, sum_raw_freq,
               row_number() OVER (
                   ORDER BY {_DSIR_GUMBEL} DESC, doc_id
               ) AS r
        FROM diag WHERE doc_id IS NOT NULL
    ) WHERE r <= ({_DSIR_K})
    """
    ),
    headline=True,
)


def _q_importance_resample(spark, sf_dir):
    """Standalone DOC-LEVEL importance resample (registered r15, the
    COVERAGE.md registration plan's named row): sample 25% of the
    corpus WITHOUT replacement with probability ∝ exp(weight) where
    the weight is a plain row-local doc feature — here
    ``n_chars / 1000.0`` in log domain, ONE exactly-rounded IEEE
    division both engines compute bit-identically — so the row
    isolates ``sampling.importance_resample`` itself (the Gumbel
    machinery) from the DSIR scoring chain ``pipeline_dsir_resample``
    composes in front of it.

    Determinism/hash-safety: the Gumbel priority's u is EXACT from
    md5(seed||doc_id) (first-12-hex + 0.5 over 2^48); the only
    cross-engine drift is the priority's two ln() calls (~1e-16
    relative), and the rank-boundary gap is MEASURED and pinned at
    all three driver scales by
    tests/test_operators.py::test_importance_resample_doc_boundary_gap
    (the pipeline_dsir_select margin pattern).  The driver row hashes
    only exact integers (doc_id, source, n_chars).

    Scale shape: priority is one row-local expression; selection =
    top_fraction's approxQuantile coarse floor (pushed Filter) +
    literal-k TakeOrderedAndProject — no SinglePartition exchange, no
    global sort (plan shape shared with the audited dsir rows)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("n_chars").cast("double") / F.lit(1000.0)).alias(
                "__lw"
            ),
        )
        .filter(F.col("n_chars").isNotNull())
    )
    kept = sampling.importance_resample(
        docs, "__lw", "doc_id", Fraction(1, 4), seed="ir-doc"
    )
    return kept.select("doc_id", "source", "n_chars")


_DOC_GUMBEL = sampling.gumbel_priority_sql(
    "(CAST(n_chars AS DOUBLE) / 1000.0)", "doc_id", seed="ir-doc"
)

_register(
    "doc_importance_resample",
    _q_importance_resample,
    f"""
    WITH base AS (
        SELECT doc_id, source, n_chars FROM documents
        WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
    )
    SELECT doc_id, source, n_chars FROM (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   ORDER BY {_DOC_GUMBEL} DESC, doc_id
               ) AS r
        FROM base
    ) WHERE r <= ({sampling.top_fraction_quota_sql(
        "SELECT count(*) FROM base", Fraction(1, 4)
    )})
    """,
    headline=True,
)


def _q_quality_budget(spark, sf_dir):
    """Quality-ORDERED token-budget mixture (registered r15, verdict
    item 5): real LLM recipes fill each component's TOKEN budget with
    the BEST documents first — this composes
    ``text.quality_features``' score ordering with
    ``token_budget_mix``'s exact-integer running-sum valve
    (``order_col="quality_score"``): within each source, rank by
    (quality_score DESC, doc_id ASC) and keep the prefix whose
    cumulative n_chars fits the source's budget.  The budget-valve
    analogue of ``pipeline_quality_floor`` (which caps by row COUNT
    fraction; a token budget is what the recipe actually specifies).

    NO measured-margin argument needed (the pipeline_quality_floor
    precedent): quality_score is exact arithmetic over counts (integer
    divisions and exactly-rounded IEEE ops, bit-identical across
    engines), the doc_id tie-break makes the order total, and the
    running sum is exact integer arithmetic — the windowed-SUM oracle
    replays membership bit-for-bit.

    Scale shape: quality_features fuses into the scan-side map stage;
    then ONE broadcast model join + one stratum window exchange, zero
    Python (plan-asserted in
    test_token_budget_mix_quality_ordered_keeps_one_exchange); the
    domain_quota pre-cap recipe for 100 TB hot strata applies
    unchanged (a budget consumes at most ``budget`` rows of size
    ≥ 1)."""
    docs = _read(spark, sf_dir, "documents")
    scored = text.quality_features(docs)
    kept = sampling.token_budget_mix(
        scored, "source", "doc_id", "n_chars",
        {"src1": 4000, "src2": 2500, "src3": 60000},
        order_col="quality_score",
    )
    return kept.select(
        "doc_id", "source", "n_chars", "n_words", "n_stopwords"
    )


_register(
    "pipeline_quality_budget",
    _q_quality_budget,
    f"""
    WITH {_quality_sql_ctes()},
    q0 AS (
        -- the budget sizes come from the DOCUMENTS table's n_chars
        -- column (what the Spark side sums), not the CTE's computed
        -- length(text) — join back by doc_id and qualify
        SELECT r.doc_id, d.source, d.n_chars, r.n_words, r.n_stopwords,
               {_QUALITY_SCORE_EXPR} AS s
        FROM ratios r JOIN documents d USING (doc_id)
        WHERE d.source IS NOT NULL AND r.doc_id IS NOT NULL
              AND d.n_chars IS NOT NULL
    ), q AS (SELECT * FROM q0 WHERE s IS NOT NULL),
    b(source, budget) AS (
        VALUES ('src1', 4000), ('src2', 2500), ('src3', 60000)
    ),
    cum AS (
        SELECT q.doc_id, q.source, q.n_chars, q.n_words, q.n_stopwords,
               b.budget,
               sum(q.n_chars) OVER (
                   PARTITION BY q.source
                   ORDER BY q.s DESC, q.doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS running
        FROM q JOIN b USING (source)
    )
    SELECT doc_id, source, n_chars, n_words, n_stopwords
    FROM cum WHERE running <= budget
    """,
    headline=True,
)


def _q_floor_select(spark, sf_dir):
    """FLOOR-ONLY selection (registered r15, verdict item 6): the
    documented 100 TB escape hatch of ``sampling.top_fraction`` — when
    the exact top-k's k-row take merge exceeds one machine's output
    budget, keep EVERYTHING ≥ the approxQuantile coarse floor instead:
    approximate count, no window, no TakeOrderedAndProject, no
    exchange at all (plan-asserted in
    test_top_fraction_floor_only_plan_is_filter_only).  This row
    makes the mode the scale design argument leans on execute in
    every driver window.

    Full value oracle DESPITE the approximate quantile, via a planted
    score plateau: score(doc) = 1000 + p for the top quintile
    (p = doc_id % 100 ≥ 80), the CONSTANT 500.0 for the next
    (60 ≤ p < 80), else p.  With fraction 1/4 and err 0.01 the floor
    quantile targets rank 0.73·n, and Greenwald–Khanna GUARANTEES the
    returned value's rank lies in [0.72·n, 0.74·n] — every rank in
    that band holds the plateau value 500.0 (the plateau spans
    (0.60·n, 0.80·n]; doc_id is contiguous 0..n−1 at every driver
    scale, so the band sits strictly inside), hence the floor is
    500.0 and the kept set is EXACTLY {{p ≥ 60}} whatever partition
    layout or GK merge order produced the sketch.  The oracle states
    that set independently."""
    docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .withColumn("__p", F.col("doc_id") % 100)
        .withColumn(
            "score",
            F.when(
                F.col("__p") >= 80, (F.col("__p") + 1000).cast("double")
            )
            .when(F.col("__p") >= 60, F.lit(500.0))
            .otherwise(F.col("__p").cast("double")),
        )
        .select("doc_id", "source", "score")
    )
    kept = sampling.top_fraction(
        docs, "score", Fraction(1, 4), "doc_id", floor_only=True
    )
    return kept.select("doc_id", "source", "score")


_register(
    "pipeline_floor_select",
    _q_floor_select,
    """
    SELECT doc_id, source,
           CASE WHEN doc_id % 100 >= 80
                    THEN CAST(doc_id % 100 + 1000 AS DOUBLE)
                WHEN doc_id % 100 >= 60 THEN 500.0
                ELSE CAST(doc_id % 100 AS DOUBLE)
           END AS score
    FROM documents
    WHERE doc_id IS NOT NULL AND doc_id % 100 >= 60
    """,
    headline=True,
)


def _lm_replay_ctes(prefix: str, fit_where: str) -> str:
    """Parameterized bigram-LM replay CTE stack (the `_lm_oracle_sql`
    recipe with prefixed names and a caller-chosen fit filter), for
    oracles that need TWO models — the excess-perplexity selection
    fits a TARGET LM (one source's docs) and a REFERENCE LM (the
    md5-sampled corpus half) and scores every document under both.
    Shares the corpus-wide ``trans`` CTE the caller defines once.
    Emits ``{prefix}diag(doc_id, n_trans, n_unseen, n_oov_ctx,
    sum_bigram_freq, sum_context_freq, ll)``."""
    p = prefix
    return f"""{p}fit AS (
        SELECT doc_id, {_NB_TOKS} AS t FROM documents WHERE {fit_where}
    ), {p}uni_all AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(t) AS w FROM {p}fit) GROUP BY w
    ), {p}vocab AS (
        SELECT w, freq FROM (
            SELECT w, freq,
                   row_number() OVER (ORDER BY freq DESC, w) AS rn
            FROM {p}uni_all WHERE freq >= 1
        ) WHERE rn <= 300
    ), {p}vsz AS (SELECT count(*) AS V FROM {p}vocab),
    {p}bi_all AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT p['w1'] AS w1, p['w2'] AS w2 FROM (
                SELECT unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                               FOR i IN range(1, len(t))]) AS p
                FROM {p}fit
            )
        ) GROUP BY w1, w2
    ), {p}bi AS (
        SELECT b.* FROM {p}bi_all b
        JOIN {p}vocab x ON b.w1 = x.w
        JOIN {p}vocab y ON b.w2 = y.w
    ), {p}scored AS (
        SELECT tr.doc_id,
               count(*) AS n_trans,
               sum(CASE WHEN bi.freq IS NULL THEN 1 ELSE 0 END) AS n_unseen,
               sum(CASE WHEN v.freq IS NULL THEN 1 ELSE 0 END) AS n_oov_ctx,
               sum(coalesce(bi.freq, 0)) AS sum_bigram_freq,
               sum(coalesce(v.freq, 0)) AS sum_context_freq,
               sum(ln((coalesce(bi.freq, 0) + 1.0) /
                      (coalesce(v.freq, 0)
                       + 1.0 * ((SELECT V FROM {p}vsz) + 1))))
                   AS ll
        FROM trans tr
        LEFT JOIN {p}bi bi ON bi.w1 = tr.w1 AND bi.w2 = tr.w2
        LEFT JOIN {p}vocab v ON v.w = tr.w1
        GROUP BY tr.doc_id
    ), {p}diag AS (
        SELECT d.doc_id,
               CAST(coalesce(s.n_trans, 0) AS BIGINT) AS n_trans,
               CAST(coalesce(s.n_unseen, 0) AS BIGINT) AS n_unseen,
               CAST(coalesce(s.n_oov_ctx, 0) AS BIGINT) AS n_oov_ctx,
               CAST(coalesce(s.sum_bigram_freq, 0) AS BIGINT)
                   AS sum_bigram_freq,
               CAST(coalesce(s.sum_context_freq, 0) AS BIGINT)
                   AS sum_context_freq,
               s.ll AS ll
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN {p}scored s USING (doc_id)
    )"""


def _q_ppl_delta_select(spark, sf_dir):
    """EXCESS-PERPLEXITY domain selection (the RHO-1 / DoReMi-family
    "excess loss" recipe at this repo's bigram grain; also classic
    Moore–Lewis 2010 cross-entropy difference selection): fit a
    TARGET LM on one domain's documents (src1) and a REFERENCE LM on
    the md5-sampled corpus half (the doc_lm_score model), score every
    document under BOTH, and keep the top 25% by
    ``delta = ln(ppl_ref) − ln(ppl_target)`` — documents the target
    model finds much more predictable than the reference does, i.e.
    target-domain-LIKE text rather than merely-easy text (a plain
    low-perplexity cut keeps boilerplate; the difference cancels the
    generic-easiness term — why Moore–Lewis beats a single-model
    threshold).

    Hash-safety is MEASURED (the pipeline_dsir_select pattern): the
    driver row hashes only exact integers (doc_id plus both models'
    lookup diagnostics); the float delta decides only the rank
    boundary, whose gap is pinned at all three driver scales by
    tests/test_operators.py::test_ppl_delta_boundary_gap_is_wide.
    The oracle replays BOTH fits, both scoring passes and the rank
    independently (two `_lm_replay_ctes` stacks over one shared
    corpus-transition CTE).

    Scale shape: each scoring pass = pair explode → two broadcast
    model joins → ONE doc-grain agg (the audited doc_lm_score shape,
    twice); the two score tables join back at doc grain (SMJ is
    correct there — both sides corpus-sized, the dsir_weights
    precedent); selection = top_fraction's coarse floor +
    TakeOrderedAndProject, no SinglePartition exchange."""
    docs = _read(spark, sf_dir, "documents")
    # ONE tokenize pass shared by fit and scoring (r20): both default
    # to tokens(lower(text)) per document; staging the array once and
    # passing tokens_col halves the regex-split work (fit-at-sample +
    # full-corpus score would otherwise each re-tokenize).  Persisted
    # (MEMORY_AND_DISK, release-registered) — the curate_corpus staged-
    # tokens precedent.
    docs = docs.withColumn(
        "__toks", text.tokens(F.lower(F.col("text")))
    ).persist()
    tbi, tuni = classify.lm_fit(
        docs.where(F.col("source") == "src1"),
        min_count=1, max_vocab=300, tokens_col="__toks",
    )
    rbi, runi = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300, tokens_col="__toks",
    )
    st = classify.lm_perplexity(docs, tbi, tuni, tokens_col="__toks").select(
        "doc_id", "n_trans", "perplexity",
        F.col("n_unseen").alias("n_unseen_t"),
        F.col("sum_bigram_freq").alias("sum_bigram_freq_t"),
        F.col("sum_context_freq").alias("sum_context_freq_t"),
    )
    sr = classify.lm_perplexity(docs, rbi, runi, tokens_col="__toks").select(
        F.col("doc_id").alias("__rid"),
        F.col("perplexity").alias("__ppl_r"),
        F.col("n_unseen").alias("n_unseen_r"),
        F.col("sum_bigram_freq").alias("sum_bigram_freq_r"),
        F.col("sum_context_freq").alias("sum_context_freq_r"),
    )
    joined = (
        st.join(sr, st["doc_id"] == sr["__rid"])
        .filter(F.col("n_trans") > 0)
        .withColumn(
            "__delta", F.log(F.col("__ppl_r")) - F.log(F.col("perplexity"))
        )
        .select(
            "doc_id", "n_trans", "n_unseen_t", "sum_bigram_freq_t",
            "sum_context_freq_t", "n_unseen_r", "sum_bigram_freq_r",
            "sum_context_freq_r", "__delta",
        )
    )
    kept = sampling.top_fraction(joined, "__delta", Fraction(1, 4), "doc_id")
    return dedup._release_after(kept.drop("__delta"), docs)


_register(
    "pipeline_ppl_delta_select",
    _q_ppl_delta_select,
    f"""
    WITH trans AS (
        SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
            SELECT doc_id,
                   unnest([struct_pack(w1 := t[i], w2 := t[i+1])
                           FOR i IN range(1, len(t))]) AS p
            FROM (SELECT doc_id, {_NB_TOKS} AS t FROM documents)
        )
    ),
    {_lm_replay_ctes("t_", "source = 'src1'")},
    {_lm_replay_ctes("r_", _LM_SAMPLE)},
    j AS (
        SELECT t.doc_id, t.n_trans,
               t.n_unseen AS n_unseen_t,
               t.sum_bigram_freq AS sum_bigram_freq_t,
               t.sum_context_freq AS sum_context_freq_t,
               r.n_unseen AS n_unseen_r,
               r.sum_bigram_freq AS sum_bigram_freq_r,
               r.sum_context_freq AS sum_context_freq_r,
               (ln(exp(-(r.ll) / r.n_trans)) - ln(exp(-(t.ll) / t.n_trans)))
                   AS delta
        FROM t_diag t JOIN r_diag r USING (doc_id)
        WHERE t.n_trans > 0 AND t.doc_id IS NOT NULL
    )
    SELECT doc_id, n_trans, n_unseen_t, sum_bigram_freq_t,
           sum_context_freq_t, n_unseen_r, sum_bigram_freq_r,
           sum_context_freq_r
    FROM (
        SELECT *, row_number() OVER (ORDER BY delta DESC, doc_id) AS rk
        FROM j
    ) WHERE rk <= ({sampling.top_fraction_quota_sql(
        "SELECT count(*) FROM j", Fraction(1, 4)
    )})
    """,
    headline=True,
)


def _q_ccnet_buckets(spark, sf_dir):
    """CCNet HEAD/MIDDLE/TAIL perplexity bucketing (Wenzek et al.
    2020's actual output shape — CCNet does not drop documents, it
    labels each language's corpus by per-language perplexity TERCILE
    and lets the consumer choose slices): fit the doc_lm_score
    bigram LM, perplexity-score every document, compute each
    source's p33/p66 boundaries with ``percentile_disc`` (ACTUAL data
    values — the grouped_percentiles / winsorize recipe, no
    interpolation), broadcast them back, and label
    head (ppl ≤ p33) / middle (≤ p66) / tail.

    Hash-safety of the float comparisons is MEASURED (the
    pipeline_lm_curate threshold argument, per-stratum form): the
    boundaries are data values, each engine computes ppl and its
    boundaries self-consistently, and the min nonzero |ppl − boundary|
    gap per source clears cross-engine ln-sum drift by many orders at
    all three driver scales
    (tests/test_operators.py::test_ccnet_bucket_boundary_gap_is_wide);
    a doc AT the boundary compares equal-to-itself in both engines.
    The driver hashes the bucket label plus the exact-integer model
    diagnostics.

    Scale shape: scoring is the audited doc_lm_score shape (pair
    explode → two broadcast model joins → one doc-grain agg); the
    boundary table is |sources|-rows (one per-stratum percentile agg,
    spillable buffers) and joins back BROADCAST; the label is a
    row-local CASE.  Zero Python."""
    docs = _read(spark, sf_dir, "documents")
    # ONE tokenize pass shared by fit and scoring (r20): both default
    # to tokens(lower(text)) per document; staging the array once and
    # passing tokens_col halves the regex-split work (fit-at-sample +
    # full-corpus score would otherwise each re-tokenize).  Persisted
    # (MEMORY_AND_DISK, release-registered) — the curate_corpus staged-
    # tokens precedent.
    docs = docs.withColumn(
        "__toks", text.tokens(F.lower(F.col("text")))
    ).persist()
    bi, uni = classify.lm_fit(
        docs, sample_fraction=0.5, sample_seed="lm-l",
        min_count=1, max_vocab=300, tokens_col="__toks",
    )
    # PERSIST the scored frame: it feeds both the percentile boundary
    # aggregation and the label join-back, and perplexity is a
    # parallel sum of ln() terms whose addition ORDER is evaluation-
    # dependent — two independent evaluations can disagree in the last
    # ulp, which flips the BOUNDARY DOC's own label (its ppl must
    # compare equal to the boundary, which only holds if both reads
    # see the same materialized float; caught live at sf0.001: 3 docs
    # flipped before this persist).  The oracle has the same hazard —
    # its ppl CTE is AS MATERIALIZED for the same reason.
    from python_dtl_spark.operators.dedup import _release_after

    scored = (
        classify.lm_perplexity(docs, bi, uni, tokens_col="__toks")
        .filter(F.col("n_trans") > 0)
        .select(
            "doc_id", "source", "perplexity", "n_trans", "n_unseen",
            "sum_bigram_freq", "sum_context_freq",
        )
        .persist()
    )
    bounds = stats.grouped_percentiles(
        scored, "perplexity", ["source"], ps=[0.33, 0.66]
    ).select(
        F.col("source").alias("__b_source"),
        F.col("p33"), F.col("p66"),
    )
    return _release_after(
        scored.join(
            F.broadcast(bounds),
            on=scored["source"] == F.col("__b_source"),
        )
        .withColumn(
            "bucket",
            F.when(F.col("perplexity") <= F.col("p33"), "head")
            .when(F.col("perplexity") <= F.col("p66"), "middle")
            .otherwise("tail"),
        )
        .select(
            "doc_id", "source", "bucket", "n_trans", "n_unseen",
            "sum_bigram_freq", "sum_context_freq",
        ),
        scored,
        docs,
    )


_register(
    "pipeline_ccnet_buckets",
    _q_ccnet_buckets,
    _lm_oracle_sql(
        """
    , ppl AS MATERIALIZED (
        -- MATERIALIZED: referenced by both the boundary aggregation
        -- and the outer label select; an inlined re-evaluation could
        -- re-run the parallel ln-sum in a different order and flip
        -- the boundary doc's own label by one ulp (the Spark side
        -- persists for the same reason)
        SELECT g.doc_id, d.source, g.n_trans, g.n_unseen,
               g.sum_bigram_freq, g.sum_context_freq,
               exp(-(g.ll) / g.n_trans) AS p
        FROM diag g JOIN documents d USING (doc_id)
        WHERE g.n_trans > 0
    ), ranked AS (
        SELECT source, p,
               cume_dist() OVER (PARTITION BY source ORDER BY p) AS cd
        FROM ppl
    ), b AS (
        SELECT source,
               min(CASE WHEN cd >= 0.33 THEN p END) AS p33,
               min(CASE WHEN cd >= 0.66 THEN p END) AS p66
        FROM ranked GROUP BY source
    )
    SELECT ppl.doc_id, ppl.source,
           CASE WHEN ppl.p <= b.p33 THEN 'head'
                WHEN ppl.p <= b.p66 THEN 'middle'
                ELSE 'tail' END AS bucket,
           ppl.n_trans, ppl.n_unseen, ppl.sum_bigram_freq,
           ppl.sum_context_freq
    FROM ppl JOIN b USING (source)
    """
    ),
    headline=True,
)


def _q_softdedup(spark, sf_dir):
    """SOFT deduplication (staged earlier this round, registered late
    r15 on the full evidence bar — the r14 late-registration
    precedent): down-WEIGHT duplicated documents instead of dropping
    them — every doc gains its exact-content group size and training
    weight 1/size (one exactly-rounded IEEE division), so weighted
    training sees each distinct content once in expectation while
    rare phrasings inside duplicated boilerplate keep contributing
    signal.  The soft counterpart of dedup_exact; composes with
    doc_weighted_sample / doc_importance_resample to realize the
    weights as a sample.

    Scale shape: ONE content-keyed hash agg (map-side partial counts)
    + ONE content-keyed equi-join back — NO window (a
    count-over-content window funnels the hot boilerplate group
    through one sort task; plan-asserted in
    test_soft_dedup_weights_is_agg_plus_join_no_window), hot groups
    AQE-skew-splittable (build side = 1 row/group), zero Python."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    out = dedup.soft_dedup_weights(docs, ["text"])
    return out.select("doc_id", "dup_count", "sample_weight")


_register(
    "doc_softdedup_weights",
    _q_softdedup,
    """
    SELECT doc_id,
           CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS dup_count,
           1.0 / count(*) OVER (PARTITION BY text) AS sample_weight
    FROM documents
    """,
    headline=True,
)


def _q_decontaminate_spans(spark, sf_dir):
    """CROSS-CORPUS exact-substring span decontamination (staged
    earlier this round, registered late r15 once the cut-TEXT splice
    oracle landed): cut from TRAIN every 8-token window whose
    fingerprint appears ANYWHERE in the EVAL corpus — span-level eval
    hygiene (Lee et al. 2022's machinery pointed across corpora):
    remove the leaked benchmark passage, KEEP the rest of the
    document, where the `decontaminate_train_test` route drops whole
    documents.  Fixture: eval = the id-shifted doc_id%10==0 slice, so
    genuinely leaked spans exist (6 docs at sf0.01, 46 at sf0.1).

    Everything hashed is exact: the cut text (md5 — token indices and
    the complement splice are integer arithmetic, fingerprints are
    md5-derived 60-bit ints both engines compute identically) and the
    three counters.

    Scale shape: the eval corpus reduces to its DISTINCT 8-byte
    fingerprints (one hash agg, tiny vs train), ONE fp-keyed LEFT
    SEMI join flags train windows (hot boilerplate fps
    AQE-skew-splittable — semi-join build side is 1 row/fp), then the
    audited doc_dedup_spans stages: per-doc island-merge window +
    row-local complement splice; zero Python (plan-asserted in
    test_remove_spans_against_is_semi_join_no_nested_loop)."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    evals = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 10 != 0)
    out = text.remove_duplicated_spans(
        train, window_tokens=8, against=evals
    )
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("clean_fp"),
        "n_tokens", "n_tokens_kept", "n_spans_removed",
    )


_register(
    "doc_decontaminate_spans",
    _q_decontaminate_spans,
    """
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents WHERE doc_id % 10 <> 0
    ), etoks AS (
        SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents WHERE doc_id % 10 = 0
    ), efp AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(array_to_string(
                   tk[CAST(i AS INT) + 1 : CAST(i AS INT) + 8], ' ')), 1, 15))
                    AS BIGINT) AS h
        FROM etoks, UNNEST(range(0, greatest(len(tk) - 8 + 1, 0))) u(i)
    ), wins AS (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               CAST(concat('0x', substr(md5(array_to_string(
                   tk[CAST(i AS INT) + 1 : CAST(i AS INT) + 8], ' ')), 1, 15))
                    AS BIGINT) AS h
        FROM toks, UNNEST(range(0, greatest(len(tk) - 8 + 1, 0))) u(i)
    ), flagged AS (
        SELECT doc_id, i, i + 7 AS e
        FROM wins WHERE h IN (SELECT h FROM efp)
    ), isl AS (
        SELECT doc_id, i, e,
               CASE WHEN i > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -2) + 1
                    THEN 1 ELSE 0 END AS brk
        FROM flagged
    ), isl2 AS (
        SELECT doc_id, i, e,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
    ), merged AS (
        SELECT doc_id, island, min(i) AS lo, max(e) AS hi
        FROM isl2 GROUP BY doc_id, island
    ), nspans AS (
        SELECT doc_id, count(*) AS n_spans FROM merged GROUP BY doc_id
    ), covered AS (
        SELECT DISTINCT doc_id, lo + d AS idx
        FROM merged, UNNEST(range(0, hi - lo + 1)) v(d)
    ), tokidx AS (
        SELECT doc_id, CAST(i AS BIGINT) AS idx,
               tk[CAST(i AS INT) + 1] AS tok
        FROM toks, UNNEST(range(0, len(tk))) u(i)
    ), kept AS (
        SELECT t.doc_id, t.idx, t.tok
        FROM tokidx t LEFT JOIN covered c
          ON t.doc_id = c.doc_id AND t.idx = c.idx
        WHERE c.idx IS NULL
    ), agg AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS txt,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           md5(coalesce(a.txt, '')) AS clean_fp,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_kept,
           CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans_removed
    FROM toks t
    LEFT JOIN agg a USING (doc_id)
    LEFT JOIN nspans s USING (doc_id)
    """,
    headline=True,
)


def _q_stream_shard_emit(spark, sf_dir):
    """Batch twin of the STREAMING training-shard emission leg
    (registered r14, verdict item 6): epoch replication → composite
    doc_id#epoch key → ``sampling.shard_assign`` — the exact chain a
    continuously-ingesting pipeline runs as readStream →
    epoch_upsample (stream-static broadcast join + explode) →
    shard_assign → exactly-once partitioned sink
    (``stream_to_parquet(..., partition_by=["shard"])``).
    ``shard_assign`` is the streaming-legal half of
    ``shuffle_shards``: shard MEMBERSHIP is a pure row-local md5 map
    (byte-identical to ``shuffle_shards``' shard by construction), so
    this batch row hashes the same shard coordinates the streaming
    sink emits; batch/stream parity on the complete (doc_id, epoch,
    shard) multiset is end-to-end asserted in
    tests/test_streaming.py (the full readStream chain).

    Scale shape: ZERO exchanges, zero Python — one broadcast join
    (epoch map) + row-local explode + row-local md5; the shuffle
    happens at the sink as partitioned writes, not in the plan."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .filter(F.col("doc_id").isNotNull())
    )
    up = sampling.epoch_upsample(docs, "source", {"src1": 2, "src3": 3})
    keyed = up.withColumn(
        "__emit_key", F.concat_ws("#", F.col("doc_id"), F.col("epoch"))
    )
    return sampling.shard_assign(keyed, "__emit_key", 8, seed="sh-s").select(
        "doc_id", "source", "epoch", "shard"
    )


_SA_SHARD, _ = sampling.shuffle_shards_sql(_EMIT_KEY_SQL, 8, seed="sh-s")

_register(
    "stream_shard_emit",
    _q_stream_shard_emit,
    f"""
    WITH m(source, e) AS (VALUES ('src1', 2), ('src3', 3)),
    j AS (
        SELECT d.doc_id, d.source, coalesce(m.e, 1) AS n
        FROM documents d LEFT JOIN m USING (source)
        WHERE d.doc_id IS NOT NULL
    ), up AS (
        SELECT doc_id, source,
               CAST(unnest([i FOR i IN range(0, n)]) AS BIGINT) AS epoch
        FROM j WHERE n > 0
    )
    SELECT doc_id, source, epoch, CAST({_SA_SHARD} AS INTEGER) AS shard
    FROM up
    """,
)


def _q_pretrain_full(spark, sf_dir):
    """FIVE-LEG full-pretraining composition (registered r16, verdict
    item 5): the remaining unchained flagship legs under ONE hash —
    Gopher quality gate → MinHash-LSH keep-one near-dup dedup →
    cross-corpus eval-span decontamination → exact target-mixture
    resample → deterministic shard assignment.  ``pipeline_dsir_emit``
    chains scoring/selection/emission; THIS row exercises dedup and
    decontamination inside a composition, which no prior row does.

    Fixture: eval corpus = the ``doc_id % 10 == 0`` slice (id-shifted,
    the doc_decontaminate_spans convention); the train universe is the
    other nine tenths.  Leg soundness under composition: the gate is
    row-local (restriction commutes); LSH recall stays exactly 1 on
    the gate survivors because restricting the doc set only REMOVES
    pairs — surviving pairs keep their signatures and hence their band
    collisions (dedup_minhash_lsh's subset+equal-count argument);
    keep-one components are computed over the restricted edge set,
    replayed by the oracle's recursive closure seeded from gate
    survivors; the splice/mix/shard legs are the already-registered
    doc_decontaminate_spans / doc_target_mix / stream_shard_emit
    recipes on the upstream survivor set.

    Scale shape: ONE documents scan feeds the persisted gate working
    set (gopher append=True: the kept set is a filter, not a join
    back); dedup shuffles are banded-bucket/candidate-sized; the
    decontamination semi-join reduces the eval side to distinct 8-byte
    fingerprints; the mix is one WindowGroupLimit-prunable rank; the
    shard is a row-local md5 — no leg regresses the shape its
    standalone row plan-asserts."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    evals = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    train0 = docs.filter(F.col("doc_id") % 10 != 0)
    gated = (
        text.gopher_quality_flags(train0, append=True)
        .filter(F.col("keep"))
        .select("doc_id", "source", "text")
        .persist()
    )
    pairs = dedup.minhash_lsh_pairs(
        gated, n=3, num_hashes=32, bands=16, threshold=0.3
    )
    labeled = dedup.keep_one_from_pairs(
        gated.select("doc_id"), pairs, id_col="doc_id"
    )
    survivors = gated.join(
        labeled.filter(F.col("keep")).select("doc_id"), on="doc_id", how="left_semi"
    )
    clean = text.remove_duplicated_spans(
        survivors.select("doc_id", "text"), window_tokens=8, against=evals
    )
    mixed_in = clean.join(gated.select("doc_id", "source"), on="doc_id")
    mixed = sampling.target_mix_resample(
        mixed_in,
        "source",
        "doc_id",
        {"src1": 3, "src2": 2, "src3": 1},
        seed="pf-mix",
    )
    sharded = sampling.shard_assign(mixed, "doc_id", 8, seed="pf-sh")
    out = sharded.select(
        "doc_id",
        "source",
        F.md5(F.col("text")).alias("clean_fp"),
        "n_tokens_kept",
        "shard",
    )
    return dedup._release_after(out, gated, labeled)


_PF_SHARD, _ = sampling.shuffle_shards_sql("doc_id", 8, seed="pf-sh")

_register(
    "pipeline_pretrain_full",
    _q_pretrain_full,
    f"""
    WITH RECURSIVE
    w(source, wt) AS (VALUES ('src1', 3), ('src2', 2), ('src3', 1)),
    train0 AS MATERIALIZED (
        SELECT doc_id, source, text FROM documents
        WHERE doc_id IS NOT NULL AND doc_id % 10 <> 0
    ), gtoks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM train0
    ), gfeat AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
                   / greatest(len(tk), 1) AS mean_word_len,
               CAST(len(list_distinct(tk)) AS DOUBLE)
                   / greatest(len(tk), 1) AS ttr,
               CAST(list_max(list_transform(
                       list_distinct(tk),
                       w -> len(list_filter(tk, t -> t = w)))) AS DOUBLE)
                   / greatest(len(tk), 1) AS top_frac,
               len(list_filter(
                       list_distinct(tk),
                       t -> list_contains(
                           ['the','a','an','and','or','of','to','in','is',
                            'it','for','on','with','as','by','at','from'],
                           lower(t)))) AS stop_hits
        FROM gtoks
    ), gate AS MATERIALIZED (
        SELECT doc_id FROM gfeat
        WHERE n_words >= 20 AND n_words <= 100000
          AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          AND ttr >= 0.3 AND top_frac <= 0.12 AND stop_hits >= 1
    ), jt AS MATERIALIZED (
        SELECT t.doc_id,
               list_filter(regexp_split_to_array(lower(trim(t.text)), '\\s+'),
                           x -> x <> '') AS t
        FROM train0 t JOIN gate USING (doc_id)
    ), jsh AS MATERIALIZED (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM jt
    ), jex AS MATERIALIZED (
        SELECT doc_id, unnest(s) AS f FROM jsh
    ), jsz AS MATERIALIZED (
        SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM jsh
    ), jcommon AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM jex a JOIN jex b ON a.f = b.f AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jac AS MATERIALIZED (
        SELECT id_a, id_b
        FROM jcommon
        JOIN jsz sa ON jcommon.id_a = sa.doc_id
        JOIN jsz sb ON jcommon.id_b = sb.doc_id
        WHERE common / (sa.sz + sb.sz - common) >= 0.3
    ), edges AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM jac
        UNION ALL
        SELECT id_b, id_a FROM jac
    ), reach(a, b) AS (
        SELECT doc_id, doc_id FROM gate
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS MATERIALIZED (
        SELECT a AS doc_id, min(b) AS cl FROM reach GROUP BY a
    ), surv AS MATERIALIZED (
        SELECT doc_id FROM labels WHERE doc_id = cl
    ), toks AS MATERIALIZED (
        SELECT t.doc_id,
               list_filter(regexp_split_to_array(trim(t.text), '\\s+'),
                           x -> x <> '') AS tk
        FROM train0 t JOIN surv USING (doc_id)
    ), etoks AS MATERIALIZED (
        SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents WHERE doc_id % 10 = 0
    ), efp AS MATERIALIZED (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(array_to_string(
                   tk[CAST(i AS INT) + 1 : CAST(i AS INT) + 8], ' ')), 1, 15))
                    AS BIGINT) AS h
        FROM etoks, UNNEST(range(0, greatest(len(tk) - 8 + 1, 0))) u(i)
    ), wins AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS i,
               CAST(concat('0x', substr(md5(array_to_string(
                   tk[CAST(i AS INT) + 1 : CAST(i AS INT) + 8], ' ')), 1, 15))
                    AS BIGINT) AS h
        FROM toks, UNNEST(range(0, greatest(len(tk) - 8 + 1, 0))) u(i)
    ), flagged AS MATERIALIZED (
        SELECT doc_id, i, i + 7 AS e
        FROM wins WHERE h IN (SELECT h FROM efp)
    ), isl AS MATERIALIZED (
        SELECT doc_id, i, e,
               CASE WHEN i > coalesce(max(e) OVER (
                        PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -2) + 1
                    THEN 1 ELSE 0 END AS brk
        FROM flagged
    ), isl2 AS MATERIALIZED (
        SELECT doc_id, i, e,
               sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM isl
    ), merged AS MATERIALIZED (
        SELECT doc_id, island, min(i) AS lo, max(e) AS hi
        FROM isl2 GROUP BY doc_id, island
    ), covered AS MATERIALIZED (
        SELECT DISTINCT doc_id, lo + d AS idx
        FROM merged, UNNEST(range(0, hi - lo + 1)) v(d)
    ), tokidx AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS idx,
               tk[CAST(i AS INT) + 1] AS tok
        FROM toks, UNNEST(range(0, len(tk))) u(i)
    ), kept AS MATERIALIZED (
        SELECT t.doc_id, t.idx, t.tok
        FROM tokidx t LEFT JOIN covered c
          ON t.doc_id = c.doc_id AND t.idx = c.idx
        WHERE c.idx IS NULL
    ), agg AS MATERIALIZED (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS txt,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id
    ), decon AS MATERIALIZED (
        SELECT t.doc_id,
               md5(coalesce(a.txt, '')) AS clean_fp,
               CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens_kept
        FROM toks t LEFT JOIN agg a USING (doc_id)
    ), dsrc AS MATERIALIZED (
        SELECT d.doc_id, d.clean_fp, d.n_tokens_kept, t.source
        FROM decon d JOIN train0 t USING (doc_id)
    ), n AS MATERIALIZED (
        SELECT s.source, count(*) AS n, any_value(w.wt) AS wt
        FROM dsrc s JOIN w USING (source)
        GROUP BY s.source
    ), k AS MATERIALIZED (SELECT min(n // wt) AS k FROM n),
    q AS MATERIALIZED (SELECT source, wt * (SELECT k FROM k) AS quota FROM n),
    mix AS MATERIALIZED (
        SELECT doc_id, source, clean_fp, n_tokens_kept FROM (
            SELECT d.doc_id, d.source, d.clean_fp, d.n_tokens_kept, q.quota,
                   row_number() OVER (
                       PARTITION BY d.source
                       ORDER BY md5('pf-mix' || CAST(d.doc_id AS VARCHAR)),
                                d.doc_id
                   ) AS rn
            FROM dsrc d JOIN q USING (source)
        ) WHERE rn <= quota
    )
    SELECT doc_id, source, clean_fp, n_tokens_kept,
           CAST({_PF_SHARD} AS INTEGER) AS shard
    FROM mix
    """,
    headline=True,
)


def _q_dsir_emit(spark, sf_dir):
    """STRETCH composition (r13 verdict item 8): the full modern
    pretraining-data story under ONE hash — DSIR top-25% importance
    selection (Xie et al. 2023) → de-bias the selected head to a
    UNIFORM source mixture (DSIR selection skews toward
    target-looking sources; an equal-weight target_mix_resample over
    all 20 fixture sources restores balance) → per-stratum epoch
    replication (src1 ×2, src3 ×3) → deterministic shuffle-sharding
    of the replicas on the composite doc_id#epoch key.  Every leg is
    individually oracled (doc_dsir_weights / pipeline_dsir_select /
    doc_epoch_upsample / pipeline_epoch_emit); this row replays the
    whole chain in one DuckDB CTE stack.

    Rank-boundary hash-safety is the pipeline_dsir_select measured
    margin (gap ≥ 5.7e-3 across scales, guard test parametrized over
    all three SFs); every other coordinate is md5/integer arithmetic,
    bit-exact by construction.  All 20 sources are present in the
    DSIR head at every fixture scale (measured min stratum count 2 /
    3 / 43 at sf0.001/0.01/0.1); target_mix_resample raises loudly if
    a weighted source ever vanishes rather than emitting a silently
    empty mix.

    Scale shape: scoring = broadcast model joins + ONE doc-grain agg;
    selection = approxQuantile coarse floor (pushed Filter) +
    TakeOrderedAndProject (per-partition top-k, no SinglePartition
    exchange); upsample = broadcast map join + row-local explode,
    ZERO exchanges.  The chain's corpus-sized exchanges are the model
    hash aggs (bucket fit + doc-grain scoring agg); the totals' scalar
    subqueries sum ≤ 10,000 model rows in one partition, and the
    mix/shard windows shuffle only the k-row selection (plan-asserted
    in tests/test_plans.py::test_dsir_emit_chain_plan_shape).  Zero
    Python end-to-end."""
    docs = _read(spark, sf_dir, "documents")
    # one-pass split fit over a SHARED pre-bucketed feature plan: its
    # target and raw slices compute one bucket shuffle between them
    # (AQE reuses it), and the scoring explodes the corpus once more —
    # identical tables to the two dsir_fit calls this replaced
    feats = classify.dsir_features(
        docs, F.col("source") == "src1", seed="ds1"
    )
    tc, rc = classify.dsir_fit_split(
        docs, F.col("source") == "src1", seed="ds1", features=feats
    )
    # narrow projection before the persisted selection (see
    # _q_dsir_select): the emission tail needs only (doc_id, source)
    scored = classify.dsir_weights(
        docs, tc, rc, seed="ds1", features=feats
    ).select(
        "doc_id", "source", "log_weight"
    )
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
    return sampling.shuffle_shards(keyed, "__emit_key", 8, seed="sh-d").select(
        "doc_id", "source", "epoch", "shard", "shard_pos"
    )


_DSIR_EMIT_W = ", ".join(f"('src{i}', 1)" for i in range(20))
_DE_SHARD, _DE_ORD = sampling.shuffle_shards_sql(
    _EMIT_KEY_SQL, 8, seed="sh-d"
)

_register(
    "pipeline_dsir_emit",
    _q_dsir_emit,
    _dsir_oracle_sql(
        f"""
    , sel AS (
        SELECT g.doc_id, d.source FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY lw DESC, doc_id) AS r
            FROM diag WHERE doc_id IS NOT NULL
        ) g JOIN documents d USING (doc_id)
        WHERE g.r <= ({_DSIR_K})
    ), wts(source, wt) AS (VALUES {_DSIR_EMIT_W}),
    cnt AS (
        SELECT s.source, count(*) AS n, any_value(wts.wt) AS wt
        FROM sel s JOIN wts USING (source)
        GROUP BY s.source
    ), kk AS (SELECT min(n // wt) AS k FROM cnt),
    quo AS (SELECT source, wt * (SELECT k FROM kk) AS quota FROM cnt),
    mixed AS (
        SELECT doc_id, source FROM (
            SELECT s.doc_id, s.source, quo.quota,
                   row_number() OVER (
                       PARTITION BY s.source
                       ORDER BY md5('de1' || CAST(s.doc_id AS VARCHAR)),
                                s.doc_id
                   ) AS rn
            FROM sel s JOIN quo USING (source)
        ) WHERE rn <= quota
    ), em(source, e) AS (VALUES ('src1', 2), ('src3', 3)),
    rj AS (
        SELECT x.doc_id, x.source, coalesce(em.e, 1) AS reps
        FROM mixed x LEFT JOIN em USING (source)
    ), up AS (
        SELECT doc_id, source,
               CAST(unnest([i FOR i IN range(0, reps)]) AS BIGINT) AS epoch
        FROM rj WHERE reps > 0
    ), sh AS (
        SELECT doc_id, source, epoch,
               CAST({_DE_SHARD} AS INTEGER) AS shard,
               {_DE_ORD} AS o,
               {_EMIT_KEY_SQL} AS kk2
        FROM up
    )
    SELECT doc_id, source, epoch, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY o, kk2
           ) AS BIGINT) AS shard_pos
    FROM sh
    """
    ),
    headline=True,
)


def _q_vocabulary(spark, sf_dir):
    """Tokenizer-vocab fit: top-200 tokens with >= 5 occurrences, dense
    ids by (freq DESC, token ASC), cumulative corpus-coverage share."""
    return text.vocabulary(
        _read(spark, sf_dir, "documents"), min_count=5, max_size=200
    )


_register(
    "doc_vocabulary",
    _q_vocabulary,
    f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_transform({_TOKS_SQL}, x -> lower(x))) AS token
        FROM documents
    ), c AS (
        SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
        FROM tok GROUP BY token HAVING count(*) >= 5
    ), tot AS (SELECT count(*) AS total FROM tok),
    r AS (
        SELECT token, freq, doc_freq,
               row_number() OVER (ORDER BY freq DESC, token) AS rn
        FROM c
    )
    SELECT token, freq, doc_freq, CAST(rn - 1 AS BIGINT) AS token_id,
           (sum(freq) OVER (ORDER BY rn)) / total AS cum_share
    FROM r CROSS JOIN tot
    WHERE rn <= 200
    """,
    headline=True,
)


def _q_merge_candidates(spark, sf_dir):
    """One round of BPE-style merge scoring: top-100 adjacent token
    pairs with >= 5 corpus occurrences, ranked by (freq DESC, pair
    ASC) — the pair-selection step of a tokenizer fit, one hash agg +
    rank-limit prune past the unigram vocabulary path."""
    return text.merge_candidates(
        _read(spark, sf_dir, "documents"), min_count=5, top_n=100
    )


_register(
    "doc_merge_candidates",
    _q_merge_candidates,
    f"""
    WITH toks AS (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    ), pairs AS (
        SELECT doc_id,
               unnest([{{'l': t[i], 'r': t[i+1]}} for i in range(1, len(t))]) AS p
        FROM toks WHERE len(t) >= 2
    ), c AS (
        SELECT p.l AS token_left, p.r AS token_right,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5
    ), r AS (
        SELECT token_left, token_right, freq, doc_freq,
               row_number() OVER (
                   ORDER BY freq DESC, token_left, token_right
               ) AS rn
        FROM c
    )
    SELECT token_left, token_right, freq, doc_freq,
           CAST(rn - 1 AS BIGINT) AS merge_rank
    FROM r WHERE rn <= 100
    """,
    headline=True,
)


def _q_apply_merge(spark, sf_dir):
    """The application half of a BPE round: merge every left-to-right
    non-overlapping adjacent ('order','order') occurrence — the
    same-token pair is the hardest greedy case ('order order order'
    merges once, the middle instance consumed).  Row-local array work,
    zero shuffle; fingerprint compares the merged token stream
    exactly ('|' joint keeps the merged token distinguishable)."""
    docs = _read(spark, sf_dir, "documents")
    out = text.apply_merge(docs, "order", "order")
    return out.select(
        "doc_id",
        F.size(F.col("tokens_merged")).cast("long").alias("n_after"),
        "n_merges",
        F.md5(F.array_join(F.col("tokens_merged"), "|")).alias("fp"),
    )


_register(
    "doc_apply_merge",
    _q_apply_merge,
    f"""
    WITH toks AS (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    ), m AS (
        SELECT doc_id,
               unnest([i for i in range(1, len(t))
                       if t[i] = 'order' AND t[i+1] = 'order']) AS i
        FROM toks WHERE len(t) >= 2
    ), isl AS (
        -- maximal runs of consecutive match positions; greedy BPE
        -- takes the odd offsets within each run (even ones are
        -- consumed by the merge starting one position earlier)
        SELECT doc_id, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
        FROM m
    ), starts AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   row_number() OVER (PARTITION BY doc_id, g ORDER BY i) AS rn
            FROM isl
        ) WHERE rn % 2 = 1
    ), sl AS (
        SELECT doc_id, list(i ORDER BY i) AS s FROM starts GROUP BY doc_id
    ), recon AS (
        SELECT toks.doc_id,
               coalesce(len(sl.s), 0) AS n_merges,
               list_filter([
                   CASE WHEN list_contains(coalesce(sl.s, []), j)
                             THEN 'order order'
                        WHEN list_contains(coalesce(sl.s, []), j - 1)
                             THEN NULL
                        ELSE t[j] END
                   for j in range(1, len(t) + 1)
               ], x -> x IS NOT NULL) AS out
        FROM toks LEFT JOIN sl ON toks.doc_id = sl.doc_id
    )
    SELECT doc_id,
           CAST(len(out) AS BIGINT) AS n_after,
           CAST(n_merges AS BIGINT) AS n_merges,
           md5(array_to_string(out, '|')) AS fp
    FROM recon
    """,
    headline=True,
)


def _q_bpe_round(spark, sf_dir):
    """One FULL BPE round, composed: score the corpus' top adjacent
    pair (freq DESC, pair ASC — deterministic) and apply it greedily.
    Both engines derive the pair INDEPENDENTLY — the oracle recomputes
    it in SQL rather than receiving it — so the driver hash verifies
    the choice and the application together.  The 1-row top-pair
    collect is the documented scalar-model pattern (the pair IS the
    round's model, exactly as in text.bpe_fit)."""
    docs = _read(spark, sf_dir, "documents")
    top = text.merge_candidates(
        docs, min_count=2, top_n=1, doc_freq=False
    ).collect()
    if not top:
        raise ValueError(
            "doc_bpe_round: no adjacent pair reaches min_count=2 in "
            f"{sf_dir}/documents — corpus too small for a BPE round"
        )
    left, right = top[0]["token_left"], top[0]["token_right"]
    out = text.apply_merge(docs, left, right)
    return out.select(
        "doc_id",
        F.lit(left).alias("token_left"),
        F.lit(right).alias("token_right"),
        F.size(F.col("tokens_merged")).cast("long").alias("n_after"),
        "n_merges",
        F.md5(F.array_join(F.col("tokens_merged"), "|")).alias("fp"),
    )


_register(
    "doc_bpe_round",
    _q_bpe_round,
    f"""
    WITH toks AS (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    ), tp AS (
        -- the oracle derives the SAME top pair independently
        SELECT token_left AS l, token_right AS r FROM (
            SELECT p.l AS token_left, p.r AS token_right, count(*) AS c
            FROM (
                SELECT unnest([{{'l': t[i], 'r': t[i+1]}}
                               for i in range(1, len(t))]) AS p
                FROM toks WHERE len(t) >= 2
            )
            GROUP BY 1, 2 HAVING count(*) >= 2
            ORDER BY c DESC, token_left, token_right LIMIT 1
        )
    ), m AS (
        SELECT toks.doc_id,
               unnest([i for i in range(1, len(t))
                       if t[i] = tp.l AND t[i+1] = tp.r]) AS i
        FROM toks CROSS JOIN tp WHERE len(t) >= 2
    ), isl AS (
        SELECT doc_id, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS g
        FROM m
    ), starts AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   row_number() OVER (PARTITION BY doc_id, g ORDER BY i) AS rn
            FROM isl
        ) WHERE rn % 2 = 1
    ), sl AS (
        SELECT doc_id, list(i ORDER BY i) AS s FROM starts GROUP BY doc_id
    ), recon AS (
        SELECT toks.doc_id, tp.l, tp.r,
               coalesce(len(sl.s), 0) AS n_merges,
               list_filter([
                   CASE WHEN list_contains(coalesce(sl.s, []), j)
                             THEN tp.l || ' ' || tp.r
                        WHEN list_contains(coalesce(sl.s, []), j - 1)
                             THEN NULL
                        ELSE t[j] END
                   for j in range(1, len(t) + 1)
               ], x -> x IS NOT NULL) AS out
        FROM toks CROSS JOIN tp LEFT JOIN sl ON toks.doc_id = sl.doc_id
    )
    SELECT doc_id, l AS token_left, r AS token_right,
           CAST(len(out) AS BIGINT) AS n_after,
           CAST(n_merges AS BIGINT) AS n_merges,
           md5(array_to_string(out, '|')) AS fp
    FROM recon
    """,
)


def _sql_quote(tok: str) -> str:
    """Escape a token for embedding as a SQL string literal."""
    return tok.replace("'", "''")


def _bpe_stage_sql(
    chain: str, i: int, l_expr: str, r_expr: str, m_expr: str, join_tp: str = ""
) -> str:
    """One greedy-merge application stage of the BPE oracle, as CTE
    fragments: reads ``{chain}{i}`` (doc_id, t) and emits
    ``{chain}{i+1}`` with the pair ``(l_expr, r_expr)`` merged into
    ``m_expr`` under the same take-unless-previous-taken
    (gaps-and-islands, odd-offset-within-run) rule the engine and the
    doc_apply_merge oracle share.  ``join_tp`` optionally cross-joins
    a derived 1-row pair table (the composed fit oracle); a NULL pair
    makes the stage an exact identity — the SQL replay of the
    engine's early stop when no pair reaches min_count.  Each link is
    MATERIALIZED: two CTEs read it, and inlined links re-run the whole
    chain above them per reader."""
    t_in, t_out = f"{chain}{i}", f"{chain}{i + 1}"
    x = f"{chain}{i}"  # unique suffix for this stage's helper CTEs
    return f""", m_{x} AS (
        SELECT {t_in}.doc_id,
               unnest([j for j in range(1, len(t))
                       if t[j] = {l_expr} AND t[j + 1] = {r_expr}]) AS j
        FROM {t_in}{join_tp} WHERE len(t) >= 2
    ), isl_{x} AS (
        SELECT doc_id, j,
               j - row_number() OVER (PARTITION BY doc_id ORDER BY j) AS g
        FROM m_{x}
    ), st_{x} AS (
        SELECT doc_id, j FROM (
            SELECT doc_id, j,
                   row_number() OVER (PARTITION BY doc_id, g ORDER BY j) AS rn
            FROM isl_{x}
        ) WHERE rn % 2 = 1
    ), sl_{x} AS (
        SELECT doc_id, list(j ORDER BY j) AS s FROM st_{x} GROUP BY doc_id
    ), {t_out} AS MATERIALIZED (
        SELECT {t_in}.doc_id,
               list_filter([
                   CASE WHEN list_contains(coalesce(sl_{x}.s, []), k)
                             THEN {m_expr}
                        WHEN list_contains(coalesce(sl_{x}.s, []), k - 1)
                             THEN NULL
                        ELSE t[k] END
                   for k in range(1, len(t) + 1)
               ], x -> x IS NOT NULL) AS t
        FROM {t_in}{join_tp}
        LEFT JOIN sl_{x} ON {t_in}.doc_id = sl_{x}.doc_id
    )"""


# Learned-table inference fixture: merge 2 cascades onto merge 0's
# output ('table table' exists only after the first merge), so the
# oracle verifies rank-ORDER application, not just per-merge greedy.
_BPE_ENCODE_MERGES = [("slow", "slow"), ("a", "a"), ("slow slow", "key")]


def _q_bpe_encode(spark, sf_dir):
    """Tokenizer inference: apply a 3-entry learned merge table in
    merge-rank order in ONE row-local fold (single Project, zero
    shuffle, zero Python — plan-asserted).  Entry 3 consumes entry
    1's output token, so the fingerprint verifies the fold applies
    the table sequentially, not independently."""
    docs = _read(spark, sf_dir, "documents")
    out = text.bpe_encode(docs, _BPE_ENCODE_MERGES, out_col="tokens_bpe")
    return out.select(
        "doc_id",
        F.size(F.col("tokens_bpe")).cast("long").alias("n_tokens"),
        F.md5(F.array_join(F.col("tokens_bpe"), "|")).alias("fp"),
    )


_register(
    "doc_bpe_encode",
    _q_bpe_encode,
    f"""
    WITH tk0 AS (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    )"""
    + "".join(
        _bpe_stage_sql(
            "tk",
            i,
            f"'{_sql_quote(left)}'",
            f"'{_sql_quote(right)}'",
            f"'{_sql_quote(left + ' ' + right)}'",
        )
        for i, (left, right) in enumerate(_BPE_ENCODE_MERGES)
    )
    + f"""
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           md5(array_to_string(t, '|')) AS fp
    FROM tk{len(_BPE_ENCODE_MERGES)}
    """,
    headline=True,
)


def _q_bpe_vocab(spark, sf_dir):
    """Post-encode vocabulary: the token-id table a trainer actually
    consumes — bpe_encode with a fixed learned table, then the
    vocabulary builder over the ENCODED stream (tokens_col, no
    re-split), so merged tokens rank as single units with coverage
    stats.  Completes the tokenizer narrative: fit → encode → vocab →
    pack, each oracle-backed."""
    docs = _read(spark, sf_dir, "documents")
    enc = text.bpe_encode(docs, _BPE_ENCODE_MERGES, out_col="tokens_bpe")
    return text.vocabulary(enc, tokens_col="tokens_bpe", min_count=5, max_size=200)


_register(
    "doc_bpe_vocab",
    _q_bpe_vocab,
    f"""
    WITH tk0 AS (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    )"""
    + "".join(
        _bpe_stage_sql(
            "tk",
            i,
            f"'{_sql_quote(left)}'",
            f"'{_sql_quote(right)}'",
            f"'{_sql_quote(left + ' ' + right)}'",
        )
        for i, (left, right) in enumerate(_BPE_ENCODE_MERGES)
    )
    + f"""
    , tok AS (
        SELECT doc_id, unnest(t) AS token FROM tk{len(_BPE_ENCODE_MERGES)}
    ), c AS (
        SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
        FROM tok GROUP BY token HAVING count(*) >= 5
    ), tot AS (SELECT count(*) AS total FROM tok),
    r AS (
        SELECT token, freq, doc_freq,
               row_number() OVER (ORDER BY freq DESC, token) AS rn
        FROM c
    )
    SELECT token, freq, doc_freq, CAST(rn - 1 AS BIGINT) AS token_id,
           (sum(freq) OVER (ORDER BY rn)) / total AS cum_share
    FROM r CROSS JOIN tot
    WHERE rn <= 200
    """,
)


def _q_bpe_fertility(spark, sf_dir):
    """Tokenizer FERTILITY audit (staged earlier this round,
    registered late r15): per-doc tokens-per-word and chars-per-token
    under the FITTED merge table — the standard tokenizer-eval metric
    (a high-fertility tokenizer wastes context budget; tokenizer
    papers report fertility per language/domain before committing a
    vocab).  All inputs are exact integers (post-encode token count,
    pre-merge word count, the table's n_chars); the two ratios are
    single IEEE divisions, exact cross-engine — no margin argument.
    The oracle re-derives the encode via the shared 3-stage greedy
    replay (doc_bpe_encode's), then counts.

    Scale shape: the encode is ONE row-local fold (single Project,
    plan-asserted for doc_bpe_encode); the counts and ratios are
    row-local expressions — zero exchanges beyond the scan."""
    docs = _read(spark, sf_dir, "documents")
    enc = text.bpe_encode(docs, _BPE_ENCODE_MERGES, out_col="tokens_bpe")
    return (
        enc.select(
            "doc_id",
            F.size(F.col("tokens_bpe")).cast("long").alias("n_tokens"),
            F.size(text.tokens(F.lower(F.col("text"))))
            .cast("long")
            .alias("n_words"),
            F.col("n_chars").cast("long").alias("n_chars"),
        )
        .withColumn(
            "tokens_per_word",
            F.when(
                F.col("n_words") > 0, F.col("n_tokens") / F.col("n_words")
            ),
        )
        .withColumn(
            "chars_per_token",
            F.when(
                F.col("n_tokens") > 0, F.col("n_chars") / F.col("n_tokens")
            ),
        )
    )


_register(
    "doc_bpe_fertility",
    _q_bpe_fertility,
    f"""
    WITH tk0 AS (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    )"""
    + "".join(
        _bpe_stage_sql(
            "tk",
            i,
            f"'{_sql_quote(left)}'",
            f"'{_sql_quote(right)}'",
            f"'{_sql_quote(left + ' ' + right)}'",
        )
        for i, (left, right) in enumerate(_BPE_ENCODE_MERGES)
    )
    + f"""
    , fert AS (
        SELECT e.doc_id,
               CAST(len(e.t) AS BIGINT) AS n_tokens,
               CAST(len(w.t) AS BIGINT) AS n_words,
               CAST(d.n_chars AS BIGINT) AS n_chars
        FROM tk{len(_BPE_ENCODE_MERGES)} e
        JOIN tk0 w USING (doc_id)
        JOIN documents d USING (doc_id)
    )
    SELECT doc_id, n_tokens, n_words, n_chars,
           CASE WHEN n_words > 0 THEN n_tokens / n_words END
               AS tokens_per_word,
           CASE WHEN n_tokens > 0 THEN n_chars / n_tokens END
               AS chars_per_token
    FROM fert
    """,
    headline=True,
)


_BPE_PIPE_ROUNDS = 3
_BPE_PIPE_SEED = "bpefit-p"
_BPE_PIPE_CUT = 5000  # sample_fraction 0.5 × hash_bucket's 10000 buckets


def _q_pipeline_bpe_tokenize(spark, sf_dir):
    """The full tokenize-and-pack emission a training-data pipeline
    ships, composed end-to-end: SAMPLED bpe_fit (merge table learned
    on a deterministic md5-hash half of the corpus — the 100 TB fit
    valve) → single-fold bpe_encode over the FULL corpus → pack_emit
    into budget-bounded training sequences.  The oracle re-derives the
    whole merge table INDEPENDENTLY (sample → score → apply, three
    rounds in SQL), so the driver hash verifies sample choice, fit,
    inference, and packing together.  The 3-row merge-table collect is
    the documented scalar-model pattern (text.bpe_fit docstring)."""
    docs = _read(spark, sf_dir, "documents")
    enc, merges = text.bpe_fit(
        docs,
        n_merges=_BPE_PIPE_ROUNDS,
        min_count=2,
        sample_fraction=0.5,
        sample_seed=_BPE_PIPE_SEED,
    )
    mt = ";".join(f"{left}+{right}" for left, right, _ in merges)
    packed_in = enc.select(
        "doc_id",
        F.array_join(F.col("tokens_merged"), " ").alias("text"),
        F.size(F.col("tokens_merged")).cast("long").alias("n_tokens"),
    )
    seqs = text.pack_emit(packed_in, budget=256, num_groups=4, sep="\n")
    return seqs.select(
        "pack_group",
        "seq_index",
        "n_docs",
        "seq_tokens",
        F.md5(F.col("seq_text").cast("binary")).alias("seq_md5"),
        F.lit(mt).alias("merge_table"),
    )


def _bpe_fit_round_sql(i: int, min_count: int) -> str:
    """One fit round of the composed-BPE oracle: derive round ``i``'s
    top pair from the SAMPLE chain ``s{i}`` (freq DESC, pair ASC —
    the engine's exact tie-break), then apply it to both the sample
    chain (next round's statistics) and the FULL chain ``f{i}``
    (inference).  ``tp{i}`` always holds exactly one row; a NULL pair
    (no candidate reached min_count) makes both applications exact
    identities — the SQL replay of the engine's early stop."""
    tp_l, tp_r = f"tp{i}.l", f"tp{i}.r"
    tp_m = f"tp{i}.l || ' ' || tp{i}.r"
    return (
        f""", cand{i} AS (
        SELECT p.l AS l, p.r AS r, count(*) AS c
        FROM (
            SELECT unnest([{{'l': t[j], 'r': t[j + 1]}}
                           for j in range(1, len(t))]) AS p
            FROM s{i} WHERE len(t) >= 2
        )
        GROUP BY 1, 2 HAVING count(*) >= {min_count}
    ), tp{i} AS MATERIALIZED (
        SELECT l, r FROM (SELECT l, r FROM cand{i} ORDER BY c DESC, l, r LIMIT 1)
        UNION ALL
        SELECT NULL, NULL WHERE (SELECT count(*) FROM cand{i}) = 0
    )"""
        + _bpe_stage_sql("s", i, tp_l, tp_r, tp_m, f" CROSS JOIN tp{i}")
        + _bpe_stage_sql("f", i, tp_l, tp_r, tp_m, f" CROSS JOIN tp{i}")
    )


_register(
    "pipeline_bpe_tokenize",
    _q_pipeline_bpe_tokenize,
    f"""
    WITH s0 AS MATERIALIZED (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
        WHERE {sampling.hash_bucket_sql("doc_id", seed=_BPE_PIPE_SEED)}
              < {_BPE_PIPE_CUT}
    ), f0 AS MATERIALIZED (
        SELECT doc_id, list_transform({_TOKS_SQL}, x -> lower(x)) AS t
        FROM documents
    )"""
    + "".join(
        _bpe_fit_round_sql(i, min_count=2) for i in range(_BPE_PIPE_ROUNDS)
    )
    + f"""
    , enc AS (
        SELECT doc_id, array_to_string(t, ' ') AS text,
               CAST(len(t) AS BIGINT) AS n_tokens
        FROM f{_BPE_PIPE_ROUNDS}
    ), mt AS (
        SELECT array_to_string(list_filter([
            {", ".join(f"(SELECT l || '+' || r FROM tp{i})"
                       for i in range(_BPE_PIPE_ROUNDS))}
        ], x -> x IS NOT NULL), ';') AS merge_table
    ), grp AS (
        SELECT doc_id, text, n_tokens,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 4
                 AS pack_group
        FROM enc
    ), cum AS (
        SELECT doc_id, text, pack_group, n_tokens,
               sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS s
        FROM grp
    )
    SELECT pack_group,
           CAST(s // 256 AS BIGINT) AS seq_index,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           md5(string_agg(text, chr(10) ORDER BY doc_id)) AS seq_md5,
           (SELECT merge_table FROM mt) AS merge_table
    FROM cum GROUP BY 1, 2
    """,
    headline=True,
)


def _q_blocklist(spark, sf_dir):
    """C4-style bad-words screening: per-doc count of blocklisted token
    instances + a blocked flag, exact token match (never substring),
    zero shuffle."""
    return text.blocklist_flags(
        _read(spark, sf_dir, "documents"), ["dup", "skew"]
    ).select("doc_id", "n_blocked", "blocked")


_register(
    "doc_blocklist",
    _q_blocklist,
    f"""
    SELECT doc_id,
           COALESCE(CAST(len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                                x -> list_contains(['dup', 'skew'], x)))
                AS BIGINT), 0) AS n_blocked,
           COALESCE(len(list_filter(list_transform({_TOKS_SQL}, x -> lower(x)),
                           x -> list_contains(['dup', 'skew'], x))) > 0,
                    FALSE) AS blocked
    FROM documents
    """,
)


def _q_pack_emit(spark, sf_dir):
    """The emission half of concat-and-chunk packing: one row per
    packed training sequence with member texts concatenated in id
    order (compared by md5 so oracle rows stay compact)."""
    docs = text.token_count(_read(spark, sf_dir, "documents"))
    seqs = text.pack_emit(docs, budget=512, num_groups=8, sep="\n")
    return seqs.select(
        "pack_group",
        "seq_index",
        "n_docs",
        "seq_tokens",
        F.md5(F.col("seq_text").cast("binary")).alias("seq_md5"),
    )


_register(
    "doc_pack_emit",
    _q_pack_emit,
    f"""
    WITH t AS (
        SELECT doc_id, text,
               CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                 AS pack_group
        FROM documents
    ), c AS (
        SELECT doc_id, text, pack_group, n_tokens,
               sum(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens AS s
        FROM t
    )
    SELECT pack_group,
           CAST(s // 512 AS BIGINT) AS seq_index,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           md5(string_agg(text, chr(10) ORDER BY doc_id)) AS seq_md5
    FROM c GROUP BY 1, 2
    """,
    headline=True,
)


def _q_value_histogram(spark, sf_dir):
    """Equi-depth histogram of event values: percentile_disc edges
    (actual data values — engine-exact), row-local bucket assignment,
    map-side-combined counts."""
    ev = _read_events(spark, sf_dir).select("value")
    return stats.equi_depth_histogram(ev, "value", n_buckets=10)


# DuckDB replay of the exact 10-bucket equi-depth assignment: ``t``
# holds (value, bucket) for every non-NULL event value.  Shared by the
# exact row and its sketch twin.
_VALUE_BUCKETS_CTE = (
    """
    WITH ranked AS (
        SELECT value, cume_dist() OVER (ORDER BY value) AS cd FROM events
        WHERE value IS NOT NULL
    ), b AS (
        SELECT """
    + ", ".join(
        f"min(CASE WHEN cd >= {i / 10!r} THEN value END) AS e{i}"
        for i in range(1, 10)
    )
    + """
        FROM ranked
    ), t AS (
        SELECT value, CAST("""
    + " + ".join(
        f"(CASE WHEN value > e{i} THEN 1 ELSE 0 END)" for i in range(1, 10)
    )
    + """ AS BIGINT) AS bucket
        FROM events CROSS JOIN b
        WHERE value IS NOT NULL
    )
    """
)

_register(
    "events_value_histogram",
    _q_value_histogram,
    _VALUE_BUCKETS_CTE
    + """
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           min(value) AS lo, max(value) AS hi
    FROM t GROUP BY bucket
    """,
    headline=True,
)


def _hist_n_within_tolerance(n_sk, n_exact, n_total):
    """|n_sk − n_exact| ≤ max(2, 1%·n_total/10), FALSE when the sketch
    bucket is missing (NULL n_sk).  The bound is RANK error:
    approx_percentile's default accuracy gives ~1e-4 relative rank per
    edge, but when sketch and exact edges land on DIFFERENT tie-run
    values the count shifts by the tie mass — measured max deviation is
    0 / 2 / 13 at sf0.001 / 0.01 / 0.1 (0.13% of bucket size at sf0.1,
    a ~7× margin).  Factored out so
    ``test_histogram_sketch_tolerance_flag_is_not_vacuous`` can pin
    that the flag flips on a drained or vanished bucket."""
    tol = F.greatest(F.lit(2.0), 0.01 * n_total / F.lit(10))
    return F.coalesce(F.abs(n_sk - n_exact) <= tol, F.lit(False))


def _q_value_histogram_sketch(spark, sf_dir):
    """The 100 TB tier of the same histogram: t-digest
    ``approx_percentile`` edges (constant memory per executor, sketch
    merge instead of a per-group column sort).  The sketch is
    engine-private, so the row joins the exact twin on bucket, hashes
    (bucket, n_exact) directly and ships the sketch leg as the
    ``_hist_n_within_tolerance`` count-deviation flag.  Row set = the
    exact twin's buckets (DuckDB-replayable); a sketch bucket that
    disappears or absorbs rows flips ``n_ok`` on the buckets it
    drained."""
    ev = _read_events(spark, sf_dir).select("value")
    sk = stats.equi_depth_histogram(ev, "value", n_buckets=10, exact=False)
    ex = stats.equi_depth_histogram(ev, "value", n_buckets=10)
    n_total = F.broadcast(
        ev.filter(F.col("value").isNotNull()).agg(
            F.count(F.lit(1)).alias("__n_total")
        )
    )
    return (
        ex.select("bucket", F.col("n").alias("n_exact"))
        .join(sk.select("bucket", F.col("n").alias("__n_sk")), "bucket", "left")
        .join(n_total)
        .select(
            "bucket",
            "n_exact",
            _hist_n_within_tolerance(
                F.col("__n_sk"), F.col("n_exact"), F.col("__n_total")
            ).alias("n_ok"),
        )
    )


_register(
    "events_value_histogram_sketch",
    _q_value_histogram_sketch,
    _VALUE_BUCKETS_CTE
    + """
    SELECT bucket, CAST(count(*) AS BIGINT) AS n_exact, TRUE AS n_ok
    FROM t GROUP BY bucket
    """,
)


def _winsorize_within_band(v, w, lo_lo, lo_hi, hi_lo, hi_hi):
    """The per-row clip-decision check against exact percentiles
    widened by a rank band: rows below the low band MUST clip into it,
    rows inside the certain middle MUST pass through, rows above the
    high band MUST clip into it, band rows are free, NULL stays NULL —
    factored out so ``test_winsorize_sketch_tolerance_flag_is_not_
    vacuous`` can pin that every MUST leg actually flips on a broken
    sketch."""
    return (
        F.when(v.isNull(), w.isNull())
        .when(v < lo_lo, w.between(lo_lo, lo_hi))
        .when(v > hi_hi, w.between(hi_lo, hi_hi))
        .when(v.between(lo_hi, hi_lo), w == v)
        .otherwise(F.lit(True))
    )


def _q_winsorize_sketch(spark, sf_dir):
    """Sketch-tier winsorization: approx_percentile bounds.  Output is
    still values-moved-not-computed, but which rows clip depends on the
    sketch's rank error.  Rows FAR from the percentile boundary must
    behave identically under any in-tolerance sketch, so each row's
    clip decision is checked by ``_winsorize_within_band`` against
    EXACT percentiles widened by ±0.002 rank (20× approx_percentile's
    default ~1e-4 rank error): (event_id, value) hash directly and
    ``w_ok`` is TRUE for every row under a correct sketch."""
    ev = _read_events(spark, sf_dir).select("event_id", "value")
    out = stats.winsorize(ev, "value", lower=0.01, upper=0.99, exact=False)
    delta = 0.002
    band = F.broadcast(
        ev.agg(
            *[
                F.expr(
                    f"percentile_disc({q!r}) WITHIN GROUP (ORDER BY value)"
                ).alias(a)
                for q, a in [
                    (0.01 - delta, "__lo_lo"),
                    (0.01 + delta, "__lo_hi"),
                    (0.99 - delta, "__hi_lo"),
                    (0.99 + delta, "__hi_hi"),
                ]
            ]
        )
    )
    ok = _winsorize_within_band(
        F.col("value"),
        F.col("value_winsorized"),
        F.col("__lo_lo"),
        F.col("__lo_hi"),
        F.col("__hi_lo"),
        F.col("__hi_hi"),
    )
    return out.join(band).select("event_id", "value", ok.alias("w_ok"))


_register(
    "events_winsorized_sketch",
    _q_winsorize_sketch,
    "SELECT event_id, value, TRUE AS w_ok FROM events",
)


def _sketch_within_tolerance(est, exact):
    """|est − exact| ≤ 15 %·exact + 2 — the sketch-verification
    predicate of the HLL++ rows (3 σ of HLL++'s default
    rsd = 0.05 plus small-cardinality slack; HLL++ is EXACT below its
    sparse-mode threshold, so tiny columns must pass by equality).
    Factored out so ``test_sketch_tolerance_flag_is_not_vacuous`` can
    pin that the flag actually flips on an out-of-band estimate — a
    TRUE-constant oracle with a never-false engine flag would be a
    vacuous check (the r18 de-vacuumed-pin lesson)."""
    e = est.cast("double")
    x = exact.cast("double")
    return F.abs(e - x) <= 0.15 * x + 2.0


def _q_table_profile_sketch(spark, sf_dir):
    """Sketch-tier profile with ORACLE TEETH (r19 verdict item 4): the
    operator tier under test is HLL++ ``approx_count_distinct``
    (one pass, no Expand blowup, engine-private sketch state), but the
    catalog projection no longer ships the raw estimate — it joins the
    exact twin and emits ``n_distinct_ok`` = |sketch − exact| ≤
    15 %·exact + 2 (3 sigma of the default rsd=0.05; measured error on
    these columns ≤ 7.3 % at all three scales, and Spark's HLL++ is
    deterministic for fixed input).  With the exact legs (n_rows,
    n_nulls) hashed directly and the sketch leg hashed as the
    tolerance flag, this row graduates from rows-only to a full
    hash-green driver check — a broken sketch flips the flag and
    reddens the row.  The user-facing operator tier
    (``table_profile(exact_distinct=False)``) is unchanged and
    single-pass; the exact-twin join is this verification harness's
    cost, not the operator's."""
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    sk = stats.table_profile(o, exact_distinct=False)
    ex = stats.table_profile(o).select(
        "column", F.col("n_distinct").alias("__nd_exact")
    )
    return (
        sk.join(ex, "column")
        .select(
            "column",
            "n_rows",
            "n_nulls",
            _sketch_within_tolerance(
                F.col("n_distinct"), F.col("__nd_exact")
            ).alias("n_distinct_ok"),
        )
    )


_register(
    "orders_table_profile_sketch",
    _q_table_profile_sketch,
    """
    SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           TRUE AS n_distinct_ok
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_custkey) AS BIGINT), TRUE
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT), TRUE
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT), TRUE
    FROM orders
    """,
)


def _q_table_profile(spark, sf_dir):
    """ANALYZE-style per-column profile of orders: row/null/distinct
    counts in one Expand-planned pass."""
    o = _read(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    return stats.table_profile(o)


_register(
    "orders_table_profile",
    _q_table_profile,
    """
    SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
           CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT)
    FROM orders
    """,
)


def _q_ohlc(spark, sf_dir):
    """OHLC bucket rollup of event values per type per hour: first/
    last by (ts, event_id) struct order — deterministic under ties —
    plus min/max/count, one hash aggregation."""
    ev = _read_events(spark, sf_dir).select("event_id", "ts", "event_type", "value")
    return windows.ohlc_resample(
        ev, ["event_type"], "ts", "value", "event_id", step_seconds=3600
    )


_register(
    "events_ohlc",
    _q_ohlc,
    """
    WITH t AS (
        -- bucket start in exact LONG micros via the positive-mod form
        -- (mirrors the engine's pmod): DuckDB's // truncates toward
        -- zero, so it would bucket pre-1970 timestamps differently
        SELECT event_type, value,
               epoch_us(ts)
                 - ((epoch_us(ts) % 3600000000 + 3600000000)
                    % 3600000000) AS b,
               row_number() OVER (
                   PARTITION BY event_type,
                       epoch_us(ts)
                         - ((epoch_us(ts) % 3600000000 + 3600000000)
                            % 3600000000)
                   ORDER BY epoch_us(ts), event_id
               ) AS rf,
               row_number() OVER (
                   PARTITION BY event_type,
                       epoch_us(ts)
                         - ((epoch_us(ts) % 3600000000 + 3600000000)
                            % 3600000000)
                   ORDER BY epoch_us(ts) DESC, event_id DESC
               ) AS rl
        FROM events
    )
    SELECT event_type,
           make_timestamp(b) AS bucket_start,
           min(CASE WHEN rf = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           min(CASE WHEN rl = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n
    FROM t GROUP BY event_type, b
    """,
    headline=True,
)


def _q_winsorize(spark, sf_dir):
    """p1/p99 winsorization of event values: percentile_disc bounds
    broadcast as one row, row-local clamp — values moved, never
    computed, so the clipped column hashes exactly."""
    ev = _read_events(spark, sf_dir).select("event_id", "value")
    return stats.winsorize(ev, "value", lower=0.01, upper=0.99)


_register(
    "events_winsorized",
    _q_winsorize,
    """
    WITH ranked AS (
        SELECT value, cume_dist() OVER (ORDER BY value) AS cd FROM events
        WHERE value IS NOT NULL
    ), b AS (
        SELECT min(CASE WHEN cd >= 0.01 THEN value END) AS lo,
               min(CASE WHEN cd >= 0.99 THEN value END) AS hi
        FROM ranked
    )
    SELECT event_id, value,
           CASE WHEN value IS NULL THEN NULL
                ELSE least(greatest(value, lo), hi) END AS value_winsorized
    FROM events CROSS JOIN b
    """,
)


def _q_embed_sim_join(spark, sf_dir):
    """Cross-corpus embedding similarity join
    (``dedup.embedding_similarity_join``): the corpus joined against an
    id-shifted copy of itself.  Every vector matches exactly its copy
    (cosine 1.0; identical vectors hash to identical hyperplane
    signatures, so the bucket join provably catches them) and the
    corpus's natural max pairwise cosine ~0.51 sits far under the 0.95
    threshold — so the all-pairs cross-cosine oracle replays the LSH
    output exactly."""
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    right = base.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
    )
    return dedup.embedding_similarity_join(
        base, right, threshold=0.95, dim=64
    ).select("id_l", "id_r")


_register(
    "embed_similarity_join",
    _q_embed_sim_join,
    """
    SELECT a.vec_id AS id_l, b.vec_id + 100000 AS id_r
    FROM embeddings a JOIN embeddings b
      ON list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) >= 0.95
    """,
    headline=True,
)


def _q_funnel(spark, sf_dir):
    """Ordered view→click→purchase funnel per user: earliest step
    times in order (min — tie-free), chained user-keyed aggs sharing
    one partitioning."""
    from python_dtl_spark.operators import analytics

    ev = _read_events(spark, sf_dir).select("user_id", "ts", "event_type")
    return analytics.funnel_conversion(ev, ["view", "click", "purchase"])


_register(
    "events_funnel",
    _q_funnel,
    """
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events
    ), s0 AS (
        SELECT user_id, min(us) AS t_view FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ), s1 AS (
        SELECT e.user_id, min(us) AS t_click FROM e JOIN s0 USING (user_id)
        WHERE event_type = 'click' AND us > t_view GROUP BY e.user_id
    ), s2 AS (
        SELECT e.user_id, min(us) AS t_purchase FROM e JOIN s1 USING (user_id)
        WHERE event_type = 'purchase' AND us > t_click GROUP BY e.user_id
    )
    SELECT s0.user_id, t_view, t_click, t_purchase,
           CAST(CAST(t_view IS NOT NULL AS INT)
                + CAST(t_click IS NOT NULL AS INT)
                + CAST(t_purchase IS NOT NULL AS INT) AS BIGINT)
               AS steps_completed
    FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
    """,
    headline=True,
)


def _q_retention(spark, sf_dir):
    """Weekly cohort retention: first-seen week cohorts, distinct
    active users per (cohort, week offset), exact retention share."""
    from python_dtl_spark.operators import analytics

    ev = _read_events(spark, sf_dir).select("user_id", "ts")
    return analytics.cohort_retention(ev, period_seconds=7 * 24 * 3600)


_register(
    "events_retention",
    _q_retention,
    """
    WITH a AS (
        -- period start in exact LONG micros (pmod form, mirroring the
        -- engine): float floor(x/step) would mis-bucket >2^53 us
        SELECT DISTINCT user_id,
               epoch_us(ts)
                 - ((epoch_us(ts) % 604800000000 + 604800000000)
                    % 604800000000) AS p
        FROM events
        WHERE user_id IS NOT NULL
    ), f AS (
        SELECT user_id, min(p) AS cohort FROM a GROUP BY user_id
    ), sz AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        FROM f GROUP BY cohort
    ), c AS (
        SELECT cohort, CAST((p - cohort) // 604800000000 AS BIGINT) AS "offset",
               CAST(count(*) AS BIGINT) AS n_users
        FROM a JOIN f USING (user_id) GROUP BY cohort, p - cohort
    )
    SELECT make_timestamp(cohort) AS cohort_start, "offset",
           n_users, cohort_size, n_users / cohort_size AS retention
    FROM c JOIN sz USING (cohort)
    """,
)


def _q_weighted_sample(spark, sf_dir):
    """Quality-weighted downsampling: keep probability = quality_score
    / max score, decided by one IEEE multiplication per side — exact
    cross-engine, no summation or libm dependence."""
    scored = text.quality_features(_read(spark, sf_dir, "documents"))
    return sampling.weighted_sample(
        scored, "quality_score", "doc_id", seed="w1"
    ).select("doc_id", F.col("quality_score").alias("weight"))


_WB = sampling.hash_bucket_sql("doc_id", seed="w1")

_register(
    "doc_weighted_sample",
    _q_weighted_sample,
    f"""
    WITH {_quality_sql_ctes()}, q AS (
        -- non-finite weights filtered BEFORE the max, mirroring the
        -- engine: NaN or +inf would poison wmax and empty the sample
        -- (w < 'infinity' is false for both — DuckDB orders NaN above
        -- every double, like Spark)
        SELECT doc_id, {_QUALITY_SCORE_EXPR} AS w
        FROM ratios
        WHERE {_QUALITY_SCORE_EXPR} < CAST('infinity' AS DOUBLE)
    ), m AS (SELECT max(w) AS wmax FROM q)
    SELECT doc_id, w AS weight
    FROM q CROSS JOIN m
    WHERE CAST({_WB} AS DOUBLE) * wmax < w * 10000.0
    """,
)


def _q_props_extract(spark, sf_dir):
    """Schema-on-read JSON extraction from the events ``props`` sidecar
    (one from_json parse per row, codegen'd) followed by a typed
    aggregate over the extracted field."""
    ev = _read_events(spark, sf_dir)
    ex = semistructured.json_extract_fields(ev, "props", {"k": "bigint"})
    return ex.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("k").cast("long").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


_register(
    "events_props_extract",
    _q_props_extract,
    """
    WITH ex AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           min(k) AS min_k,
           max(k) AS max_k
    FROM ex GROUP BY event_type
    """,
    headline=True,
)


def _q_knn_classify(spark, sf_dir):
    """Leave-one-out kNN majority-vote labeling over the embeddings
    corpus (exact tier — full oracle; the lsh tier has its own
    planted-fixture row, embed_knn_classify_lsh).

    SF bound: this row is defined up to embeddings-corpus sizes of
    MAX_BROADCAST_QUERIES (100k vectors — driver scale factors top out
    at sf0.1 ≈ 2k, 50× under it).  Beyond that the exact tier's
    bounded collect of its query side (here the corpus itself) raises
    BY DESIGN — the exact tier is the oracle-bearing baseline, never
    the scale path; embed_knn_classify_lsh is.  bench.py degrades a
    raising query to an error row, so even a guard refusal cannot
    abort a whole bench run.

    Scale shape: one construct job, that collect, is the only read of
    the table; the action is one mapInArrow stage over spark.range
    slices of the broadcast corpus, ceil(n² / CELLS_PER_TASK) Python
    tasks (one at sf0.01, four at sf0.1), each ranking and voting its
    slice of queries against every vector: no shuffle, window or join."""
    emb = _read(spark, sf_dir, "embeddings")
    return similarity.knn_classify(emb, k=10).select(
        "vec_id", "predicted_label", "votes"
    )


_register(
    "embed_knn_classify",
    _q_knn_classify,
    """
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(c.e, q.e) DESC, c.vec_id
               ) AS rank
        FROM v c, v q WHERE c.vec_id <> q.vec_id
    ), votes AS (
        -- NULL (unlabeled) neighbors cast no vote, mirroring the engine
        SELECT query_id, nl, CAST(count(*) AS BIGINT) AS votes,
               min(rank) AS best
        FROM scored WHERE rank <= 10 AND nl IS NOT NULL GROUP BY 1, 2
    ), win AS (
        SELECT query_id, nl, votes,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY votes DESC, best ASC, nl ASC
               ) AS rn
        FROM votes
    )
    SELECT query_id AS vec_id, nl AS predicted_label, votes
    FROM win WHERE rn = 1
    """,
    headline=True,
)


def _planted_knn_corpus(spark, sf_dir):
    """Self-contained corpus on which lsh-tier kNN provably equals
    exact kNN: the 8 base vectors with vec_id < 8, each with 10 exact
    copies (ids ``100000 + g*10 + j``), and NOTHING else.

    Every vector's 10 nearest neighbors are its 10 identical
    group-mates (pairwise cosine exactly 1.0; natural cross-group
    cosine on this data tops out ~0.52), and identical vectors hash to
    identical hyperplane signs, so every group-mate is in the query's
    own LSH bucket — probe 0 — for ANY planes/seed.  Hence the lsh
    candidates are provably complete at k=10 and an exact-kNN DuckDB
    oracle is sound (same argument as :func:`_planted_ann_corpus`,
    leave-one-out flavor).

    Copy labels make the vote non-degenerate: within group ``g``,
    copies j<7 get label ``100+g`` and j>=7 get ``200+g``, so each
    query sees a 7-vs-3 (or 6/3/1 with the base vector's real 0-9
    label) contested majority rather than a unanimous one.
    """
    base = (
        _read(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding", F.col("label").cast("int").alias("label"))
    )
    copies = (
        base.select(
            "vec_id",
            "embedding",
            F.explode(F.array(*[F.lit(j) for j in range(10)])).alias("__j"),
        )
        .select(
            (F.lit(100000) + F.col("vec_id") * 10 + F.col("__j")).alias("vec_id"),
            "embedding",
            F.when(F.col("__j") < 7, F.lit(100) + F.col("vec_id"))
            .otherwise(F.lit(200) + F.col("vec_id"))
            .cast("int")
            .alias("label"),
        )
    )
    return base.unionByName(copies)


def _q_knn_classify_lsh(spark, sf_dir):
    """kNN labeling via the 100 TB neighbor tier (LSH buckets, one
    shuffle, no all-pairs stage) on the planted-copy corpus where lsh
    top-k provably equals exact top-k — giving the lsh tier the same
    full value oracle as the exact tier."""
    corpus = _planted_knn_corpus(spark, sf_dir)
    return similarity.knn_classify(corpus, k=10, method="lsh", dim=64).select(
        "vec_id", "predicted_label", "votes"
    )


# exact-kNN oracle: sound because lsh candidates are provably complete
# on the planted corpus (see _planted_knn_corpus)
_register(
    "embed_knn_classify_lsh",
    _q_knn_classify_lsh,
    """
    WITH aug AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               CAST(label AS INTEGER) AS label
        FROM embeddings WHERE vec_id < 8
        UNION ALL
        SELECT 100000 + vec_id * 10 + t.j,
               CAST(embedding AS DOUBLE[]),
               CAST(CASE WHEN t.j < 7 THEN 100 + vec_id
                         ELSE 200 + vec_id END AS INTEGER)
        FROM embeddings, range(10) t(j) WHERE vec_id < 8
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_cosine_similarity(c.e, q.e) DESC, c.vec_id
               ) AS rank
        FROM aug c, aug q WHERE c.vec_id <> q.vec_id
    ), votes AS (
        SELECT query_id, nl, CAST(count(*) AS BIGINT) AS votes,
               min(rank) AS best
        FROM scored WHERE rank <= 10 AND nl IS NOT NULL GROUP BY 1, 2
    ), win AS (
        SELECT query_id, nl, votes,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY votes DESC, best ASC, nl ASC
               ) AS rn
        FROM votes
    )
    SELECT query_id AS vec_id, nl AS predicted_label, votes
    FROM win WHERE rn = 1
    """,
)


def _q_mad_outliers(spark, sf_dir):
    """Robust median/MAD outlier gate per event type — the
    heavy-tail-safe sibling of events_zscore_outliers; percentile_disc
    statistics, so the oracle replays them exactly via cume_dist.
    persist=True: the input is read three times (two stat passes + the
    output pass) — caching the masked input turns those into one scan
    + InMemoryTableScan x3 (plan-asserted in tests/test_plans.py); the
    oracle harness's release_all_cached() frees it afterwards."""
    ev = _read_events(spark, sf_dir).select("event_id", "event_type", "value")
    out = stats.mad_outliers(ev, "value", ["event_type"], z=3.5, persist=True)
    return out.select(
        "event_id",
        "event_type",
        "value",
        F.round("robust_z", 6).alias("robust_z_r"),
    )


_register(
    "events_mad_outliers",
    _q_mad_outliers,
    """
    WITH ranked AS (
        -- NaN AND NULL excluded, mirroring the engine: percentile_disc
        -- ignores NULLs, while cume_dist would count them in its
        -- denominator and shift the median
        SELECT event_type, value,
               cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
        FROM events WHERE NOT isnan(value) AND value IS NOT NULL
    ), med AS (
        SELECT event_type, min(CASE WHEN cd >= 0.5 THEN value END) AS m
        FROM ranked GROUP BY 1
    ), dev AS (
        -- null-safe join key, mirroring the engine's eqNullSafe
        -- join-back ("NULL group keys are a group like any other") —
        -- JOIN USING would silently drop a NULL event_type group
        SELECT e.event_id, e.event_type, e.value, med.m,
               abs(e.value - med.m) AS ad
        FROM events e JOIN med
          ON e.event_type IS NOT DISTINCT FROM med.event_type
        WHERE NOT isnan(e.value) AND e.value IS NOT NULL
    ), dranked AS (
        SELECT *, cume_dist() OVER (
                   PARTITION BY event_type ORDER BY ad
               ) AS cd
        FROM dev
    ), mad AS (
        SELECT event_type, min(CASE WHEN cd >= 0.5 THEN ad END) AS mad
        FROM dranked GROUP BY 1
    ), j AS (
        SELECT d.event_id, d.event_type, d.value,
               CASE WHEN mad.mad > 0.0
                    THEN 0.6745 * (d.value - d.m) / mad.mad
                    ELSE 0.0 END AS rz
        FROM dev d JOIN mad
          ON d.event_type IS NOT DISTINCT FROM mad.event_type
    )
    SELECT event_id, event_type, value, round(rz, 6) AS robust_z_r
    FROM j WHERE abs(rz) > 3.5
    """,
)


def _q_shuffle_shards(spark, sf_dir):
    """Deterministic global shuffle + sharding of the corpus for
    training emission — same permutation on every run and retry."""
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return sampling.shuffle_shards(docs, "doc_id", 16, seed="sh1")


_SHARD_EXPR, _SHARD_ORD = sampling.shuffle_shards_sql("doc_id", 16, seed="sh1")

_register(
    "doc_shuffle_shards",
    _q_shuffle_shards,
    f"""
    WITH h AS (
        SELECT doc_id,
               CAST({_SHARD_EXPR} AS INTEGER) AS shard,
               {_SHARD_ORD} AS o
        FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY o, doc_id
           ) AS BIGINT) AS shard_pos
    FROM h
    """,
)


def _paragraph_fixture(spark, sf_dir):
    """Paragraph-bearing corpus synthesized identically in both engines
    (the real documents carry no newlines): paragraph texts are the
    real doc texts, except every doc_id % 4 == 1 contributes its
    4-block leader's text instead — planting exact duplicate
    paragraphs whose two instances land in DIFFERENT synthetic docs
    (groups doc_id % 50 vs (doc_id+1) % 50), so cross-document dedup is
    exercised, not just within-doc.  Paragraph order within a synthetic
    doc is by source doc_id."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    leaders = docs.select(
        F.col("doc_id").alias("__lid"), F.col("text").alias("__ltext")
    )
    base = docs.join(
        leaders, (F.col("doc_id") - F.col("doc_id") % 4) == F.col("__lid")
    ).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 1, F.col("__ltext"))
        .otherwise(F.col("text"))
        .alias("ptext"),
    )
    return (
        base.withColumn("__gid", F.col("doc_id") % 50)
        .groupBy("__gid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("doc_id").alias("k"),
                                F.col("ptext").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                "\n",
            ).alias("text")
        )
        .select(F.col("__gid").alias("doc_id"), "text")
    )


def _c4_fixture(spark, sf_dir):
    """Multi-line corpus for the C4 cleaning row, synthesized
    identically in both engines (real docs carry no newlines — the
    _paragraph_fixture precedent): each source doc contributes ONE
    line — its text plus a planted terminal suffix by ``doc_id % 4``
    ('.', '!', nothing, '?'; the bare variant trips the
    terminal-punctuation rule) — except ``doc_id % 7 == 0`` lines gain
    ' javascript.' (terminal-punct-valid but blocklisted).  Lines
    group into synthetic docs by ``doc_id % 40`` ordered by doc_id,
    and groups ``gid % 5 == 0`` append a 'lorem ipsum filler line.'
    (line-rule-valid but poisoning the whole page via the doc
    blocklist)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("."))
        .when(F.col("doc_id") % 4 == 1, F.lit("!"))
        .when(F.col("doc_id") % 4 == 2, F.lit(""))
        .otherwise(F.lit("?"))
    )
    line = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" javascript."))
    ).otherwise(F.concat(F.col("text"), suffix))
    grouped = (
        docs.select("doc_id", line.alias("__line"))
        .withColumn("__gid", F.col("doc_id") % 40)
        .groupBy("__gid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("doc_id").alias("k"),
                                F.col("__line").alias("t"),
                            )
                        )
                    ),
                    lambda s: s["t"],
                ),
                "\n",
            ).alias("text")
        )
    )
    return grouped.select(
        F.col("__gid").alias("doc_id"),
        F.when(
            F.col("__gid") % 5 == 0,
            F.concat(F.col("text"), F.lit("\nlorem ipsum filler line.")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _q_c4_clean(spark, sf_dir):
    """C4 line-level cleaning (registered r16; Raffel et al. 2020
    §2.2): keep lines ending in terminal punctuation with ≥ 3 words
    and no 'javascript'; first-instance-only within the page
    (``dedup_lines=True``); drop pages with < 5 surviving lines or a
    'lorem ipsum' / '{' anywhere.  The cleaned text hashes under md5 —
    every rule is exact string/integer work, byte-identical
    cross-engine.  Entirely row-local past the fixture's group-by
    (plan-asserted pure map in
    test_c4_clean_lines_is_pure_map_stage)."""
    fixture = _c4_fixture(spark, sf_dir)
    out = text.c4_clean_lines(fixture, dedup_lines=True)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("clean_fp"),
        "n_lines",
        "n_lines_kept",
        "keep",
    )


_register(
    "pipeline_c4_clean",
    _q_c4_clean,
    """
    WITH lineplant AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' javascript.'
                    ELSE text || CASE doc_id % 4
                                      WHEN 0 THEN '.'
                                      WHEN 1 THEN '!'
                                      WHEN 2 THEN ''
                                      ELSE '?' END
               END AS line
        FROM documents WHERE doc_id IS NOT NULL
    ), grouped AS (
        SELECT doc_id % 40 AS gid,
               string_agg(line, chr(10) ORDER BY doc_id) AS text
        FROM lineplant GROUP BY doc_id % 40
    ), fixture AS (
        SELECT gid AS doc_id,
               CASE WHEN gid % 5 = 0
                    THEN text || chr(10) || 'lorem ipsum filler line.'
                    ELSE text END AS text
        FROM grouped
    ), arrs AS (
        SELECT doc_id, text,
               coalesce(list_filter(regexp_split_to_array(text, '\\n'),
                                    x -> trim(x) <> ''), []) AS ls
        FROM fixture
    ), keptl AS (
        SELECT doc_id, text, ls,
               list_transform(list_filter(ls, x ->
                   (ends_with(trim(x), '.') OR ends_with(trim(x), '!')
                    OR ends_with(trim(x), '?') OR ends_with(trim(x), '"'))
                   AND len(list_filter(
                           regexp_split_to_array(trim(x), '\\s+'),
                           w -> w <> '')) >= 3
                   AND NOT contains(lower(trim(x)), 'javascript')
               ), x -> trim(x)) AS k0
        FROM arrs
    ), dedup AS (
        SELECT doc_id, text, ls,
               [k0[i] for i in range(1, len(k0) + 1)
                      if list_position(k0, k0[i]) = i] AS k
        FROM keptl
    )
    SELECT doc_id,
           -- array_to_string([]) is NULL in DuckDB but array_join([])
           -- is '' in Spark — coalesce to the Spark convention
           md5(coalesce(array_to_string(k, chr(10)), '')) AS clean_fp,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(k) AS BIGINT) AS n_lines_kept,
           (len(k) >= 5
            AND NOT contains(lower(text), 'lorem ipsum')
            AND NOT contains(lower(text), '{')) AS keep
    FROM dedup
    """,
    headline=True,
)


def _q_sentences(spark, sf_dir):
    """Sentence segmentation (registered r16): terminal-punctuation
    split over the C4 fixture — whose planted '.', '!', '?' and
    bare-suffix lines give real sentence structure (a bare line flows
    into the NEXT line's sentence, exercising the cross-line rule).
    Exploded form: one row per sentence with its 0-based index and
    exact word count.  Row-local split/replace + posexplode — zero
    exchanges past the fixture group-by."""
    fixture = _c4_fixture(spark, sf_dir)
    return text.split_sentences(fixture, explode=True)


_register(
    "doc_sentences",
    _q_sentences,
    """
    WITH lineplant AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN text || ' javascript.'
                    ELSE text || CASE doc_id % 4
                                      WHEN 0 THEN '.'
                                      WHEN 1 THEN '!'
                                      WHEN 2 THEN ''
                                      ELSE '?' END
               END AS line
        FROM documents WHERE doc_id IS NOT NULL
    ), grouped AS (
        SELECT doc_id % 40 AS gid,
               string_agg(line, chr(10) ORDER BY doc_id) AS text
        FROM lineplant GROUP BY doc_id % 40
    ), fixture AS (
        SELECT gid AS doc_id,
               CASE WHEN gid % 5 = 0
                    THEN text || chr(10) || 'lorem ipsum filler line.'
                    ELSE text END AS text
        FROM grouped
    ), rawsent AS (
        SELECT doc_id,
               regexp_split_to_array(
                   regexp_replace(text, '([.!?])(\\s+)', '\\1' || chr(1), 'g'),
                   chr(1)) AS ss
        FROM fixture
    ), keptsent AS (
        SELECT doc_id,
               list_transform(
                   list_filter(ss, s -> trim(s) <> ''), s -> trim(s)) AS ss
        FROM rawsent
    ), ex AS (
        SELECT doc_id,
               unnest(ss) AS sentence,
               generate_subscripts(ss, 1) - 1 AS sent_index
        FROM keptsent
    )
    SELECT doc_id, CAST(sent_index AS BIGINT) AS sent_index, sentence,
           CAST(len(list_filter(regexp_split_to_array(sentence, '\\s+'),
                                w -> w <> '')) AS BIGINT) AS n_words
    FROM ex
    """,
)


def _q_dedup_paragraphs(spark, sf_dir):
    """Paragraph-grain exact dedup (C4/RefinedWeb step): drop repeated
    paragraphs corpus-wide keeping the (doc, position)-first instance,
    reassemble documents — two linear exchanges, zero pair
    materialization."""
    fixture = _paragraph_fixture(spark, sf_dir)
    return text.dedup_paragraphs(fixture).select(
        "doc_id", "text", "n_paras", "n_kept"
    )


_register(
    "doc_dedup_paragraphs",
    _q_dedup_paragraphs,
    """
    WITH base AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 4 = 1 THEN l.text ELSE d.text END AS ptext
        FROM documents d
        JOIN documents l ON l.doc_id = d.doc_id - (d.doc_id % 4)
    ), sdocs AS (
        SELECT (doc_id % 50) AS sdoc,
               string_agg(ptext, chr(10) ORDER BY doc_id) AS text
        FROM base GROUP BY (doc_id % 50)
    ), paras AS (
        SELECT sdoc,
               unnest(string_split(text, chr(10))) AS para,
               generate_subscripts(string_split(text, chr(10)), 1) AS pos
        FROM sdocs
    ), fp AS (
        -- same 60-bit truncated-md5 fingerprint as the engine
        SELECT sdoc, pos, para,
               ('0x' || substr(md5(para), 1, 15))::BIGINT AS f
        FROM paras WHERE para <> ''
    ), kept AS (
        SELECT sdoc, pos, para,
               row_number() OVER (PARTITION BY f ORDER BY sdoc, pos) AS rn
        FROM fp
    ), agg AS (
        SELECT sdoc, string_agg(para, chr(10) ORDER BY pos) AS text,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM kept WHERE rn = 1 GROUP BY sdoc
    ), np AS (
        SELECT sdoc,
               CAST(len(list_filter(string_split(text, chr(10)),
                                    x -> x <> '')) AS BIGINT) AS n_paras
        FROM sdocs
    )
    SELECT np.sdoc AS doc_id,
           coalesce(agg.text, '') AS text,
           np.n_paras,
           CAST(coalesce(agg.n_kept, 0) AS BIGINT) AS n_kept
    FROM np LEFT JOIN agg ON np.sdoc = agg.sdoc
    """,
    headline=True,
)


def _q_dedup_paragraphs_lineage(spark, sf_dir):
    """Provenance for the paragraph-dedup pipeline operator: the
    ManyToOne mapping from every non-empty input paragraph instance to
    its kept first occurrence (identity row = survivor) — the DTL
    trace subsystem's Where/Pick rid-mapping shape extended to the
    LLM-pipeline stack.  One fp-keyed equi-join against the
    one-row-per-fingerprint first table: linear, AQE-skew-splittable
    on hot boilerplate fingerprints."""
    fixture = _paragraph_fixture(spark, sf_dir)
    _, mapping = text.dedup_paragraphs(fixture, with_lineage=True)
    return mapping.select("src_id", "src_pos", "kept_id", "kept_pos", "fp")


_register(
    "doc_dedup_paragraphs_lineage",
    _q_dedup_paragraphs_lineage,
    """
    WITH base AS (
        SELECT d.doc_id,
               CASE WHEN d.doc_id % 4 = 1 THEN l.text ELSE d.text END AS ptext
        FROM documents d
        JOIN documents l ON l.doc_id = d.doc_id - (d.doc_id % 4)
    ), sdocs AS (
        SELECT (doc_id % 50) AS sdoc,
               string_agg(ptext, chr(10) ORDER BY doc_id) AS text
        FROM base GROUP BY (doc_id % 50)
    ), paras AS (
        SELECT sdoc,
               unnest(string_split(text, chr(10))) AS para,
               generate_subscripts(string_split(text, chr(10)), 1) AS pos
        FROM sdocs
    ), fp AS (
        -- same 60-bit truncated-md5 fingerprint as the engine;
        -- the engine filters empty paragraphs BEFORE posexplode, so
        -- its 0-based positions index the NON-EMPTY sequence — rank
        -- the survivors by original offset to replay that exactly
        SELECT sdoc,
               row_number() OVER (PARTITION BY sdoc ORDER BY pos) - 1 AS pos,
               para,
               ('0x' || substr(md5(para), 1, 15))::BIGINT AS f
        FROM paras WHERE para <> ''
    ), first_inst AS (
        SELECT f, sdoc AS kept_id, pos AS kept_pos FROM (
            SELECT f, sdoc, pos,
                   row_number() OVER (PARTITION BY f ORDER BY sdoc, pos) AS rn
            FROM fp
        ) WHERE rn = 1
    )
    SELECT fp.sdoc AS src_id,
           CAST(fp.pos AS BIGINT) AS src_pos,
           first_inst.kept_id,
           CAST(first_inst.kept_pos AS BIGINT) AS kept_pos,
           fp.f AS fp
    FROM fp JOIN first_inst ON fp.f = first_inst.f
    """,
)


# The documents table carries no URL column, so the canonicalization
# fixture synthesizes one deterministically from (source, doc_id) in
# BOTH engines — six variants covering the whole rule set: upper-case
# scheme/host + www + default https port + trailing slash (0), default
# http port + mixed tracking/real params (1), ccTLD registrable domain
# + fragment (2), real port + duplicate slashes + emptied query (3),
# empty path (4), and unparseable junk (5).
# {T} is the engine's string cast type — 'VARCHAR' when the text
# renders for DuckDB, 'STRING' for Spark.  An explicit .format slot,
# not a blind .replace: surgery by substring would silently diverge the
# two engines' fixtures the day VARCHAR appears in another context.
_URL_FIXTURE_SQL = """
        CASE doc_id % 6
            WHEN 0 THEN 'https://WWW.' || source || '.Example.COM:443/Path/'
                        || CAST(doc_id AS {T}) || '/'
            WHEN 1 THEN 'http://' || source || '.example.com:80/a/b?utm_source=feed&q='
                        || CAST(doc_id AS {T})
            WHEN 2 THEN 'https://blog.' || source || '.co.uk/post/'
                        || CAST(doc_id AS {T}) || '?id='
                        || CAST(doc_id AS {T}) || '&utm_campaign=x#frag'
            WHEN 3 THEN 'http://cdn.' || source || '.example.com:8080/x//y/?gclid='
                        || CAST(doc_id AS {T})
            WHEN 4 THEN 'https://' || source || '.example.com'
            ELSE 'not a url ' || CAST(doc_id AS {T})
        END
"""


def _url_fixture(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    return docs.withColumn(
        "url",
        F.expr(_URL_FIXTURE_SQL.format(T="STRING")),
    )


def _q_url_canonicalize(spark, sf_dir):
    """URL/domain canonicalization — the missing front half of
    doc_domain_quota: lowercase scheme+host, strip www/default
    ports/trailing slashes/tracking params/fragments, and derive the
    registrable domain that domain capping keys on.  Pure map stage
    over try_parse_url + string built-ins (zero shuffle,
    plan-asserted)."""
    fixture = _url_fixture(spark, sf_dir)
    return urls.canonicalize_urls(fixture, "url").select(
        "doc_id", "url", "canonical_url", "host", "registrable_domain"
    )


# captured for reuse: pipeline_domain_cap replays this whole SELECT as
# a CTE and stacks the quota rank on top, proving canonicalization's
# registrable_domain actually composes with domain_quota's strata key
_URL_CANON_ORACLE = f"""
    WITH fixture AS (
        SELECT doc_id, {_URL_FIXTURE_SQL.format(T="VARCHAR")} AS url
        FROM documents
    ), parts AS (
        SELECT doc_id, url,
               lower(nullif(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS proto,
               nullif(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', ''), '') AS authority -- userinfo stripped: try_parse_url HOST excludes it
        FROM fixture
    ), comps AS (
        SELECT doc_id, url, proto,
               regexp_replace(lower(regexp_replace(authority, ':[0-9]+$', '')), '^www\\.', '') AS host,
               nullif(regexp_extract(authority, ':([0-9]+)$', 1), '') AS port,
               regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
               nullif(regexp_extract(url, '\\?([^#]*)', 1), '') AS query
        FROM parts
    ), norm AS (
        SELECT doc_id, url, proto, host,
               CASE WHEN port IS NOT NULL
                         AND NOT ((proto = 'http' AND port = '80')
                                  OR (proto = 'https' AND port = '443'))
                    THEN ':' || port ELSE '' END AS port_part,
               CASE WHEN regexp_replace(regexp_replace(rawpath, '/{{2,}}', '/'), '/$', '') = ''
                    THEN '/' ELSE regexp_replace(regexp_replace(rawpath, '/{{2,}}', '/'), '/$', '') END AS path,
               coalesce(array_to_string(list_filter(string_split(query, '&'),
                        x -> NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid)=')), '&'), '') AS qs,
               (proto IN ('http', 'https') AND host IS NOT NULL AND host <> '') AS valid
        FROM comps
    )
    SELECT doc_id, url,
           CASE WHEN valid THEN proto || '://' || host || port_part || path
                                || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
           END AS canonical_url,
           CASE WHEN valid THEN host END AS host,
           CASE WHEN valid THEN
               CASE WHEN len(string_split(host, '.')) <= 1 THEN host
                    WHEN len(string_split(host, '.')) >= 3
                         AND string_split(host, '.')[-2] IN ('co','com','net','org','gov','ac','edu')
                         AND len(string_split(host, '.')[-1]) = 2
                    THEN string_split(host, '.')[-3] || '.' || string_split(host, '.')[-2]
                         || '.' || string_split(host, '.')[-1]
                    ELSE string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
               END
           END AS registrable_domain
    FROM norm
    """

_register("doc_url_canonicalize", _q_url_canonicalize, _URL_CANON_ORACLE)


def _q_url_dedup(spark, sf_dir):
    """URL-grain dedup (registered r16) — the FIRST step of every
    crawl pipeline: canonicalize the fetched URL, keep ONE document
    per canonical URL (deterministic min doc_id — re-crawls and
    tracking-param/fragment/port/case variants of one page collapse),
    drop unparseable URLs to the side.  Composes canonicalize_urls
    (whose full rule replay is doc_url_canonicalize's oracle) with
    exact_dedup_canonical keyed on the canonical string.

    Fixture: three surface variants of ONE canonical page per
    (source, doc_id % 100) — upper-case host + www + :443 + trailing
    slash, utm-tracking query, duplicate-slash path + fragment — plus
    junk rows every 11th doc; the canonical form is therefore known
    analytically and the oracle states the kept set independently
    (planted-fixture soundness, the _uniquified_docs precedent).

    Scale shape: canonicalization is a pure map; the dedup is ONE
    canonical-url-keyed hash agg (map-side partial min) — linear, and
    a hot URL (a hub page crawled hourly) is partial-agg combined
    map-side, never funneled through a window."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .filter(F.col("doc_id").isNotNull())
    )
    uid = (F.col("doc_id") % 100).cast("string")
    url = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit("junk "), F.col("doc_id").cast("string")),
    ).otherwise(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("https://WWW."), F.col("source"),
                F.lit(".Example.COM:443/p/"), uid, F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com/p/"), uid, F.lit("?utm_source=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com//p/"), uid, F.lit("#frag"),
            )
        )
    )
    canon = urls.canonicalize_urls(docs.withColumn("url", url), "url")
    kept = dedup.exact_dedup_canonical(
        canon.filter(F.col("canonical_url").isNotNull()).select(
            "doc_id", "canonical_url"
        ),
        "doc_id",
        ["canonical_url"],
    )
    return kept.select("canonical_url", "doc_id")


_register(
    "pipeline_url_dedup",
    _q_url_dedup,
    """
    WITH f AS (
        SELECT doc_id, source FROM documents
        WHERE doc_id IS NOT NULL AND doc_id % 11 <> 0
              AND source IS NOT NULL
    )
    SELECT 'https://' || source || '.example.com/p/'
               || CAST(doc_id % 100 AS VARCHAR) AS canonical_url,
           CAST(min(doc_id) AS BIGINT) AS doc_id
    FROM f
    GROUP BY source, doc_id % 100
    """,
    headline=True,
)


def _q_recrawl_refresh(spark, sf_dir):
    """Recrawl keep-newest URL refresh (registered r16): the r15-staged
    SCD-style sibling of pipeline_url_dedup — where that row keeps the
    FIRST crawl (min doc_id) per canonical URL, a refresh pipeline
    keeps the NEWEST fetch and wants the crawl history beside it.
    Same planted three-variants-per-page URL fixture, plus the staged
    note's requirement: a planted fetch_time whose tie-breaks are
    exact — ``fetch_time = (doc_id·7) % 13``, coarse on purpose so
    same-time ties are COMMON and the deterministic max-doc_id
    tie-break is genuinely load-bearing in the hash.

    Scale shape: canonicalization is a pure map; the election is ONE
    canonical-url hash agg whose every measure (max-struct, count,
    min, max) is partial-aggregable — a hub page recrawled hourly
    combines map-side; no window, no join
    (``test_recrawl_refresh_is_map_side_max_agg``)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source")
        .filter(F.col("doc_id").isNotNull())
    )
    uid = (F.col("doc_id") % 100).cast("string")
    url = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit("junk "), F.col("doc_id").cast("string")),
    ).otherwise(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("https://WWW."), F.col("source"),
                F.lit(".Example.COM:443/p/"), uid, F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com/p/"), uid, F.lit("?utm_source=x"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www."), F.col("source"),
                F.lit(".example.com//p/"), uid, F.lit("#frag"),
            )
        )
    )
    fixture = docs.withColumn("url", url).withColumn(
        "fetch_time", (F.col("doc_id") * 7 % 13).cast("long")
    )
    canon = urls.canonicalize_urls(fixture, "url")
    return dedup.keep_newest_canonical(
        canon.filter(F.col("canonical_url").isNotNull()).select(
            "doc_id", "canonical_url", "fetch_time"
        ),
        "doc_id",
        ["canonical_url"],
        "fetch_time",
    )


_register(
    "pipeline_recrawl_refresh",
    _q_recrawl_refresh,
    """
    WITH f AS (
        SELECT doc_id, source, (doc_id * 7) % 13 AS fetch_time
        FROM documents
        WHERE doc_id IS NOT NULL AND doc_id % 11 <> 0
              AND source IS NOT NULL
    ), c AS (
        SELECT 'https://' || source || '.example.com/p/'
                   || CAST(doc_id % 100 AS VARCHAR) AS canonical_url,
               doc_id, fetch_time
        FROM f
    )
    SELECT canonical_url, CAST(doc_id AS BIGINT) AS doc_id,
           CAST(fetch_time AS BIGINT) AS fetch_time,
           CAST(n_crawls AS BIGINT) AS n_crawls,
           CAST(first_fetch AS BIGINT) AS first_fetch,
           CAST(last_fetch AS BIGINT) AS last_fetch
    FROM (
        SELECT canonical_url, doc_id, fetch_time,
               row_number() OVER (
                   PARTITION BY canonical_url
                   ORDER BY fetch_time DESC, doc_id DESC) AS r,
               count(*) OVER (PARTITION BY canonical_url) AS n_crawls,
               min(fetch_time) OVER (PARTITION BY canonical_url)
                   AS first_fetch,
               max(fetch_time) OVER (PARTITION BY canonical_url)
                   AS last_fetch
        FROM c
    ) WHERE r = 1
    """,
)


def _q_pipeline_domain_cap(spark, sf_dir):
    """Canonicalize → domain-cap composition: the two halves the r9
    verdict asked to join — canonicalize_urls derives the registrable
    domain, domain_quota caps each domain's contribution at 10 docs by
    hashed-id order.  One shuffle beyond the canonicalization map
    stage (the quota window, WindowGroupLimit-pruned map-side)."""
    fixture = _url_fixture(spark, sf_dir)
    canon = urls.canonicalize_urls(fixture, "url")
    return sampling.domain_quota(
        canon, "registrable_domain", "doc_id", quota=10, seed="dc1"
    ).select("doc_id", "registrable_domain")


_register(
    "pipeline_domain_cap",
    _q_pipeline_domain_cap,
    f"""
    WITH canon AS ({_URL_CANON_ORACLE})
    SELECT doc_id, registrable_domain FROM (
        SELECT doc_id, registrable_domain,
               row_number() OVER (
                   PARTITION BY registrable_domain
                   ORDER BY md5('dc1' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS r
        FROM canon WHERE doc_id IS NOT NULL
    ) WHERE r <= 10
    """,
    headline=True,
)


# Host shapes the approximation tier gets WRONG (or can only guess):
# multi-label PSL entries, a private-section suffix, wildcard and
# exception rules, an unknown TLD, and a host that IS a suffix.  The
# junk arm keeps the NULL path exercised.
_PSL_FIXTURE_SQL = """
        CASE doc_id % 8
            WHEN 0 THEN 'https://www.' || source || '.example.co.uk/a'
            WHEN 1 THEN 'https://shop.' || source || '.com.au/b'
            WHEN 2 THEN 'https://' || source || '.github.io/p'
            WHEN 3 THEN 'https://github.io/'
            WHEN 4 THEN 'http://x.' || source || '.ck/q'
            WHEN 5 THEN 'http://a.www.ck/r'
            WHEN 6 THEN 'https://deep.' || source || '.nosuchtld/s'
            ELSE 'junk ' || CAST(doc_id AS {T})
        END
"""

_PSL_RULES = urls.load_psl_snapshot()
_PSL_MAX_K = max(k for _, _, k in _PSL_RULES)
_PSL_RULES_VALUES = ",\n        ".join(
    f"('{m}', '{kind}', {k})" for m, kind, k in _PSL_RULES
)


def _approx_reg_sql(h: str) -> str:
    """The approximation tier's registrable-domain rule as DuckDB SQL
    over host expression ``h`` (mirrors urls._registrable_domain)."""
    return f"""
               CASE WHEN len(string_split({h}, '.')) <= 1 THEN {h}
                    WHEN len(string_split({h}, '.')) >= 3
                         AND string_split({h}, '.')[-2] IN ('co','com','net','org','gov','ac','edu')
                         AND len(string_split({h}, '.')[-1]) = 2
                    THEN string_split({h}, '.')[-3] || '.' || string_split({h}, '.')[-2]
                         || '.' || string_split({h}, '.')[-1]
                    ELSE string_split({h}, '.')[-2] || '.' || string_split({h}, '.')[-1]
               END
    """


def _q_url_psl_domains(spark, sf_dir):
    """PSL-exact registrable domains next to the approximation tier:
    full Public Suffix List algorithm (longest prevailing rule,
    wildcard, exception, implicit '*' default) over the checked-in
    snapshot, resolved at distinct-host grain via a broadcast rules
    join — the exactness tier urls._registrable_domain documents."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    fixture = docs.withColumn("url", F.expr(_PSL_FIXTURE_SQL.format(T="STRING")))
    canon = urls.canonicalize_urls(fixture, "url")
    return urls.registrable_domains_psl(canon, "host").select(
        "doc_id", "host", "registrable_domain", "psl_domain"
    )


# captured for reuse: pipeline_domain_cap_psl replays this SELECT as a
# CTE and stacks the quota rank on the PSL-exact domain
_PSL_DOMAINS_ORACLE = f"""
    WITH fixture AS (
        SELECT doc_id, {_PSL_FIXTURE_SQL.format(T="VARCHAR")} AS url
        FROM documents
    ), parts AS (
        SELECT doc_id,
               lower(nullif(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS proto,
               nullif(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', ''), '') AS authority -- userinfo stripped: try_parse_url HOST excludes it
        FROM fixture
    ), canon AS (
        SELECT doc_id,
               CASE WHEN proto IN ('http', 'https')
                         AND regexp_replace(lower(regexp_replace(authority, ':[0-9]+$', '')), '^www\\.', '') <> ''
                    THEN regexp_replace(lower(regexp_replace(authority, ':[0-9]+$', '')), '^www\\.', '')
               END AS host
        FROM parts
    ), rules(match_key, kind, k) AS (
        VALUES {_PSL_RULES_VALUES}
    ), hl AS (
        SELECT host, string_split(host, '.') AS l,
               len(string_split(host, '.')) AS n
        FROM (SELECT DISTINCT host FROM canon WHERE host IS NOT NULL)
    ), cand AS (
        SELECT hl.host, hl.n,
               array_to_string(list_slice(hl.l, hl.n - t.k + 1, hl.n), '.') AS c
        FROM hl CROSS JOIN range(1, {_PSL_MAX_K + 1}) t(k)
        WHERE t.k <= hl.n
    ), m AS (
        -- wildcard rules assert a suffix one label longer than their
        -- match key: only applicable when the host has that label
        SELECT cand.host,
               max(CASE WHEN r.kind = 'exception' THEN r.k - 1 END) AS exc,
               max(CASE WHEN r.kind = 'plain' THEN r.k
                        WHEN r.kind = 'wildcard' THEN r.k + 1 END) AS reg
        FROM cand JOIN rules r ON cand.c = r.match_key
             AND (r.kind <> 'wildcard' OR cand.n > r.k)
        GROUP BY cand.host
    ), res AS (
        SELECT hl.host,
               CASE WHEN hl.n > coalesce(m.exc, m.reg, 1)
                    THEN array_to_string(
                        list_slice(hl.l, hl.n - coalesce(m.exc, m.reg, 1), hl.n), '.')
               END AS psl_domain
        FROM hl LEFT JOIN m ON hl.host = m.host
    )
    SELECT canon.doc_id, canon.host,
           CASE WHEN canon.host IS NOT NULL THEN {_approx_reg_sql("canon.host")} END AS registrable_domain,
           res.psl_domain
    FROM canon LEFT JOIN res ON canon.host = res.host
    """

_register("doc_url_psl_domains", _q_url_psl_domains, _PSL_DOMAINS_ORACLE)


def _q_pipeline_domain_cap_psl(spark, sf_dir):
    """Three-operator composition: canonicalize → PSL-exact registrable
    domains → per-domain quota cap.  The capping key is the PSL tier's
    psl_domain — the exactness upgrade of pipeline_domain_cap (which
    caps on the approximation tier), proving the whole
    canonicalize→resolve→cap chain joins end to end."""
    docs = _read(spark, sf_dir, "documents").select("doc_id", "source")
    fixture = docs.withColumn("url", F.expr(_PSL_FIXTURE_SQL.format(T="STRING")))
    canon = urls.canonicalize_urls(fixture, "url")
    resolved = urls.registrable_domains_psl(canon, "host")
    return sampling.domain_quota(
        resolved, "psl_domain", "doc_id", quota=10, seed="dcp1"
    ).select("doc_id", "psl_domain")


_register(
    "pipeline_domain_cap_psl",
    _q_pipeline_domain_cap_psl,
    f"""
    WITH resolved AS ({_PSL_DOMAINS_ORACLE})
    SELECT doc_id, psl_domain FROM (
        SELECT doc_id, psl_domain,
               row_number() OVER (
                   PARTITION BY psl_domain
                   ORDER BY md5('dcp1' || CAST(doc_id AS VARCHAR)), doc_id
               ) AS r
        FROM resolved WHERE doc_id IS NOT NULL
    ) WHERE r <= 10
    """,
)


def _q_status_cube(spark, sf_dir):
    """GROUP BY CUBE over order status × priority: every subtotal level
    from one Expand + one shared shuffle (vs 2^d scans hand-written).
    o_totalprice has two decimals, so its double sums are exact
    integers in cents — order-insensitive, full value oracle."""
    orders = _read(spark, sf_dir, "orders")
    out = rollup.dimensional_cube(
        orders, ["o_orderstatus", "o_orderpriority"], ["o_totalprice"]
    )
    return out.select(
        "o_orderstatus",
        "o_orderpriority",
        F.col("gid").cast("long").alias("gid"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round("sum_o_totalprice", 2).alias("sum_total"),
        F.round("avg_o_totalprice", 6).alias("avg_total"),
    )


_register(
    "orders_status_cube",
    _q_status_cube,
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_total,
           round(sum(o_totalprice) / count(o_totalprice), 6) AS avg_total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    headline=True,
)

def _q_index_maintenance(spark, sf_dir):
    """Incremental-crawl index maintenance (registered r17): the
    composition a 100 TB pipeline runs DAILY, end to end — day 1's
    crawl probes the stored LSH index (``crawl_delta_pairs``), its
    near-dups are dropped, the SURVIVORS' buckets are appended with
    ``merge_crawl_into_index`` (crawl-sized work, the corpus index
    passes through untouched), and day 2's crawl probes the MERGED
    index.  The day-2 pairs against day-1 survivors exist ONLY if the
    merge preserved their buckets, so the append is load-bearing in
    the hash; merge == from-scratch rebuild is additionally asserted
    row-for-row by ``test_merge_crawl_into_index_equals_rebuild``.

    Fixture soundness (planted, structural — no empirical-recall
    appeal for the survivor legs): day-1 crawl = exact copies of the
    ``% 5 == 0`` corpus fifth (jaccard 1, identical signature ⇒
    guaranteed band collision ⇒ ALL dropped) ∪ genuinely-new docs
    (``% 5 == 1`` texts with every token prefixed by the new doc id —
    disjoint shingles, the ``_uniquified_docs`` precedent ⇒ ALL
    survive, and pairwise-disjoint so survivors never pair with each
    other).  Day-2 crawl = exact copies of the ``% 7 == 3`` corpus
    slice (its natural-near-dup legs inherit pipeline_crawl_delta's
    re-keying recall argument) ∪ exact copies of a survivor subset
    (identical signature against the merged index ⇒ recall 1).

    Scale shape: both probes are asymmetric stored-index probes
    (``test_crawl_delta_corpus_side_never_rebuckets``); the merge
    itself shuffles only the survivors
    (``test_merge_index_touches_only_crawl``)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    index1 = dedup.minhash_band_buckets(docs, n=3, num_hashes=32, bands=16)
    copies1 = docs.filter(did % 5 == 0).select(
        (did + 300000).alias("doc_id"), "text"
    )
    news1 = docs.filter((did % 5 == 1) & (F.trim("text") != "")).select(
        (did + 400000).alias("doc_id"),
        F.array_join(
            F.transform(
                text.tokens(F.lower(F.col("text"))),
                lambda t: F.concat(
                    F.lit("c"),
                    (did + 400000).cast("string"),
                    F.lit("_"),
                    t,
                ),
            ),
            " ",
        ).alias("text"),
    )
    crawl1 = copies1.unionByName(news1)
    # index1 feeds the day-1 probe AND the merge passthrough;
    # survivors feed three consumers (merge, verify corpus, day-2
    # recrawl).  At 100 TB both are the parquet artifacts the daily
    # job reads/writes; in-session, a lazy localCheckpoint stands in
    # for index1 (r20: was persist(), which computes once but leaves
    # the full bucket-build DAG embedded at every reference — plan
    # analysis, not execution, dominated this query), and survivors
    # additionally needs its LINEAGE truncated (lazy localCheckpoint)
    # — embedding the day-1 probe DAG three times into day-2's plan
    # made Catalyst planning the dominant cost (measured 18s -> 5s
    # warm at sf0.001).  r21: routed through _lineage_truncate so a
    # cluster run with $SPARK_GRAFT_CHECKPOINT_DIR gets the reliable-
    # checkpoint tier (default behaviour unchanged).
    _trunc = _lineage_truncate(spark)
    index1 = _trunc(index1)
    pairs1, crawl1_buckets = dedup.crawl_delta_pairs(
        docs,
        crawl1,
        corpus_buckets=index1,
        threshold=0.3,
        return_crawl_buckets=True,
    )
    dropped = pairs1.select(F.col("crawl_id").alias("doc_id")).dropDuplicates()
    survivors = _trunc(crawl1.join(dropped, on="doc_id", how="left_anti"))
    # r21 (guide §1.2): the merge appends the SURVIVORS' buckets from
    # the probe's already-banded crawl (a semi-join restriction of
    # crawl1_buckets) instead of re-shingling the survivor text — one
    # fewer crawl-sized signature pass per day, bucket-for-bucket
    # identical because banding is strictly per-document (operator pin
    # test + merge==rebuild test unchanged).
    index2 = dedup.merge_crawl_into_index(
        index1,
        survivors,
        n=3,
        num_hashes=32,
        bands=16,
        crawl_buckets=crawl1_buckets.join(
            survivors.select("doc_id"), on="doc_id", how="left_semi"
        ),
    )
    corpus2 = docs.unionByName(survivors)
    copies2 = docs.filter(did % 7 == 3).select(
        (did + 600000).alias("doc_id"), "text"
    )
    recrawl = survivors.filter(did % 3 == 0).select(
        (did + 300000).alias("doc_id"), "text"
    )
    crawl2 = copies2.unionByName(recrawl)
    out = dedup.crawl_delta_pairs(
        corpus2, crawl2, corpus_buckets=index2, threshold=0.3
    )
    return out


# Oracle: day-2 exact-Jaccard ≥ 0.3 against corpus ∪ survivors.  The
# corpus-copy legs replay the pipeline_crawl_delta shingle SQL; the
# survivor legs are STRUCTURAL — survivors == the id-prefixed news
# exactly (copies all carry a jaccard-1 source; prefixed docs share no
# shingle with the raw corpus), each survivor's only ≥0.3 partner is
# its own day-2 exact copy (prefix includes the doc id ⇒ survivors are
# pairwise disjoint), at jaccard exactly 1.0.
_register(
    "pipeline_index_maintenance",
    _q_index_maintenance,
    """
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL
    ), toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS t
        FROM docs
    ), sh AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       for i in range(1, len(t) - 1)]
                 ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ), crawl2 AS (
        SELECT doc_id + 600000 AS crawl_id, s FROM sh WHERE doc_id % 7 = 3
    ), cex AS (
        SELECT doc_id, unnest(s) AS f FROM sh
    ), eex AS (
        SELECT crawl_id, unnest(s) AS f FROM crawl2
    ), csz AS (
        SELECT doc_id, CAST(len(s) AS BIGINT) AS sz FROM sh
    ), esz AS (
        SELECT crawl_id, CAST(len(s) AS BIGINT) AS sz FROM crawl2
    ), common AS (
        SELECT e.crawl_id, c.doc_id AS corpus_id, count(*) AS common
        FROM eex e JOIN cex c USING (f)
        GROUP BY 1, 2
    )
    SELECT crawl_id, corpus_id,
           common / (ea.sz + ca.sz - common) AS jaccard
    FROM common
    JOIN esz ea USING (crawl_id)
    JOIN csz ca ON common.corpus_id = ca.doc_id
    WHERE common / (ea.sz + ca.sz - common) >= 0.3
    UNION ALL
    SELECT doc_id + 700000 AS crawl_id, doc_id + 400000 AS corpus_id,
           1.0 AS jaccard
    FROM docs
    WHERE doc_id % 5 = 1 AND trim(text) <> ''
      AND (doc_id + 400000) % 3 = 0
    """,
    headline=True,
)



def _q_image_dedup(spark, sf_dir):
    """Image-grain near-duplicate dedup (registered r17; staged r16):
    perceptual hashes from the multimodal decode path fed through the
    shared pigeonhole Hamming core — the image sibling of
    ``dedup_simhash``, promoting the Arrow-batched decode plumbing
    into a first-class dedup composition.  The deterministic fake
    decoder (FNV-1a over payload bytes — no codec libs in this
    sandbox) makes the whole composition value-oracle-able: DuckDB
    replays the FNV fold in HUGEINT arithmetic and brute-forces the
    exact ``bit_count(xor())`` pair set the pigeonhole join must
    reproduce losslessly.

    Fixture: ``min(2048, |documents|)`` assets in groups of 4 sharing
    one payload (re-crawled copies of one image), so exact-payload
    copies land at Hamming distance 0 — C(4,2) pairs per group, 750
    at the 500-doc scales and 3,072 at sf0.1's 2048-asset cap.

    Scale shape: ONE ``mapInPandas`` decode pass (payload-only
    projection), then bucket equi-joins on (block, chunk) — never
    all-pairs (``test_image_near_dup_pairs_no_all_pairs``); the oracle's
    brute-force quadratic join is the luxury ONLY the oracle gets."""
    n_docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .count()
    )
    n = min(2048, n_docs)
    groups = max(1, n // 4)
    assets = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.sha2((F.col("id") % groups).cast("string"), 256)
        .cast("binary")
        .alias("payload"),
    )
    return multimodal.image_near_dup_pairs(assets, max_hamming=6, fake=True)


_register(
    "pipeline_image_dedup",
    _q_image_dedup,
    """
    WITH params AS (
        SELECT least(2048, count(*)) AS n
        FROM documents WHERE doc_id IS NOT NULL
    ), assets AS (
        -- range() only takes constants: generate the cap and trim
        SELECT range::BIGINT AS asset_id,
               sha256(CAST(range % greatest(1, (SELECT n FROM params) // 4)
                           AS VARCHAR)) AS hex
        FROM range(2048)
        WHERE range < (SELECT n FROM params)
    ), fnv AS (
        SELECT asset_id,
               list_reduce(
                   list_prepend(
                       CAST(14695981039346656037 AS HUGEINT),
                       [CAST(ord(substr(hex, i, 1)) AS HUGEINT)
                        FOR i IN range(1, len(hex) + 1)]),
                   (h, b) -> (xor(h, b) * 1099511628211)
                             % 18446744073709551616
               ) AS h
        FROM assets
    ), ph AS (
        SELECT asset_id, CAST(h // 2 AS BIGINT) AS phash FROM fnv
    )
    SELECT a.asset_id AS id_a, b.asset_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM ph a JOIN ph b ON a.asset_id < b.asset_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 6
    """,
)


def _q_domain_quality(spark, sf_dir):
    """Domain-level quality gating (registered r17; staged r16): drop
    ENTIRE sources whose per-doc keep-rate falls below an exact 3/4 —
    the RefinedWeb/DCLM "blacklist a domain by its statistics" verb,
    composed end-to-end: char-concentration junk flags feed
    ``sampling.keep_rate_filter`` grouped on the ingest source.

    Fixture plants ``repeat('z')`` blobs so the gate is load-bearing:
    sources src1/src7 get blobs on every ``doc_id % 3 != 0`` doc
    (keep-rate ~1/3 → dropped WHOLESALE, clean docs included — the
    point of the verb), and sources with ``source_num % 5 == 4`` get a
    1-in-5 blob dose (rate 4/5 ≥ 3/4 → survive WITH their blobs, ready
    for doc-grain filtering downstream).

    Scale shape: flags are a pure map; the gate is ONE group agg
    (map-side partial count/count_if) + a broadcast LEFT SEMI back —
    no window, no rate floats
    (``test_keep_rate_filter_is_agg_plus_semi_join``)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    blob = ((did % 20).isin(1, 7) & (did % 3 != 0)) | (did % 25 == 4)
    planted = F.when(
        blob, F.repeat(F.lit("z"), (50 + (did % 5) * 30).cast("int"))
    ).otherwise(F.col("text"))
    flags = text.char_concentration_flags(
        docs.withColumn("text", planted), append=True
    )
    kept = sampling.keep_rate_filter(flags, "source", "keep", min_rate=(3, 4))
    return kept.select("doc_id", "source", "keep")


_register(
    "pipeline_domain_quality",
    _q_domain_quality,
    """
    WITH fixture AS (
        SELECT doc_id, source,
               CASE WHEN ((doc_id % 20 IN (1, 7) AND doc_id % 3 <> 0)
                          OR doc_id % 25 = 4)
                    THEN repeat('z', CAST(50 + (doc_id % 5) * 30 AS INT))
                    ELSE text END AS text
        FROM documents WHERE doc_id IS NOT NULL
    ), chars AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ''), c -> c <> '')) AS ch
        FROM fixture
    ), counts AS (
        SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ), m AS (
        SELECT doc_id, sum(c) AS n, max(c) AS topc,
               sum(c * (c - 1)) AS num
        FROM counts GROUP BY doc_id
    ), flags AS (
        SELECT f.doc_id, f.source,
               (coalesce(m.n, 0) < 20
                OR (1000 * coalesce(m.num, 0)
                        <= 100 * coalesce(m.n, 0) * (coalesce(m.n, 0) - 1)
                    AND 1000 * coalesce(m.topc, 0)
                        <= 250 * coalesce(m.n, 0))) AS keep
        FROM fixture f LEFT JOIN m USING (doc_id)
    ), rates AS (
        SELECT source, count(*) AS n,
               count(*) FILTER (WHERE keep) AS k
        FROM flags GROUP BY source
    )
    SELECT fl.doc_id, fl.source, fl.keep
    FROM flags fl JOIN rates r ON fl.source IS NOT DISTINCT FROM r.source
    WHERE r.k * 4 >= 3 * r.n
    """,
    headline=True,
)


def _q_snapshot_diff(spark, sf_dir):
    """Snapshot diff (registered r17; staged r16): row-level
    added/removed/changed between two FULL corpus versions when no
    changeset exists — "what changed between crawls", the
    derive-the-delta complement of ``orders_apply_changes``.

    Fixture builds the next crawl from documents: every 7th doc
    removed, every 5th survivor edited (NULL-safe: an edited NULL
    text becomes ``'edited: '`` — NULL→value IS a change), every
    11th doc re-added under a shifted id.  At the 500-doc scales
    that is exactly 72 removed / 85 changed / 46 added = 203 delta
    rows.

    Scale shape: ONE null-safe full-outer equi-join on the key with
    row-local status comparison — sort-merge at 100 TB, co-located
    by bucketing (``test_snapshot_diff_is_one_full_outer_join``)."""
    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    new_kept = base.filter(did % 7 != 0).withColumn(
        "text",
        F.when(
            did % 5 == 0,
            F.concat(F.lit("edited: "), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    added = base.filter(did % 11 == 0).select(
        (did + 1000000).alias("doc_id"), "text"
    )
    new = new_kept.unionByName(added)
    return cdc.snapshot_diff(base, new, ["doc_id"])


_register(
    "pipeline_snapshot_diff",
    _q_snapshot_diff,
    """
    WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id IS NOT NULL
    ), new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN 'edited: ' || coalesce(text, '')
                    ELSE text END AS text
        FROM base WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM base WHERE doc_id % 11 = 0
    )
    SELECT coalesce(n.doc_id, o.doc_id) AS doc_id,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
                ELSE 'unchanged' END AS diff_status
    FROM base o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
                ELSE 'unchanged' END) <> 'unchanged'
    """,
    headline=True,
)


def _q_source_drift(spark, sf_dir):
    """Source-drift trend card (registered r17; the r18 slate's
    trend-card item, pulled forward): per-source exact
    added/removed/changed/unchanged counts between two full crawls —
    "which sources churned", the monitoring row ABOVE
    ``pipeline_snapshot_diff``, via ``cdc.source_drift_card``.

    Fixture extends the snapshot-diff crawl with a SOURCE MOVE leg so
    the card's group semantics are load-bearing: every 13th surviving
    doc is re-labeled ``source || '-mv'`` and must count as removed
    from its old source AND added to the new one (group-move = churn
    on both sides); the existing removal (% 7), edit (% 5) and
    re-add (% 11) legs land in their sources' changed/removed/added
    columns.  Every measure is an exact BIGINT.

    Scale shape: the diff's single null-safe full-outer equi-join
    feeding ONE group aggregation, all counts map-side
    partial-aggregable — no window, no second join
    (``test_source_drift_card_is_join_plus_single_agg``)."""
    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    new_kept = (
        base.filter(did % 7 != 0)
        .withColumn(
            "text",
            F.when(
                did % 5 == 0,
                F.concat(F.lit("edited: "), F.coalesce(F.col("text"), F.lit(""))),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "source",
            F.when(
                did % 13 == 1, F.concat(F.col("source"), F.lit("-mv"))
            ).otherwise(F.col("source")),
        )
    )
    added = base.filter(did % 11 == 0).select(
        (did + 1000000).alias("doc_id"), "source", "text"
    )
    new = new_kept.unionByName(added)
    return cdc.source_drift_card(base, new, ["doc_id"], "source")


_register(
    "pipeline_source_drift",
    _q_source_drift,
    """
    WITH base AS (
        SELECT doc_id, source, text FROM documents WHERE doc_id IS NOT NULL
    ), new AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 1 THEN source || '-mv'
                    ELSE source END AS source,
               CASE WHEN doc_id % 5 = 0
                    THEN 'edited: ' || coalesce(text, '')
                    ELSE text END AS text
        FROM base WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, source, text
        FROM base WHERE doc_id % 11 = 0
    ), st AS (
        SELECT coalesce(n.source, o.source) AS source,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
                    ELSE 'unchanged' END AS s
        FROM base o FULL OUTER JOIN new n
          ON o.doc_id = n.doc_id AND o.source IS NOT DISTINCT FROM n.source
    )
    SELECT source,
           CAST(count(*) FILTER (WHERE s = 'added') AS BIGINT) AS n_added,
           CAST(count(*) FILTER (WHERE s = 'removed') AS BIGINT) AS n_removed,
           CAST(count(*) FILTER (WHERE s = 'changed') AS BIGINT) AS n_changed,
           CAST(count(*) FILTER (WHERE s = 'unchanged') AS BIGINT)
               AS n_unchanged
    FROM st
    GROUP BY source
    """,
    headline=True,
)


def _q_corpus_report(spark, sf_dir):
    """Per-source corpus data card (registered r17; staged r16): the
    one-table accounting a pretraining lab monitors per ingest source
    — doc count, NULL-text count, exact char/token sums, exact
    distinct-content count (whence the dup rate) and the true-count
    of a composed quality flag, every metric an exact BIGINT.

    Fixture layers the realities the card must account for on the
    documents table: junk blobs every 13th doc (single-glyph runs /
    ``'ab '`` cycles — the cycles are IDENTICAL across docs, so the
    distinct count genuinely collapses), empty strings, and NULL
    texts every 17th doc (count as docs, zero chars/tokens, excluded
    from the distinct — SQL COUNT(DISTINCT) semantics).  The flag
    column is the r16 char-concentration ``keep``.

    Scale shape: flags are a pure map feeding ONE source-keyed
    aggregation; every measure except the exact distinct is
    partial-aggregable map-side, and the exact distinct is Spark's
    standard partial-distinct plan — the documented cost of an exact
    dup rate (``test_corpus_report_is_single_group_agg``; swap
    ``exact_distinct=False`` for the HLL tier at 100 TB)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    planted = (
        F.when(did % 17 == 3, F.lit(None).cast("string"))
        .when(did % 13 == 0, F.repeat(F.lit("z"), ((did % 7) * 40 + 40).cast("int")))
        .when(did % 13 == 1, F.repeat(F.lit("ab "), 40))
        .when(did % 13 == 2, F.lit(""))
        .otherwise(F.col("text"))
    )
    flags = text.char_concentration_flags(
        docs.withColumn("text", planted), append=True
    )
    return stats.corpus_report(flags, "source", "text", flag_cols=["keep"])


_register(
    "pipeline_corpus_report",
    _q_corpus_report,
    """
    WITH fixture AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 17 = 3 THEN NULL
                    WHEN doc_id % 13 = 0
                    THEN repeat('z', CAST(40 + (doc_id % 7) * 40 AS INT))
                    WHEN doc_id % 13 = 1 THEN repeat('ab ', 40)
                    WHEN doc_id % 13 = 2 THEN ''
                    ELSE text END AS text
        FROM documents WHERE doc_id IS NOT NULL
    ), chars AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ''), c -> c <> '')) AS ch
        FROM fixture
    ), counts AS (
        SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ), m AS (
        SELECT doc_id, sum(c) AS n, max(c) AS topc,
               sum(c * (c - 1)) AS num
        FROM counts GROUP BY doc_id
    ), flags AS (
        SELECT f.doc_id, f.source, f.text,
               (coalesce(m.n, 0) < 20
                OR (1000 * coalesce(m.num, 0)
                        <= 100 * coalesce(m.n, 0) * (coalesce(m.n, 0) - 1)
                    AND 1000 * coalesce(m.topc, 0)
                        <= 250 * coalesce(m.n, 0))) AS keep
        FROM fixture f LEFT JOIN m USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(text) AS BIGINT) AS n_null_text,
           CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_chars,
           CAST(coalesce(sum(
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> ''))), 0) AS BIGINT) AS sum_tokens,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_keep
    FROM flags
    GROUP BY source
    """,
    headline=True,
)


def _q_quality_card(spark, sf_dir):
    """Composed quality data card (registered r17, r16 verdict item 7):
    the monitoring table a pretraining lab actually tails — per ingest
    source, the full r16 quality battery summarized in ONE aggregation:
    Gopher word-shape keep, within-doc repetition keep, char-
    concentration keep and the C4 blocklist pass, beside the exact
    doc/NULL/char/token/distinct accounting of ``corpus_report``.

    Fixture plants every reality the batteries exist to catch, all
    ROW-LOCALLY (no fixture join — the whole pre-aggregation plan
    stays a pure map): NULL texts every 17th doc (rejected by Gopher,
    passed by the empty-is-keep batteries — both conventions
    load-bearing in the true-counts), single-glyph blobs every 13th
    (char-concentration rejects), and a duplicated-line doubling on
    ``% 4 == 1`` docs (repetition rejects: dup_line_frac = 1/2).

    Scale shape: four flag batteries fused into one codegen'd map
    stage feeding ONE source-keyed aggregation — no join, no window;
    the exact distinct is Spark's standard partial-distinct plan
    (``test_quality_card_is_map_plus_single_agg``)."""
    docs = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    planted = (
        F.when(did % 17 == 3, F.lit(None).cast("string"))
        .when(
            did % 13 == 0,
            F.repeat(F.lit("z"), ((did % 7) * 40 + 40).cast("int")),
        )
        .when(did % 4 == 1, F.concat(F.col("text"), F.lit("\n"), F.col("text")))
        .otherwise(F.col("text"))
    )
    base = docs.withColumn("text", planted)
    g = text.gopher_quality_flags(base, append=True).select(
        "doc_id", "source", "text", F.col("keep").alias("keep_gopher")
    )
    r = text.repetition_flags(g, append=True).select(
        "doc_id", "source", "text", "keep_gopher",
        F.col("keep").alias("keep_repetition"),
    )
    c = text.char_concentration_flags(r, append=True).select(
        "doc_id", "source", "text", "keep_gopher", "keep_repetition",
        F.col("keep").alias("keep_charconc"),
    )
    b = text.blocklist_flags(c, ["dup", "skew"]).withColumn(
        "keep_blocklist", ~F.col("blocked")
    )
    return stats.corpus_report(
        b,
        "source",
        "text",
        flag_cols=[
            "keep_gopher",
            "keep_repetition",
            "keep_charconc",
            "keep_blocklist",
        ],
    )


_QC_FIXTURE_SQL = """
        SELECT doc_id, source,
               CASE WHEN doc_id % 17 = 3 THEN NULL
                    WHEN doc_id % 13 = 0
                    THEN repeat('z', CAST(40 + (doc_id % 7) * 40 AS INT))
                    WHEN doc_id % 4 = 1 THEN text || chr(10) || text
                    ELSE text END AS text
        FROM documents WHERE doc_id IS NOT NULL
"""

_register(
    "pipeline_quality_card",
    _q_quality_card,
    f"""
    WITH fixture AS ({_QC_FIXTURE_SQL}
    ), toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM fixture
    ), gfeat AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(tk, t -> length(t))) AS DOUBLE)
                   / greatest(len(tk), 1) AS mean_word_len,
               CAST(len(list_distinct(tk)) AS DOUBLE)
                   / greatest(len(tk), 1) AS type_token_ratio,
               CAST(list_max(list_transform(
                       list_distinct(tk),
                       w -> len(list_filter(tk, t -> t = w)))) AS DOUBLE)
                   / greatest(len(tk), 1) AS top_word_frac,
               CAST(len(list_filter(
                       list_distinct(tk),
                       t -> list_contains(
                           ['the','a','an','and','or','of','to','in','is',
                            'it','for','on','with','as','by','at','from'],
                           lower(t)))) AS BIGINT) AS stopword_hits
        FROM toks
    ), gkeep AS (
        SELECT doc_id,
               (coalesce(n_words >= 20 AND n_words <= 100000, false)
                AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
                             false)
                AND coalesce(type_token_ratio >= 0.3, false)
                AND coalesce(top_word_frac <= 0.12, false)
                AND coalesce(stopword_hits >= 1, false)) AS keep_gopher
        FROM gfeat
    ), rarrs AS (
        SELECT doc_id,
               coalesce(list_filter(regexp_split_to_array(text, '\\n'),
                                    x -> regexp_matches(x, '[^ \\t\\n\\r]')),
                        []) AS ls,
               coalesce(list_filter(regexp_split_to_array(text, '\\n{{2,}}'),
                                    x -> regexp_matches(x, '[^ \\t\\n\\r]')),
                        []) AS ps
        FROM fixture
    ), rm AS (
        SELECT doc_id,
        {_REP_METRIC_SQL.format(a="ls", p="lines")},
        {_REP_METRIC_SQL.format(a="ps", p="paras")}
        FROM rarrs
    ), rkeep AS (
        SELECT doc_id,
               (coalesce(dup_lines_frac <= 0.30, false)
                AND coalesce(dup_paras_frac <= 0.30, false)
                AND coalesce(dup_lines_char_frac <= 0.20, false)
                AND coalesce(dup_paras_char_frac <= 0.20, false))
                   AS keep_repetition
        FROM rm
    ), cchars AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ''), c -> c <> '')) AS ch
        FROM fixture
    ), ccounts AS (
        SELECT doc_id, ch, count(*) AS c FROM cchars GROUP BY doc_id, ch
    ), cm AS (
        SELECT doc_id, sum(c) AS n, max(c) AS topc,
               sum(c * (c - 1)) AS num
        FROM ccounts GROUP BY doc_id
    ), ckeep AS (
        SELECT f.doc_id,
               (coalesce(cm.n, 0) < 20
                OR (1000 * coalesce(cm.num, 0)
                        <= 100 * coalesce(cm.n, 0) * (coalesce(cm.n, 0) - 1)
                    AND 1000 * coalesce(cm.topc, 0)
                        <= 250 * coalesce(cm.n, 0))) AS keep_charconc
        FROM fixture f LEFT JOIN cm USING (doc_id)
    ), bkeep AS (
        SELECT doc_id,
               NOT coalesce(
                   len(list_filter(
                       list_transform(tk, x -> lower(x)),
                       x -> list_contains(['dup', 'skew'], x))) > 0,
                   false) AS keep_blocklist
        FROM toks
    )
    SELECT f.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(f.text) AS BIGINT) AS n_null_text,
           CAST(coalesce(sum(length(f.text)), 0) AS BIGINT) AS sum_chars,
           CAST(coalesce(sum(
               len(list_filter(regexp_split_to_array(trim(f.text), '\\s+'),
                               x -> x <> ''))), 0) AS BIGINT) AS sum_tokens,
           CAST(count(DISTINCT f.text) AS BIGINT) AS n_distinct_texts,
           CAST(count(*) FILTER (WHERE g.keep_gopher) AS BIGINT)
               AS n_keep_gopher,
           CAST(count(*) FILTER (WHERE r.keep_repetition) AS BIGINT)
               AS n_keep_repetition,
           CAST(count(*) FILTER (WHERE c.keep_charconc) AS BIGINT)
               AS n_keep_charconc,
           CAST(count(*) FILTER (WHERE b.keep_blocklist) AS BIGINT)
               AS n_keep_blocklist
    FROM fixture f
    JOIN gkeep g USING (doc_id)
    JOIN rkeep r USING (doc_id)
    JOIN ckeep c USING (doc_id)
    JOIN bkeep b USING (doc_id)
    GROUP BY f.source
    """,
    headline=True,
)


def _q_embedding_index(spark, sf_dir):
    """Embedding-index maintenance (registered r17): the ANN sibling of
    ``pipeline_index_maintenance`` — today's embedding batch probes
    the STORED hyperplane-LSH index (``embedding_delta_pairs``), its
    near-dups are dropped, the survivors' buckets append as a PURE
    MAP (``merge_delta_into_embedding_index`` — the signature is
    row-local, so the daily append has zero hash exchanges), and
    tomorrow's batch probes the MERGED index.  Day-2 pairs against
    day-1 survivors exist ONLY if the merge preserved their buckets
    — the append is load-bearing in the value hash; merge == rebuild
    is additionally row-for-row asserted
    (``test_merge_embedding_index_equals_rebuild``).

    Fixture soundness is FULLY structural — every oracle pair is an
    exact vector copy (identical vector ⇒ identical signature ⇒
    recall 1): day-1 delta = exact copies of the ``% 3 == 0`` corpus
    third (cosine 1 ⇒ dropped) ∪ NEGATED ``% 5 == 1`` vectors (a
    negated vector's cosine is ≤ −cos_nat against everything, and
    the corpus's max natural pairwise cosine is 0.51–0.60 ≪ the 0.9
    threshold ⇒ all survive, pairwise-apart); day-2 = exact copies
    of the ``% 7 == 2`` corpus slice ∪ exact copies of a survivor
    subset.  No empirical-recall appeal anywhere — at 0.9 the corpus
    has NO natural pairs, so the planted copies are the entire truth
    set.  Pair ids only (the ``dedup_embedding_cosine`` precedent:
    the cosine VALUE is a float quotient engines may round apart).

    Scale shape: both probes are asymmetric stored-index probes —
    corpus vectors are read only through the candidate-semi-filtered
    verify (``test_embedding_delta_probe_is_index_join_plus_candidate_verify``);
    the merge is a delta-sized pure map
    (``test_merge_embedding_index_is_pure_map``)."""
    base = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vid = F.col("vec_id")
    neg = F.transform(F.col("embedding"), lambda x: -x)
    # lazy localCheckpoint, not persist (r20): the
    # pipeline_index_maintenance plan-truncation pattern — index1 is
    # referenced by the day-1 probe, the merge passthrough and day-2;
    # r21: via _lineage_truncate ($SPARK_GRAFT_CHECKPOINT_DIR valve)
    _trunc = _lineage_truncate(spark)
    index1 = _trunc(dedup.embedding_lsh_buckets(base, dim=64))
    copies1 = base.filter(vid % 3 == 0).select(
        (vid + 300000).alias("vec_id"), "embedding"
    )
    news1 = base.filter(vid % 5 == 1).select(
        (vid + 400000).alias("vec_id"), neg.alias("embedding")
    )
    delta1 = copies1.unionByName(news1)
    pairs1 = dedup.embedding_delta_pairs(
        base, delta1, threshold=0.9, dim=64, corpus_buckets=index1
    )
    dropped = pairs1.select(F.col("delta_id").alias("vec_id")).dropDuplicates()
    # lineage-truncate like pipeline_index_maintenance: survivors feed
    # three consumers (merge, verify corpus, day-2 re-delta)
    survivors = _trunc(delta1.join(dropped, on="vec_id", how="left_anti"))
    index2 = dedup.merge_delta_into_embedding_index(index1, survivors, dim=64)
    corpus2 = base.unionByName(survivors)
    copies2 = base.filter(vid % 7 == 2).select(
        (vid + 600000).alias("vec_id"), "embedding"
    )
    redelta = survivors.filter(vid % 3 == 0).select(
        (vid + 300000).alias("vec_id"), "embedding"
    )
    delta2 = copies2.unionByName(redelta)
    out = dedup.embedding_delta_pairs(
        corpus2, delta2, threshold=0.9, dim=64, corpus_buckets=index2
    ).select("delta_id", "corpus_id")
    return out


_register(
    "pipeline_embedding_index",
    _q_embedding_index,
    """
    -- every >=0.9 pair is an exact copy (max natural cosine 0.51-0.60),
    -- so the truth set enumerates structurally; the honest cosine
    -- cross-check below guards the claim rather than assuming it
    WITH corpus2 AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 400000,
               list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
        FROM embeddings WHERE vec_id % 5 = 1
    ), delta2 AS (
        SELECT vec_id + 600000 AS delta_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id % 7 = 2
        UNION ALL
        SELECT vec_id + 700000,
               list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
        FROM embeddings WHERE vec_id % 5 = 1 AND (vec_id + 400000) % 3 = 0
    )
    SELECT d.delta_id, c.vec_id AS corpus_id
    FROM delta2 d JOIN corpus2 c
      ON list_cosine_similarity(d.v, c.v) >= 0.9
    """,
)


# ---------------------------------------------------------------------------
# Round-18 registrations: the staged r18 slate (pre-validated in r17 —
# every oracle below is the DuckDB replay SQL of a green
# tests/test_operators.py::test_*_matches_duckdb_replay, re-pointed at
# the driver's pre-registered table views)
# ---------------------------------------------------------------------------


def _q_edit_distance(spark, sf_dir):
    """Character-grain near-dup dedup (registered r18; staged r17):
    FastSS deletion-neighborhood blocking (provably complete at edit
    distance 1) + exact JVM ``levenshtein`` verify on candidates only
    — the fourth grain of the near-dup family (tokens → MinHash, bits
    → SimHash, vectors → hyperplane LSH, characters → THIS).

    Fixture: 24-char document title prefixes plus planted
    one-substitution typos (+1000000 ids on every ``% 5 == 2`` doc),
    so the truth set mixes planted typos, natural near-titles and
    exact-duplicate prefixes.  Oracle is BRUTE-FORCE levenshtein over
    all C(n,2) pairs — the quadratic luxury only the oracle gets
    (pre-validated at sf0.001/0.01 in-suite and one-off at sf0.1:
    1,390 pairs).

    Scale shape: variant explode is row-local (length+1 fan-out on
    KEY-GRAIN strings — ``max_len`` raises on document-length
    misuse), candidates come from an equi-join on variants, never an
    all-pairs scan (``test_edit_distance_pairs_no_all_pairs``);
    32× replication probe: pairs 32.0×, wall 2.3× (SCALING.md)."""
    base = (
        _read(spark, sf_dir, "documents")
        .select(
            "doc_id",
            # non-ASCII stripped FIRST (identical literal class both engines):
            # DuckDB levenshtein is BYTE-based while Spark's is
            # codepoint-based, so the oracle is exact only over ASCII —
            # a no-op on today's corpus, immunity if it regenerates
            F.lower(
                F.substring(
                    F.trim(
                        F.regexp_replace("text", "[^\\x00-\\x7F]", "")
                    ),
                    1,
                    24,
                )
            ).alias("title"),
        )
        .filter(F.col("doc_id").isNotNull() & F.col("title").isNotNull())
    )
    typos = base.filter(
        (F.col("doc_id") % 5 == 2) & (F.length("title") >= 4)
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("title", 1, 2),
            F.lit("~"),
            F.expr("substring(title, 4)"),
        ).alias("title"),
    )
    return dedup.edit_distance_pairs(base.unionByName(typos), "doc_id", "title")


_register(
    "dedup_edit_distance",
    _q_edit_distance,
    """
    WITH base AS (
        SELECT doc_id, lower(substr(trim(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')), 1, 24)) AS title
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), aug AS (
        SELECT doc_id, title FROM base
        UNION ALL
        SELECT doc_id + 1000000,
               substr(title, 1, 2) || '~' || substr(title, 4)
        FROM base WHERE doc_id % 5 = 2 AND length(title) >= 4
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS edit_distance
    FROM aug a JOIN aug b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= 1
    """,
)


def _q_title_delta(spark, sf_dir):
    """Character-grain stored-index daily loop (registered r18; staged
    r17): day-1 typo batch probes the STORED variant index →
    duplicates dropped → survivors merged (pure-map append) → day-2
    batch probes the MERGED index.  A day-2 pair against a day-1
    survivor exists ONLY if the merge preserved its variants, so the
    append is load-bearing in the value hash (the
    ``pipeline_index_maintenance`` shape).  The stored-index pattern
    now spans ALL FOUR grains (tokens / bits / vectors / characters).

    This row stores the index in the HASHED tier
    (``hash_variants=True`` — fixed 8-byte xxhash64 join keys):
    lossless because hash collisions only add candidates that die in
    the exact levenshtein verify, and the probe/merge auto-detect the
    tier from the stored column type
    (``test_hashed_variant_index_equals_string_tier``) — so the
    driver's value hash covers the hashed tier, not just the string
    tier.  (Bytes caveat measured in SCALING.md's r18 probe: parquet
    compresses short string variants BETTER than high-entropy longs,
    so the hashed artifact is larger on disk at sf0.1 — the tier's
    case is key width in the probe shuffle, and it stays opt-in.)

    Scale shape: both probes are asymmetric — only the delta explodes
    variants, corpus titles are read solely through the
    candidate-semi-filtered verify; the merge is a delta-sized pure
    map.  The index persists and survivors lineage-truncate (the
    catalog.py:9205 planning-cost pattern) because the in-session
    composition embeds the probe DAG twice — the 100 TB shape (stored
    parquet artifacts) sidesteps this entirely."""
    corpus = (
        _read(spark, sf_dir, "documents")
        .select(
            "doc_id",
            # non-ASCII stripped FIRST (identical literal class both engines):
            # DuckDB levenshtein is BYTE-based while Spark's is
            # codepoint-based, so the oracle is exact only over ASCII —
            # a no-op on today's corpus, immunity if it regenerates
            F.lower(
                F.substring(
                    F.trim(
                        F.regexp_replace("text", "[^\\x00-\\x7F]", "")
                    ),
                    1,
                    24,
                )
            ).alias("title"),
        )
        .filter(F.col("doc_id").isNotNull() & F.col("title").isNotNull())
    )
    eligible = corpus.filter(F.length("title") >= 7)
    day1 = (
        eligible.filter(F.col("doc_id") % 5 == 2)
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.substring("title", 1, 2),
                F.lit("~"),
                F.expr("substring(title, 4)"),
            ).alias("title"),
        )
        .unionByName(
            eligible.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.lit("qq# "), F.col("title")).alias("title"),
            )
        )
    )
    # lazy localCheckpoint, not persist (r20): the index is referenced
    # by probe 1, the merge passthrough and probe 2 — truncating its
    # plan keeps the composed day-1/day-2 DAG analysis-cheap (the
    # pipeline_index_maintenance pattern; at 100 TB the index is a
    # stored parquet artifact and this is a no-op); r21: via
    # _lineage_truncate ($SPARK_GRAFT_CHECKPOINT_DIR valve)
    _trunc = _lineage_truncate(spark)
    index = _trunc(
        dedup.title_variant_index(corpus, "doc_id", "title", hash_variants=True)
    )
    p1 = dedup.edit_distance_delta_pairs(
        corpus, day1, "doc_id", "title", corpus_index=index
    )
    survivors = _trunc(
        day1.join(
            p1.select(F.col("delta_id").alias("doc_id")).dropDuplicates(),
            on="doc_id",
            how="left_anti",
        )
    )
    merged_index = dedup.merge_delta_into_variant_index(
        index, survivors, "doc_id", "title"
    )
    merged_titles = corpus.unionByName(survivors)
    day2 = day1.filter(F.col("doc_id") >= 2000000).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.substring("title", 1, 5),
            F.lit("~"),
            F.expr("substring(title, 7)"),
        ).alias("title"),
    )
    out = dedup.edit_distance_delta_pairs(
        merged_titles, day2, "doc_id", "title", corpus_index=merged_index
    )
    return out


_register(
    "pipeline_title_delta",
    _q_title_delta,
    """
    WITH corpus AS (
        SELECT doc_id, lower(substr(trim(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')), 1, 24)) AS title
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), day1 AS (
        SELECT doc_id + 1000000 AS doc_id,
               substr(title, 1, 2) || '~' || substr(title, 4) AS title
        FROM corpus WHERE doc_id % 5 = 2 AND length(title) >= 7
        UNION ALL
        SELECT doc_id + 2000000, 'qq# ' || title
        FROM corpus WHERE doc_id % 7 = 3 AND length(title) >= 7
    ), p1 AS (
        SELECT DISTINCT d.doc_id AS delta_id
        FROM day1 d JOIN corpus c ON levenshtein(d.title, c.title) <= 1
    ), survivors AS (
        SELECT * FROM day1 WHERE doc_id NOT IN (SELECT delta_id FROM p1)
    ), merged AS (
        SELECT doc_id, title FROM corpus
        UNION ALL
        SELECT doc_id, title FROM survivors
    ), day2 AS (
        SELECT doc_id + 2000000 AS doc_id,
               substr(title, 1, 5) || '~' || substr(title, 7) AS title
        FROM day1 WHERE doc_id >= 2000000
    )
    SELECT d.doc_id AS delta_id, m.doc_id AS corpus_id,
           CAST(levenshtein(d.title, m.title) AS INTEGER) AS edit_distance
    FROM day2 d JOIN merged m ON levenshtein(d.title, m.title) <= 1
    """,
    headline=True,
)


def _q_image_keep(spark, sf_dir):
    """Image-grain keep-one canonical election (registered r18; staged
    r17): ``image_near_dup_pairs`` (FNV fake-decode phash → pigeonhole
    Hamming join — same fixture as ``pipeline_image_dedup``) composed
    with ``keep_one_from_pairs``, giving the multimodal stack the same
    keep-one semantics the text/LSH stacks have.

    Oracle derives the pair set by BRUTE FORCE (HUGEINT FNV fold +
    ``bit_count(xor())`` over all C(n,2) pairs) and resolves
    components with a WITH RECURSIVE min-label closure — sound even if
    a stray cross-group pair appears at a new scale; on this fixture
    components are exactly the payload groups of 4
    (``test_image_keep_one_matches_duckdb_replay`` asserts the
    structural ground truth independently).

    Scale shape: ONE ``mapInPandas`` decode pass, bucket equi-joins
    for candidates, then min-label propagation rounds-bounded on the
    edge list — never all-pairs, no driver-side closure."""
    n_docs = (
        _read(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .count()
    )
    n = min(2048, n_docs)
    groups = max(1, n // 4)
    assets = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.sha2((F.col("id") % groups).cast("string"), 256)
        .cast("binary")
        .alias("payload"),
    )
    pairs = multimodal.image_near_dup_pairs(assets, max_hamming=6, fake=True)
    return dedup.keep_one_from_pairs(
        assets.select("asset_id"), pairs, id_col="asset_id"
    )


_register(
    "pipeline_image_keep",
    _q_image_keep,
    """
    WITH RECURSIVE params AS (
        SELECT least(2048, count(*)) AS n
        FROM documents WHERE doc_id IS NOT NULL
    ), assets AS (
        SELECT range::BIGINT AS asset_id,
               sha256(CAST(range % greatest(1, (SELECT n FROM params) // 4)
                           AS VARCHAR)) AS hex
        FROM range(2048)
        WHERE range < (SELECT n FROM params)
    ), fnv AS (
        SELECT asset_id,
               list_reduce(
                   list_prepend(
                       CAST(14695981039346656037 AS HUGEINT),
                       [CAST(ord(substr(hex, i, 1)) AS HUGEINT)
                        FOR i IN range(1, len(hex) + 1)]),
                   (h, b) -> (xor(h, b) * 1099511628211)
                             % 18446744073709551616
               ) AS h
        FROM assets
    ), ph AS (
        SELECT asset_id, CAST(h // 2 AS BIGINT) AS phash FROM fnv
    ), pr AS (
        SELECT a.asset_id AS ia, b.asset_id AS ib
        FROM ph a JOIN ph b ON a.asset_id < b.asset_id
        WHERE bit_count(xor(a.phash, b.phash)) <= 6
    ), edges AS (
        SELECT ia AS a, ib AS b FROM pr
        UNION ALL
        SELECT ib, ia FROM pr
    ), reach(a, b) AS (
        SELECT asset_id, asset_id FROM ph
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), labels AS (
        SELECT a AS asset_id, min(b) AS cluster_id FROM reach GROUP BY a
    )
    SELECT asset_id, cluster_id, asset_id = cluster_id AS keep
    FROM labels
    """,
)


def _q_centroid_index(spark, sf_dir):
    """IVF-tier index maintenance (registered r18; staged r17): assign
    the embeddings corpus to its nearest stored centroid, then append
    a day-1 delta with arrival-sized work
    (``merge_into_centroid_index`` — the corpus is never rescanned,
    the quantizer never refit).  Centroids are the ``% 37`` corpus
    rows (cid = vec_id, 14/14/55 at the three scales — inside the
    512-row literal tier; ``fit_kmeans`` is the tier beyond); the
    delta is the ``% 7 == 3`` slice re-keyed +500000, exact vector
    copies that must land on their sources' centroids by
    construction.

    Oracle recomputes the exact squared-distance argmin; the argmin
    is hash-safe because the min relative best/second-best gap is
    ≥2.1e-6 across scales — ≥8 orders above cross-engine double-fold
    drift — and PINNED by the margin guard in
    ``test_assign_to_centroids_matches_duckdb_replay``.  ``sq_dist``
    stays OUT of the output (the float-quotient hashing precedent).

    Scale shape: pure map — centroids compile into the plan as
    literals (O(k×dim) per row in codegen), zero Exchange, zero
    Python (``test_assign_to_centroids_is_pure_map``)."""
    corpus = (
        _read(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
    )
    cents = corpus.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("centroid")
    )
    delta = corpus.filter(F.col("vec_id") % 7 == 3).select(
        (F.col("vec_id") + 500000).alias("vec_id"), "embedding"
    )
    index = similarity.assign_to_centroids(corpus, cents, dim=64)
    return similarity.merge_into_centroid_index(index, delta, cents, dim=64)


_register(
    "pipeline_centroid_index",
    _q_centroid_index,
    """
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
    ), aug AS (
      SELECT vec_id, v FROM corpus
      UNION ALL
      SELECT vec_id + 500000, v FROM corpus WHERE vec_id % 7 = 3
    ), cents AS (
      SELECT vec_id AS cid, v AS c FROM corpus WHERE vec_id % 37 = 0
    ), d AS (
      SELECT aug.vec_id, cents.cid,
             list_sum([ (v[i]-c[i])*(v[i]-c[i])
                        FOR i IN range(1, len(v)+1) ]) AS dist
      FROM aug CROSS JOIN cents
    )
    SELECT vec_id, cid AS centroid_id FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cid) AS rn
      FROM d
    ) WHERE rn = 1
    """,
)


def _q_quantile_drift(spark, sf_dir):
    """Metric-distribution drift card (registered r18; staged r17) —
    the third leg of the monitoring trilogy (``pipeline_snapshot_diff``
    = row churn, ``pipeline_source_drift`` = source mix, THIS =
    distribution shift): per-source exact discrete percentiles of
    document char-length in two crawls side by side, with counts.
    Fixture is the standard crawl churn (every 7th doc removed, every
    5th survivor edited with a prefix, every 11th re-added).  Every
    output is an exact BIGINT (counts and ``percentile_disc``
    elements), so the card hashes with no float caveat; the replay
    test guards the one divergence edge (an all-NULL-text source).

    Scale shape: ONE group-keyed aggregation per side (exact
    percentile buffers spill; ``exact=False`` is the mergeable
    t-digest tier for huge groups) + one |groups|-sized broadcast
    card join — no window, no data-grain join; 32× probe 1.1×
    (SCALING.md)."""
    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    did = F.col("doc_id")
    new = (
        base.filter(did % 7 != 0)
        .withColumn(
            "text",
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit("edited: "), F.coalesce(F.col("text"), F.lit(""))
                ),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            base.filter(did % 11 == 0).select(
                (did + 1000000).alias("doc_id"), "source", "text"
            )
        )
    )
    o = base.withColumn("chars", F.length("text").cast("long"))
    n = new.withColumn("chars", F.length("text").cast("long"))
    return stats.quantile_drift(o, n, "chars", ["source"], ps=(0.25, 0.5, 0.9))


_register(
    "pipeline_quantile_drift",
    _q_quantile_drift,
    """
    WITH base AS (
        SELECT doc_id, source, text FROM documents WHERE doc_id IS NOT NULL
    ), new AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 5 = 0
                    THEN 'edited: ' || coalesce(text, '')
                    ELSE text END AS text
        FROM base WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id + 1000000, source, text
        FROM base WHERE doc_id % 11 = 0
    ), ro AS (
        SELECT source, length(text)::BIGINT AS v,
               cume_dist() OVER (PARTITION BY source
                                 ORDER BY length(text)) AS cd
        FROM base WHERE text IS NOT NULL
    ), rn AS (
        SELECT source, length(text)::BIGINT AS v,
               cume_dist() OVER (PARTITION BY source
                                 ORDER BY length(text)) AS cd
        FROM new WHERE text IS NOT NULL
    ), po AS (
        SELECT source,
               min(CASE WHEN cd >= 0.25 THEN v END) AS old_p25,
               min(CASE WHEN cd >= 0.5 THEN v END) AS old_p5,
               min(CASE WHEN cd >= 0.9 THEN v END) AS old_p9
        FROM ro GROUP BY source
    ), pn AS (
        SELECT source,
               min(CASE WHEN cd >= 0.25 THEN v END) AS new_p25,
               min(CASE WHEN cd >= 0.5 THEN v END) AS new_p5,
               min(CASE WHEN cd >= 0.9 THEN v END) AS new_p9
        FROM rn GROUP BY source
    ), co AS (
        -- counts come from the UNFILTERED side, like the engine's
        -- count(value): a source whose metric is all-NULL reports
        -- n=0 with NULL percentiles instead of vanishing (r18 review
        -- hardening of the documented divergence edge)
        SELECT source, count(text)::BIGINT AS n_old
        FROM base GROUP BY source
    ), cn AS (
        SELECT source, count(text)::BIGINT AS n_new
        FROM new GROUP BY source
    ), o2 AS (
        SELECT co.source, n_old, old_p25, old_p5, old_p9
        FROM co LEFT JOIN po ON co.source IS NOT DISTINCT FROM po.source
    ), n2 AS (
        SELECT cn.source, n_new, new_p25, new_p5, new_p9
        FROM cn LEFT JOIN pn ON cn.source IS NOT DISTINCT FROM pn.source
    )
    SELECT coalesce(o2.source, n2.source) AS source,
           n_old, n_new, old_p25, old_p5, old_p9, new_p25, new_p5, new_p9
    FROM o2 FULL OUTER JOIN n2 ON o2.source IS NOT DISTINCT FROM n2.source
    """,
    headline=True,
)


def _duck_ent_chain(expr: str) -> str:
    """The DuckDB replay of html_to_text's fixed entity-decode chain
    (amp LAST — the documented single-decode semantics)."""
    chain = expr
    for entity, ch in text.HTML_ENTITIES:
        lit = entity.replace("'", "''")
        chl = ch.replace("'", "''")
        chain = f"replace({chain}, '{lit}', '{chl}')"
    return chain


def _q_html_extract(spark, sf_dir):
    """Crawl-front HTML → text extraction (registered r18; staged
    r17): the WET step every crawl pipeline runs before any quality /
    dedup verb.  HTML is synthesized ROW-LOCALLY from the real
    documents table (tag wrapping, planted script/style/comment
    blocks, entity-escaped text), extracted by the engine's FIXED
    Java/RE2-common regex chain (explicit whitespace class — the VT
    lesson; amp-last entity decode) and replayed by DuckDB with the
    SAME chain — byte-exact per doc, an honest engine-exactness scope
    rather than a parser claim.

    Scale shape: pure map — regexp_replace chain + trim, zero
    Exchange, zero Python (``test_html_to_text_is_pure_map``);
    adversarial Java/RE2 fuzz incl. whitespace-class divergences in
    ``test_html_to_text_cross_engine_fuzz``."""
    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    did = F.col("doc_id")
    page = F.concat(
        F.lit(
            "<html><head><title>doc </title>"
            "<style>.x{k:v}</style>"
            "<script>ignore('<b>me</b>')</script></head><body><p>"
        ),
        F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
        F.lit("</p><!-- c -->"),
        F.when(did % 3 == 0, F.lit("<div>extra &lt;tail&gt;</div>")).otherwise(
            F.lit("")
        ),
        F.lit("</body></html>"),
    )
    return text.html_to_text(base.withColumn("text", page))


_register(
    "doc_html_extract",
    _q_html_extract,
    f"""
    WITH base AS (
        SELECT doc_id,
               '<html><head><title>doc </title><style>.x{{k:v}}</style>'
               || '<script>ignore(''<b>me</b>'')</script></head><body><p>'
               || replace(text, '&', '&amp;') || '</p><!-- c -->'
               || CASE WHEN doc_id % 3 = 0
                       THEN '<div>extra &lt;tail&gt;</div>' ELSE '' END
               || '</body></html>' AS page
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), stripped AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(page, '{text.HTML_SCRIPT_RE}', ' ', 'g'),
                     '{text.HTML_STYLE_RE}', ' ', 'g'),
                   '{text.HTML_COMMENT_RE}', ' ', 'g'),
                 '{text.HTML_TAG_RE}', ' ', 'g') AS p
        FROM base
    )
    SELECT doc_id,
           trim(regexp_replace({_duck_ent_chain("p")},
                '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), ' ') AS text
    FROM stripped
    """,
    headline=True,
)


def _q_outlink_census(spark, sf_dir):
    """Outlink census (registered r18; staged r17): the link-graph
    front half — ``extract_urls`` (fixed Java/RE2-common regex,
    explicit whitespace class) → ``canonicalize_urls`` (tracking
    params, default ports, www, fragments, path normal form) →
    per-registrable-domain (n_links, n_docs) census.  URLs are
    planted row-locally: the seven ``site{N}.example.com`` subdomains
    must COLLAPSE to one registrable domain while the five
    ``mirror{N}.org`` domains stay distinct — both load-bearing in
    the value hash.

    Scale shape: extraction is a row-local
    ``regexp_extract_all``+explode (zero Exchange, zero Python —
    ``test_extract_urls_is_pure_map``); canonicalization is a pure
    map; the census is ONE map-side-partial group agg."""
    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )
    did = F.col("doc_id")
    # scrub any NATURAL lowercase 'http' from the raw text before
    # planting (an identical literal replace on both engines): the
    # oracle replays registrable-domain derivation with the simple
    # last-two-labels rule, which is exact for the PLANTED hosts but
    # not for arbitrary corpus URLs (ccTLD second-levels, parse
    # rejects) — the fixture guarantees planted-only extraction, so
    # the row stays green under any future corpus regeneration
    # (r18 review find; the extraction regex is case-sensitive, so
    # only lowercase 'http' can match)
    scrubbed = F.replace(F.col("text"), F.lit("http"), F.lit("hxxp"))
    planted = F.concat(
        scrubbed,
        F.lit(" see https://WWW.Site"),
        (did % 7).cast("string"),
        F.lit(".example.com:443/a//b/?utm_source=x&id="),
        (did % 13).cast("string"),
        F.lit("#frag."),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" also (http://mirror"),
                (did % 5).cast("string"),
                F.lit(".org/path/)"),
            ),
        ).otherwise(F.lit("")),
    )
    docs = base.withColumn("text", planted)
    links = urls.canonicalize_urls(urls.extract_urls(docs))
    return links.groupBy("registrable_domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


_register(
    "pipeline_outlink_census",
    _q_outlink_census,
    """
    WITH docs AS (
        SELECT doc_id,
               replace(text, 'http', 'hxxp')
                    || ' see https://WWW.Site' || (doc_id % 7)
                    || '.example.com:443/a//b/?utm_source=x&id='
                    || (doc_id % 13) || '#frag.'
                    || CASE WHEN doc_id % 3 = 0
                            THEN ' also (http://mirror' || (doc_id % 5)
                                 || '.org/path/)'
                            ELSE '' END AS text
        FROM documents
        WHERE doc_id IS NOT NULL AND text IS NOT NULL
    ), hits AS (
        SELECT doc_id,
               regexp_replace(
                   unnest(regexp_extract_all(
                       text,
                       'https?://[^ \\t\\n\\r\\f\\x0B<>"''\\)\\]\\}]+')),
                   '[.,;:!?]+$', '') AS url
        FROM docs
    ), parsed AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS hostport
        FROM hits
    ), hosts AS (
        SELECT doc_id,
               CASE WHEN starts_with(
                        regexp_replace(hostport, ':[0-9]+$', ''), 'www.')
                    THEN substr(regexp_replace(hostport, ':[0-9]+$', ''), 5)
                    ELSE regexp_replace(hostport, ':[0-9]+$', '') END AS host
        FROM parsed
    ), doms AS (
        SELECT doc_id,
               CASE WHEN len(string_split(host, '.')) >= 2
                    THEN array_to_string(
                        string_split(host, '.')[-2:], '.')
                    ELSE host END AS registrable_domain
        FROM hosts
    )
    SELECT registrable_domain,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM doms
    GROUP BY registrable_domain
    """,
)


def _q_html_ingest(spark, sf_dir):
    """Crawl ingest front composed end to end (registered r18; the
    optional 8th slate row): row-locally synthesized HTML pages (NULL
    text stays a NULL page, plus every 17th doc planted NULL — the
    ``pipeline_corpus_report`` convention, so the card's NULL-page
    accounting is load-bearing) → ``html_to_text`` extraction →
    ``corpus_report`` per-source card of the EXTRACTED text.  One
    hash verifies the regex chain and the card arithmetic together —
    the extraction verb is load-bearing inside a registered
    composition the way ``pipeline_quality_card`` is for the flag
    batteries; every metric is an exact BIGINT.

    Scale shape: extraction is a pure map; the card is ONE group agg
    (map-side partials; n_distinct_texts is the one exact-distinct
    leg — the documented card cost)."""
    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .filter(F.col("doc_id").isNotNull())
    )
    page = F.when(
        F.col("text").isNotNull() & (F.col("doc_id") % 17 != 3),
        F.concat(
            F.lit(
                "<html><head><style>.x{k:v}</style>"
                "<script>s('<p>skip</p>')</script></head><body><p>"
            ),
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("</p><!-- c --></body></html>"),
        ),
    )
    extracted = text.html_to_text(base.withColumn("text", page))
    return stats.corpus_report(extracted, "source", "text")


_register(
    "pipeline_html_ingest",
    _q_html_ingest,
    f"""
    WITH pages AS (
        SELECT doc_id, source,
               CASE WHEN text IS NULL OR doc_id % 17 = 3 THEN NULL
                    ELSE '<html><head><style>.x{{k:v}}</style>'
                         || '<script>s(''<p>skip</p>'')</script>'
                         || '</head><body><p>'
                         || replace(text, '&', '&amp;')
                         || '</p><!-- c --></body></html>' END AS page
        FROM documents WHERE doc_id IS NOT NULL
    ), stripped AS (
        SELECT doc_id, source,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(page, '{text.HTML_SCRIPT_RE}', ' ', 'g'),
                     '{text.HTML_STYLE_RE}', ' ', 'g'),
                   '{text.HTML_COMMENT_RE}', ' ', 'g'),
                 '{text.HTML_TAG_RE}', ' ', 'g') AS p
        FROM pages
    ), extracted AS (
        SELECT doc_id, source,
               trim(regexp_replace({_duck_ent_chain("p")},
                    '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), ' ') AS text
        FROM stripped
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(text) AS BIGINT) AS n_null_text,
           CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS sum_chars,
           CAST(coalesce(sum(
               len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                               x -> x <> ''))), 0) AS BIGINT)
               AS sum_tokens,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
    FROM extracted
    GROUP BY source
    """,
)
