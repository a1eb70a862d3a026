"""The two workloads and their seeded draws.

A draw is plain data: the list of operations one pass runs, in order.  The
seed fixes which scripts or queries are drawn and the rows the provenance
questions ask about; the program only ever receives the drawn scripts and
the fixed sf 0.01 test tables.

Each workload runs a fixed core first, in a fixed order, then a small seeded
draw from a pool of operations of similar cost.  The core carries most of
the time, so a different seed changes what runs without moving the pass
time by more than the noise; the fixed order keeps the first-execution
(cold) costs on the same operations.  A warm pass takes about
``WARM_PASS_S`` seconds on 4 cores.

* ``provenance_audit``: DTL scripts run file to file (the paper's product)
  and row-level provenance (its core).  Core: TPC-H q5 (six IMPORTs, a
  six-way join); the catalog's trace script untraced, then traced into a
  fresh ``FileSystemTracer`` directory; one ``why`` and one ``where_used``
  question over that trace.  Draw: one single-statement DTL script from
  the join, group and projection family, and the rows the questions ask
  about.  Only the trace script is traced: tracing the drawn script too
  cost a sixth of the run for no layer the trace script does not cover.
* ``pipelines``: catalog queries built on the operator library, called and
  then counted.  Core: ``doc_dsir_weights`` (eager construct jobs) and
  ``embed_knn_classify`` (a heavy action).  Draw: one cheap operator or
  ``events_*`` streaming query.  The ROADMAP's heavy ``pipeline_*``
  queries take 4-7 s each warm on 4 cores and do not fit a run.
"""

from __future__ import annotations

import random

import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOADS = ("provenance_audit", "pipelines")

#: Nominal length of one warm pass on 4 cores; ``--seconds`` buys
#: ``round(seconds / WARM_PASS_S)`` warm passes, at least one.
WARM_PASS_S = 5.0

TPCH_SCRIPT = "dtl_q5_local_supplier"

PIPELINE_CORE = ("doc_dsir_weights", "embed_knn_classify")
#: Headline operator and ``events_*`` streaming queries that take at most
#: 0.36 s warm at sf 0.01 on 4 cores: a draw among them moves the pass's
#: CPU time by a few percent at most (a pool up to 0.8 s moved it by 20 %).
CHEAP_QUERIES = (
    "doc_chunks",
    "doc_pii_scrub",
    "doc_token_count",
    "doc_vocabulary",
    "embed_quantize_int8",
    "events_asof_join",
    "events_inter_arrival",
    "events_ohlc",
    "events_props_extract",
    "events_session_windows",
    "events_tumbling_stats",
    "lineitem_rollup",
    "orders_key_profile",
    "orders_running_total",
    "orders_status_cube",
    "orders_topn_per_customer",
    "pipeline_c4_clean",
)

TRACE_SCRIPT = "trace_script"
#: The trace script keeps orders above this price (its WHERE clause).
TRACE_PRICE_FLOOR = 100000.0


def dtl_scripts() -> dict[str, tuple[str, str, str]]:
    """``{name: (script, export, oracle_sql)}`` for every catalog DTL
    script run in unordered mode with a DuckDB oracle.  The script text is
    read from the catalog's ``_dtl`` closure, so the benchmark runs exactly
    what the catalog runs."""
    from python_dtl_spark.catalog import QUERIES

    out = {}
    for name, q in QUERIES.items():
        fn = q.fn
        if fn.__qualname__ != "_dtl.<locals>.fn" or q.oracle is None:
            continue
        cells = dict(
            zip(fn.__code__.co_freevars, (c.cell_contents for c in fn.__closure__))
        )
        out[name] = (cells["script"], cells["output"], q.oracle)
    return out


def trace_script() -> str:
    from python_dtl_spark.catalog import _TRACE_SCRIPT

    return _TRACE_SCRIPT


def single_statement_scripts() -> list[str]:
    """The catalog's non-TPC-H DTL scripts made of one IMPORT, one
    statement and one EXPORT, over small tables: drawing any of them costs
    about the same (TPC-H q1 and q6 also have this shape but read the
    60,000-row lineitem table)."""
    from python_dtl_spark.lang import parse

    return sorted(
        name
        for name, (script, _export, _sql) in dtl_scripts().items()
        if len(parse(script).statements) == 3
        and not (name.startswith("dtl_q") and name[5:6].isdigit())
    )


def draw(workload: str, seed: int, data_dir: str) -> list[tuple]:
    """One pass of ``workload`` for ``seed``: a list of ``(kind, arg)``.

    Kinds: ``dtl`` (a catalog DTL script, file to file), ``query`` (a
    catalog query, counted), ``untraced``/``traced`` (a DTL script or
    ``TRACE_SCRIPT``), ``why`` (an ``o_custkey``) and ``where`` (an
    ``o_orderkey``).
    """
    rng = random.Random(f"{workload}:{seed}")
    if workload == "provenance_audit":
        orders = pq.read_table(
            f"{data_dir}/orders.parquet",
            columns=["o_orderkey", "o_custkey", "o_totalprice"],
        )
        priced = orders.filter(pc.greater(orders["o_totalprice"], TRACE_PRICE_FLOOR))
        custkeys = sorted(set(priced["o_custkey"].to_pylist()))
        drawn = rng.choice(single_statement_scripts())
        return [
            ("dtl", TPCH_SCRIPT),
            ("untraced", TRACE_SCRIPT),
            ("traced", TRACE_SCRIPT),
            ("why", rng.choice(custkeys)),
            ("where", rng.choice(orders["o_orderkey"].to_pylist())),
            ("dtl", drawn),
        ]
    if workload == "pipelines":
        names = list(PIPELINE_CORE) + rng.sample(CHEAP_QUERIES, 1)
        return [("query", n) for n in names]
    raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
