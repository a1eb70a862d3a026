"""Running one operation, and checking its output outside the timed region.

Every operation kind has a runner (the timed part) and a checker (untimed).
The first execution of an operation in a run is compared with its DuckDB
reference; later executions must reproduce the first one's output hash or
row count.  A runner that raises is a failed operation: it is counted, its
error kept, and the run goes on.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from python_dtl_spark import runtime
from python_dtl_spark.catalog import QUERIES
from python_dtl_spark.lang.lexer import tokenize
from python_dtl_spark.lineage import TraceReader
from python_dtl_spark.operators.dedup import release_all_cached
from scripts.check_oracle import compare

import workloads
from cputime import cpu_seconds
from workloads import TRACE_PRICE_FLOOR, TRACE_SCRIPT


@dataclass
class Sample:
    """One execution of one operation."""

    op: str
    pass_no: int
    spanned: bool
    seconds: float | None = None  # None when the runner raised
    cpu_s: float | None = None  # CPU time of the process tree, JIT excluded
    jit_cpu_s: float | None = None  # CPU time of the JVM's JIT compiler
    error: str | None = None
    problems: list[str] = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    persisted_rdds: int = 0
    leftover_dirs: int = 0


class Context:
    """What operations share within one run: the session, the inputs, the
    references the first executions established, and per-pass state (the
    untraced export hashes and the trace directory of the current pass)."""

    def __init__(self, spark, data_dir: str, tmp_dir: str, out_dir: str, duck):
        self.spark = spark
        self.data_dir = data_dir
        self.tmp_dir = tmp_dir  # the program's TMPDIR
        self.out_dir = out_dir  # the benchmark's own outputs and traces
        self.duck = duck
        self.spans = None
        self.scripts = workloads.dtl_scripts()
        self.scripts[TRACE_SCRIPT] = (workloads.trace_script(), "by_cust", None)
        self.reference: dict[str, object] = {}
        self.pass_state: dict = {}

    def new_pass(self) -> None:
        for path in self.pass_state.get("cleanup", []):
            shutil.rmtree(path, ignore_errors=True)
        self.pass_state = {"hashes": {}, "cleanup": []}

    def close(self) -> None:
        self.new_pass()


def _frame_hash(df) -> str:
    """Order-insensitive content hash of a pandas frame."""
    cols = sorted(df.columns)
    rows = sorted(repr(r) for r in df[cols].itertuples(index=False))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def _read_exports(out: str) -> dict:
    return {
        name.rsplit(".", 1)[0]: pq.read_table(os.path.join(out, name)).to_pandas()
        for name in sorted(os.listdir(out))
    }


# -- runners (timed) ------------------------------------------------------------


def _run_script(ctx: Context, name: str, traced: bool):
    out = tempfile.mkdtemp(prefix="out_", dir=ctx.out_dir)
    trace = tempfile.mkdtemp(prefix="trace_", dir=ctx.out_dir) if traced else None
    ctx.pass_state["cleanup"] += [p for p in (out, trace) if p]
    runtime.run_files(
        ctx.scripts[name][0],
        spark=ctx.spark,
        input_dir=ctx.data_dir,
        output_dir=out,
        trace_dir=trace,
    )
    return out, trace


def _run_query(ctx: Context, name: str):
    spans = ctx.spans
    with spans.phase("construct") if spans else contextlib.nullcontext():
        df = QUERIES[name].fn(ctx.spark, ctx.data_dir)
    if spans:
        spans.frames.append(df)
    with spans.phase("action") if spans else contextlib.nullcontext():
        n = df.count()
    return df, n


def _reader(ctx: Context) -> TraceReader:
    trace = ctx.pass_state.get("trace")
    if trace is None:
        raise RuntimeError("no trace of the trace script in this pass")
    return TraceReader(ctx.spark, trace)


def _run_why(ctx: Context, custkey: int):
    reader = _reader(ctx)
    rows = reader.snapshot("by_cust").filter(F.col("o_custkey") == custkey)
    df = reader.why("by_cust", "orders", rows)
    return df, df.count()


def _run_where(ctx: Context, orderkey: int):
    reader = _reader(ctx)
    rows = reader.snapshot("orders").filter(F.col("o_orderkey") == orderkey)
    df = reader.where_used("orders", "by_cust", rows)
    return df, df.count()


# -- checkers (untimed) ---------------------------------------------------------


def _oracle(ctx: Context, key: str, sql: str):
    cached = ctx.reference.get(("oracle", key))
    if cached is None:
        cached = ctx.reference[("oracle", key)] = ctx.duck.execute(sql).df()
    return cached


def _check_script(ctx: Context, kind: str, name: str, handle) -> list[str]:
    out, trace = handle
    frames = _read_exports(out)
    hashes = {t: _frame_hash(df) for t, df in frames.items()}
    key = f"{kind}:{name}"
    problems = []
    if kind == "traced":
        if hashes != ctx.pass_state["hashes"].get(name):
            problems.append("traced exports differ from untraced exports")
        if name == TRACE_SCRIPT:
            ctx.pass_state["trace"] = trace
        return problems
    ctx.pass_state["hashes"][name] = hashes
    if key in ctx.reference:
        if hashes != ctx.reference[key]:
            problems.append("exports differ from the first execution's")
        return problems
    ctx.reference[key] = hashes
    _script, export, sql = ctx.scripts[name]
    got = frames[export]
    if name == TRACE_SCRIPT:
        # sums of doubles may differ in the last bits between engines:
        # compare the exact columns
        got = got[["o_custkey", "n_orders"]]
        sql = (
            "SELECT o_custkey, count(o_orderkey) AS n_orders FROM orders "
            f"WHERE o_totalprice > {TRACE_PRICE_FLOOR} GROUP BY o_custkey"
        )
    return compare(name, got, _oracle(ctx, name, sql))


def _check_counted(ctx: Context, key: str, n: int, first_check) -> list[str]:
    if key in ctx.reference:
        ref = ctx.reference[key]
        return [] if n == ref else [f"{n} rows, first execution had {ref}"]
    ctx.reference[key] = n
    return first_check()


def _check_query(ctx: Context, name: str, handle) -> list[str]:
    df, n = handle
    sql = QUERIES[name].oracle
    return _check_counted(
        ctx,
        f"query:{name}",
        n,
        lambda: compare(name, df.toPandas(), _oracle(ctx, name, sql)),
    )


def _check_why(ctx: Context, custkey: int, handle) -> list[str]:
    df, n = handle
    sql = (
        f"SELECT * FROM orders WHERE o_custkey = {custkey} "
        f"AND o_totalprice > {TRACE_PRICE_FLOOR}"
    )
    return _check_counted(
        ctx,
        f"why:{custkey}",
        n,
        lambda: compare(
            "why", df.drop("__rid").toPandas(), _oracle(ctx, f"why:{custkey}", sql)
        ),
    )


def _check_where(ctx: Context, orderkey: int, handle) -> list[str]:
    df, n = handle
    sql = (
        f"SELECT o_custkey FROM orders WHERE o_orderkey = {orderkey} "
        f"AND o_totalprice > {TRACE_PRICE_FLOOR}"
    )
    return _check_counted(
        ctx,
        f"where:{orderkey}",
        n,
        lambda: compare(
            "where",
            df.select("o_custkey").toPandas(),
            _oracle(ctx, f"where:{orderkey}", sql),
        ),
    )


def _run(ctx: Context, kind: str, arg):
    if kind in ("dtl", "untraced"):
        return _run_script(ctx, arg, traced=False)
    if kind == "traced":
        return _run_script(ctx, arg, traced=True)
    if kind == "query":
        return _run_query(ctx, arg)
    if kind == "why":
        return _run_why(ctx, arg)
    if kind == "where":
        return _run_where(ctx, arg)
    raise ValueError(f"unknown operation kind {kind!r}")


def _check(ctx: Context, kind: str, arg, handle) -> list[str]:
    if kind in ("dtl", "untraced", "traced"):
        return _check_script(ctx, kind, arg, handle)
    if kind == "query":
        return _check_query(ctx, arg, handle)
    if kind == "why":
        return _check_why(ctx, arg, handle)
    return _check_where(ctx, arg, handle)


def execute(ctx: Context, spec: tuple, pass_no: int, spanned: bool) -> Sample:
    """Run one operation, time it, then check it and measure leaks."""
    kind, arg = spec
    sample = Sample(op=f"{kind}:{arg}", pass_no=pass_no, spanned=spanned)
    sc = ctx.spark.sparkContext
    tmp_before = set(os.listdir(ctx.tmp_dir))
    rdds_before = len(sc._jsc.getPersistentRDDs())
    spans = ctx.spans if spanned else None
    if spans:
        spans.begin_op(f"p{pass_no}:{sample.op}")
    handle = None
    cpu0, jit0 = cpu_seconds()
    t0 = time.perf_counter()
    try:
        handle = _run(ctx, kind, arg)
        sample.seconds = time.perf_counter() - t0
        cpu1, jit1 = cpu_seconds()
        sample.cpu_s, sample.jit_cpu_s = cpu1 - cpu0, jit1 - jit0
    except Exception:  # one failing operation must not end the run
        sample.error = traceback.format_exc(limit=4)[-2000:]
    finally:
        if spans:
            sample.layers = dict(spans.end_op())
    if handle is not None:
        try:
            if spans:
                script = kind in ("dtl", "untraced", "traced")
                for df in spans.frames:
                    for k, v in spans.catalyst(df).items():
                        if k == "plan_nodes":
                            if not script:
                                continue
                            k = "compiler.plan_nodes"
                        sample.layers[k] = sample.layers.get(k, 0) + v
                if script:
                    sample.layers["lang.tokens"] = len(tokenize(ctx.scripts[arg][0]))
            sample.problems = _check(ctx, kind, arg, handle)
        except Exception:  # a checker crash is a failed check, not a crash
            sample.problems = ["check raised: " + traceback.format_exc(limit=4)[-1500:]]
    release_all_cached(ctx.spark)
    sample.persisted_rdds = max(0, len(sc._jsc.getPersistentRDDs()) - rdds_before)
    sample.leftover_dirs = len(set(os.listdir(ctx.tmp_dir)) - tmp_before)
    return sample
